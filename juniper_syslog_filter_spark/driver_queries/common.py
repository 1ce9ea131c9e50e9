"""The query registry and the definitions several families share: the
synthesized syslog message over ``events`` (Spark column and SQL text)
and the MinHash-LSH candidate CTE."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import load_table
from ..operators import dedup as D


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(*, oracle: str | None):
    """Register ``q_<name>`` as ``QUERIES[name]`` and its DuckDB twin as
    ``ORACLE_SQL[name]``; ``oracle=None`` marks a rows-only query."""

    def register(fn):
        name = fn.__name__.removeprefix("q_")
        if name in QUERIES:
            raise ValueError(f"query {name!r} registered twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return register


# severity mapping per event_type (the enrich dimension, inline).
_SEV_CASES = [
    ("error", "CRITICAL", 2),
    ("purchase", "WARNING", 4),
    ("signup", "INFO", 6),
    ("click", "NOTICE", 5),
    ("view", "DEBUG", 7),
]


_MSG_SQL = """
    CASE WHEN event_id % 97 = 0
         THEN event_type || '_EVENT: heartbeat keepalive'
         ELSE event_type || '_EVENT: observed ' ||
              CASE event_id % 3
                WHEN 0 THEN '10.' || (user_id % 256)::VARCHAR || '.' || (event_id % 256)::VARCHAR || '.' || (event_id % 254 + 1)::VARCHAR
                WHEN 1 THEN '172.' || (16 + user_id % 16)::VARCHAR || '.0.' || (event_id % 254 + 1)::VARCHAR
                ELSE '192.168.' || (user_id % 256)::VARCHAR || '.' || (event_id % 254 + 1)::VARCHAR
              END || '/' || (1024 + event_id % 60000)::VARCHAR || ' > ' ||
              CASE WHEN event_id % 5 < 2
                THEN '10.' || (event_id % 200)::VARCHAR || '.7.' || (user_id % 254 + 1)::VARCHAR
                ELSE '203.0.' || (user_id % 256)::VARCHAR || '.' || (event_id % 254 + 1)::VARCHAR
              END || '/' ||
              CASE event_id % 4 WHEN 0 THEN '22' WHEN 1 THEN '80' WHEN 2 THEN '443' ELSE '8080' END ||
              ' protocol=' || CASE event_id % 3 WHEN 0 THEN 'tcp' WHEN 1 THEN 'udp' ELSE 'icmp' END ||
              ' SeverityLevel=' || CASE event_type WHEN 'error' THEN '2' WHEN 'purchase' THEN '4' WHEN 'signup' THEN '6' WHEN 'click' THEN '5' ELSE '7' END ||
              ' Severity=' || CASE event_type WHEN 'error' THEN 'CRITICAL' WHEN 'purchase' THEN 'WARNING' WHEN 'signup' THEN 'INFO' WHEN 'click' THEN 'NOTICE' ELSE 'DEBUG' END
    END
"""


def _msg_col() -> F.Column:
    """Spark twin of :data:`_MSG_SQL` (column name contract: Message)."""
    eid, uid, etype = F.col("event_id"), F.col("user_id"), F.col("event_type")

    def s(c):
        return c.cast("string")

    src = (
        F.when(eid % 3 == 0, F.concat(F.lit("10."), s(uid % 256), F.lit("."), s(eid % 256), F.lit("."), s(eid % 254 + 1)))
        .when(eid % 3 == 1, F.concat(F.lit("172."), s(uid % 16 + 16), F.lit(".0."), s(eid % 254 + 1)))
        .otherwise(F.concat(F.lit("192.168."), s(uid % 256), F.lit("."), s(eid % 254 + 1)))
    )
    dst = F.when(
        eid % 5 < 2,
        F.concat(F.lit("10."), s(eid % 200), F.lit(".7."), s(uid % 254 + 1)),
    ).otherwise(F.concat(F.lit("203.0."), s(uid % 256), F.lit("."), s(eid % 254 + 1)))
    dport = (
        F.when(eid % 4 == 0, "22").when(eid % 4 == 1, "80").when(eid % 4 == 2, "443").otherwise("8080")
    )
    proto = F.when(eid % 3 == 0, "tcp").when(eid % 3 == 1, "udp").otherwise("icmp")
    sev = F.when(etype == "error", "CRITICAL").when(etype == "purchase", "WARNING").when(etype == "signup", "INFO").when(etype == "click", "NOTICE").otherwise("DEBUG")
    lvl = F.when(etype == "error", "2").when(etype == "purchase", "4").when(etype == "signup", "6").when(etype == "click", "5").otherwise("7")

    full = F.concat(
        etype, F.lit("_EVENT: observed "),
        src, F.lit("/"), s(eid % 60000 + 1024),
        F.lit(" > "), dst, F.lit("/"), dport,
        F.lit(" protocol="), proto,
        F.lit(" SeverityLevel="), lvl,
        F.lit(" Severity="), sev,
    )
    return F.when(eid % 97 == 0, F.concat(etype, F.lit("_EVENT: heartbeat keepalive"))).otherwise(full)


def _events_with_msg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The message-synth + extract chain is CPU-bound; the sf-dir events
    # table is ONE small single-row-group parquet file, i.e. one input
    # split, which would serialize the whole chain onto one core. Fan
    # out first — same small-input guard as zip_source/dedup. At real
    # scale the scan has >= defaultParallelism splits and this is a
    # no-op branch; the chain itself stays map-only.
    par = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < par:
        ev = ev.repartition(par)
    return ev.withColumn("Message", _msg_col())


_M_BASE = f"""
    SELECT event_id, ts, event_type,
           {_MSG_SQL} AS Message
    FROM events
"""


# Shared MinHash-LSH candidate CTE (d2, d4, d6, d10, cp3, ct2): char-8
# shingles, 8 bands x
# 2 rows, bucket cap 1000 — the SQL twin of operators/dedup.py
# minhash_buckets → lsh_candidate_pairs.
_LSH_CAND_CTE = f"""
    WITH sh AS (
      SELECT doc_id, {D.char_shingles_sql('text', 8)} AS sh FROM documents
    ),
    buckets AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, " + D.band_bucket_sql('sh', b, 2) + " AS bucket FROM sh"
          for b in range(8)
      )}
    ),
    ok_buckets AS (
      SELECT band, bucket FROM buckets GROUP BY 1, 2
      HAVING count(*) <= 1000
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a
      JOIN ok_buckets ob ON a.band = ob.band AND a.bucket = ob.bucket
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    )
"""
