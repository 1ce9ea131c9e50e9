"""The reference syslog pipeline over ``events``: keyword/severity filters,
projection, F1-F7 extract/classify, routing and the severity enrich
join.

The Spark side reads F1-F5 from ``parse.message_fields``, the pipeline's
Python ``re`` kernel. The DuckDB oracles apply the same ``*_PATTERN``
constants with ``regexp_extract``, but DuckDB's RE2 reads ``\\d \\w \\s``
as ASCII-only, so oracle and kernel agree only on ASCII messages; the
synthesized Message (``common._MSG_SQL`` / ``_msg_col``) is ASCII-only,
so every message these queries check is one they agree on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..functions import parse as P
from ..functions.ip import classify_ips
from .common import _events_with_msg, _M_BASE, _SEV_CASES, query


@query(oracle="""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE contains(text, 'spark')
    """)
def q_p1_filter_keyword(spark, sf_dir):
    """P1 keyword filter (modules/filter_keyword.py): case-sensitive
    literal contains over documents.text."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").contains("spark"))
        .select("doc_id", "lang", "n_chars")
    )


@query(oracle="""
        SELECT event_id, user_id, round(value, 2) AS value_r
        FROM events WHERE event_type = 'error'
    """)
def q_p2_filter_severity(spark, sf_dir):
    """P2 equality filter (modules/filter_critical.py) on events."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.round("value", 2).alias("value_r"))
    )


@query(oracle=f"""
        WITH m AS ({_M_BASE})
        SELECT event_id, regexp_extract(Message, '{P.SEVERITY_PATTERN}', 1) AS Severity
        FROM m
        WHERE regexp_extract(Message, '{P.SEVERITY_PATTERN}', 1) = 'CRITICAL'
    """)
def q_p3_filter_merge(spark, sf_dir):
    """P3 filter_and_merge (modules/filter_critical_and_merge.py:30-127):
    severity equality filter + merge to a single output partition (the
    reference concatenates survivors into one CSV)."""
    from ..operators.filters import filter_and_merge_severity

    df = _events_with_msg(spark, sf_dir).select(
        "event_id", P.message_fields(F.col("Message"))["Severity"].alias("Severity")
    )
    return filter_and_merge_severity(df, "CRITICAL")


@query(oracle="SELECT event_id, ts, event_type FROM events")
def q_p4_reduce_columns(spark, sf_dir):
    """P4 positional projection (modules/reduce_columns.py) keep [0,1,3]."""
    from ..operators.project import reduce_columns

    return reduce_columns(load_table(spark, sf_dir, "events"), [0, 1, 3])


@query(oracle="""
        SELECT event_id, regexp_extract(props, '"k": (\\d+)', 1) AS k_str
        FROM events
    """)
def q_f3_extract_regex(spark, sf_dir):
    """F3-style regexp_extract (modules/extract_protocol.py:31 shape) over
    the events JSON props column; no-match → ''."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).alias("k_str"),
    )


_CLASSIFY_SQL = """
    CASE WHEN {ip} = '' THEN ''
         WHEN TRY_CAST(string_split({ip}, '.')[1] AS INT) = 10
           OR (TRY_CAST(string_split({ip}, '.')[1] AS INT) = 172
               AND TRY_CAST(string_split({ip}, '.')[2] AS INT) BETWEEN 16 AND 31)
           OR (TRY_CAST(string_split({ip}, '.')[1] AS INT) = 192
               AND TRY_CAST(string_split({ip}, '.')[2] AS INT) = 168)
         THEN 'private' ELSE 'global' END
"""


@query(oracle=f"""
        WITH m AS ({_M_BASE}),
        r AS (
          SELECT event_id,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 1) AS srcIP,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 2) AS dstIP,
                 regexp_extract(Message, '{P.PROTOCOL_PATTERN}', 1) AS protocol,
                 regexp_extract(Message, '{P.SEVERITY_LEVEL_PATTERN}', 1) AS SeverityLevel,
                 regexp_extract(Message, '{P.SEVERITY_PATTERN}', 1) AS Severity
          FROM m
        )
        SELECT event_id,
               CASE WHEN srcIP <> '' AND dstIP <> '' THEN srcIP || ' > ' || dstIP ELSE '' END AS routing,
               srcIP,
               {_CLASSIFY_SQL.format(ip='srcIP')} AS srcIP_type,
               dstIP,
               {_CLASSIFY_SQL.format(ip='dstIP')} AS dstIP_type,
               protocol, SeverityLevel, Severity
        FROM r
    """)
def q_m1_parse_classify(spark, sf_dir):
    """Reference pipeline F1→F7 relationally over synthesized messages:
    routing extract, IP split, private/global classify, protocol +
    severity extracts — '' conventions throughout."""
    df = _events_with_msg(spark, sf_dir)
    fields = df.select("event_id", P.message_fields(F.col("Message")).alias("f"))
    return classify_ips(fields.select("event_id", "f.*"))


@query(oracle=f"""
        WITH m AS ({_M_BASE}),
        r AS (
          SELECT event_id,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 1) AS srcIP,
                 regexp_extract(Message, '{P.ROUTING_PATTERN}', 2) AS dstIP,
                 regexp_extract(Message, '{P.SEVERITY_PATTERN}', 1) AS Severity
          FROM m WHERE contains(Message, 'observed')
        )
        SELECT event_id,
               CASE WHEN srcIP <> '' AND dstIP <> '' THEN srcIP || ' > ' || dstIP ELSE '' END AS routing,
               {_CLASSIFY_SQL.format(ip='srcIP')} AS srcIP_type,
               {_CLASSIFY_SQL.format(ip='dstIP')} AS dstIP_type,
               Severity
        FROM r WHERE Severity = 'CRITICAL'
    """)
def q_m2_critical_routed(spark, sf_dir):
    """Phases 1-10 composed: keyword filter → parse → classify →
    severity filter (the reference's canonical CLI path, run.py:42-433)."""
    df = _events_with_msg(spark, sf_dir).filter(F.col("Message").contains("observed"))
    fields = df.select("event_id", P.message_fields(F.col("Message")).alias("f"))
    out = fields.select("event_id", "f.*").filter(F.col("Severity") == "CRITICAL")
    return classify_ips(out).select(
        "event_id", "routing", "srcIP_type", "dstIP_type", "Severity"
    )


@query(oracle=f"""
        WITH m AS ({_M_BASE})
        SELECT regexp_extract(Message, '{P.SEVERITY_PATTERN}', 1) AS severity,
               CAST(ts AS DATE) AS date,
               count(*) AS n
        FROM m GROUP BY 1, 2
    """)
def q_m3_route_aggregate(spark, sf_dir):
    """The north-rule aggregate: groupBy(severity, date).count() over the
    parsed stream (per-sink count contract, SURVEY §2.5)."""
    df = _events_with_msg(spark, sf_dir)
    return (
        df.select(
            P.message_fields(F.col("Message"))["Severity"].alias("severity"),
            F.to_date("ts").alias("date"),
        )
        .groupBy("severity", "date")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(oracle="""
        SELECT d.severity, d.severity_level, count(*) AS n,
               round(sum(e.value), 2) AS total_value
        FROM events e
        LEFT JOIN (VALUES
            ('error', 'CRITICAL', 2),
            ('purchase', 'WARNING', 4),
            ('signup', 'INFO', 6),
            ('click', 'NOTICE', 5),
            ('view', 'DEBUG', 7)
        ) AS d(event_type, severity, severity_level)
          ON e.event_type = d.event_type
        GROUP BY 1, 2
    """)
def q_j1_broadcast_enrich(spark, sf_dir):
    """Broadcast lookup join (north rule enrich; SURVEY §2.6): inline
    severity-class dimension joined to events."""
    dim = spark.createDataFrame(
        [(et, sev, lvl) for et, sev, lvl in _SEV_CASES],
        "event_type string, severity string, severity_level int",
    )
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.join(F.broadcast(dim), "event_type", "left")
        .groupBy("severity", "severity_level")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
