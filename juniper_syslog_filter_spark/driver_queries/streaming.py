"""Structured Streaming queries, each on a private ``newSession()``
clone over a file source built from the driver tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import _SEV_CASES, query


def _stream_session(spark, n: int = 8):
    """Dedicated session for the streaming demos: ``newSession()``
    shares the SparkContext (same executors, same warehouse) but owns
    an ISOLATED SQLConf, so the state-store shard width is set without
    mutating the caller's session — the round-4 fix for the last
    global-conf mutation (racy under concurrent sessions).

    Why the width matters: a streaming checkpoint pins its state
    partitioning at FIRST run to the session's
    ``spark.sql.shuffle.partitions`` (it can never change afterwards —
    resizing state means a new checkpoint), and every micro-batch pays
    per-shard provider/commit overhead whether or not a shard holds
    data. These bounded drains carry test-scale state, so 8 shards is
    the honest size; a production deployment sizes this up-front from
    target state volume, not from the batch session's shuffle width.

    The streaming plan must be BUILT on this session (readStream and
    any static join side); the finished parquet output can be read
    back on the caller's session."""
    s = spark.newSession()
    # session-level confs are not inherited by newSession(); the tz
    # matters for st3's window/timestamp_ntz round-trip.
    s.conf.set(
        "spark.sql.session.timeZone",
        spark.conf.get("spark.sql.session.timeZone"),
    )
    s.conf.set("spark.sql.shuffle.partitions", str(n))
    return s


@query(oracle=None)
def q_st1_sessionize_stream(spark, sf_dir):
    """Stateful streaming sessionize (streaming.sessionize_stream:
    ``applyInPandasWithState`` + event-time timeout) drained with
    availableNow over the static events table, then read back. Emits
    every session provably CLOSED under the final watermark (gap
    exceeded in-batch, or timeout once the watermark passed last+gap).
    Deterministic for a fixed input, but intentionally has NO SQL
    oracle: the emitted set depends on watermark/timeout semantics
    (ms-truncated timeout timestamps, strict-inequality firing) that an
    ANSI query can't restate faithfully — the driver's rows-only check
    plus the pytest batch-equivalence test
    (tests/test_streaming.py::test_sessionize_stream_matches_batch_oracle)
    cover it."""
    import os
    import tempfile

    from ..streaming import sessionize_stream

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st1_")
    # FileStreamSource requires a directory source; the testdata table is a
    # single file — expose it through a symlinked directory (no copy).
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/events.parquet")
    ss = _stream_session(spark)
    stream = ss.readStream.schema(schema).parquet(src_dir)
    # testdata parquet stores ts as TIMESTAMP_NTZ (watermarks require
    # TIMESTAMP) and bigint user_id (SESSION_SCHEMA keys by string).
    events = stream.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    sessions = sessionize_stream(events, gap_minutes=30, watermark_delay="1 second")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out")


@query(oracle="""
        SELECT DISTINCT md5(text) AS fp FROM documents
    """)
def q_st2_stream_dedup(spark, sf_dir):
    """STREAMING exact dedup — the exactly-once corpus-dedup front of a
    crawl ingest: stream the documents table, fingerprint each text
    (md5), ``dropDuplicates`` on the fingerprint (streaming state =
    seen-fingerprint set, sharded by the fingerprint shuffle), drain
    availableNow to parquet. Unlike st1, this IS oracle-checkable: the
    emitted set is exactly the distinct fingerprint set regardless of
    micro-batch boundaries or arrival order, so the DuckDB twin is a
    plain SELECT DISTINCT. At real scale the watermarked variant
    (``dropDuplicatesWithinWatermark``) bounds the state to the dedup
    horizon; the unbounded form here matches the batch-exact oracle."""
    import os
    import tempfile

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st2_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/documents.parquet")
    stream = _stream_session(spark).readStream.schema(schema).parquet(src_dir)
    deduped = (
        stream.select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .dropDuplicates(["fp"])
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out")


@query(oracle="""
        SELECT DISTINCT md5(text) AS fp FROM documents
    """)
def q_st6_stream_dedup_watermark(spark, sf_dir):
    """BOUNDED-STATE streaming dedup — the call st2's docstring names
    as the 100-TB form: ``withWatermark`` + ``dropDuplicatesWithinWatermark``.
    State holds only fingerprints younger than the dedup horizon (10
    min here) instead of every fingerprint ever seen — on an unbounded
    crawl ingest that is the difference between O(horizon) and O(corpus)
    state. Event time is the deterministic warc_ts twin (base +
    doc_id seconds); the whole fixture spans one horizon and drains in
    one availableNow pass, so the emitted set is exactly the distinct
    fingerprint set and the DuckDB twin stays a plain SELECT DISTINCT."""
    import os
    import tempfile

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st6_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/documents.parquet")
    stream = _stream_session(spark).readStream.schema(schema).parquet(src_dir)
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=F.col("doc_id").cast("double")
    )
    deduped = (
        stream.select(
            F.md5(F.col("text").cast("binary")).alias("fp"), ts.alias("ts")
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{tmp}/out")


@query(oracle="""
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
               <= (SELECT max(ts) - INTERVAL 1 SECOND FROM events)
    """)
def q_st3_stream_window(spark, sf_dir):
    """STREAMING tumbling-window aggregate with a watermark — the
    readStream twin of w3: 1-hour windows × event_type counts in append
    mode, drained availableNow. Emitted = windows CLOSED under the
    final watermark (max event time − 1 s); Spark's no-data micro-batch
    (on by default) advances the watermark after the last data batch so
    the flush is deterministic. Oracle-checkable because the emitted
    set depends only on max(ts), restated in SQL as
    ``HAVING win_end <= max(ts) - INTERVAL 1 SECOND``. The final
    in-flight hour stays in state — exactly what a continuous pipeline
    wants (it would emit when the next hour's data arrives)."""
    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st3_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/events.parquet")
    stream = _stream_session(spark).readStream.schema(schema).parquet(src_dir)
    agg = (
        stream.select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
        .withWatermark("ts", "1 second")
        .groupBy(F.window(F.col("ts"), "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window")["start"].alias("win_start"), "event_type", "n"
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{tmp}/out")
    # session tz is UTC → ntz cast is value-preserving; matches w3's
    # (and the oracle's) naive-timestamp win_start.
    return out.select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n",
    )


@query(oracle="""
        SELECT p.event_id AS p_id, e.event_id AS e_id
        FROM events p JOIN events e
          ON p.event_type = 'purchase' AND e.event_type = 'error'
         AND p.user_id = e.user_id
         AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 60 MINUTE
    """)
def q_st4_stream_stream_join(spark, sf_dir):
    """STREAMING stream-stream interval join: purchases joined to error
    events of the same user within the following 60 minutes — the
    funnel/attribution shape. Both sides carry
    watermarks and the join condition carries the time bound, so state
    is purged as event time advances (without the bound, stream-stream
    join state grows without limit — the property that matters at
    100 TB/day). INNER join output
    is exactly the batch join result (the watermark bounds STATE, not
    emission), so the oracle is the plain SQL interval join. Drained
    availableNow from a file source, like st1-st3."""
    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st4_")
    ss = _stream_session(spark)
    sides = {}
    for side in ("a", "b"):
        src = f"{tmp}/{side}"
        os.makedirs(src)
        os.symlink(os.path.abspath(path), f"{src}/events.parquet")
        sides[side] = ss.readStream.schema(schema).parquet(src)
    p = (
        sides["a"]
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 second")
    )
    e = (
        sides["b"]
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").cast("timestamp").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 second")
    )
    joined = p.join(
        e,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 60 MINUTES")),
        "inner",
    ).select("p_id", "e_id")
    q = (
        joined.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema("p_id long, e_id long").parquet(f"{tmp}/out")


@query(oracle="""
        SELECT e.event_id, d.severity, d.severity_level
        FROM events e
        JOIN (VALUES
            ('error', 'CRITICAL', 2),
            ('purchase', 'WARNING', 4),
            ('signup', 'INFO', 6),
            ('click', 'NOTICE', 5),
            ('view', 'DEBUG', 7)
        ) AS d(event_type, severity, severity_level)
          ON e.event_type = d.event_type
    """)
def q_st5_stream_static_join(spark, sf_dir):
    """STREAMING stream-static enrich: the events stream joined to the
    static severity dimension — j1's lookup enrich as a continuous
    ingest stage. Stream-static inner equi-joins are STATELESS (each
    micro-batch joins against the static snapshot; nothing is buffered,
    no watermark needed), so output = the batch join exactly and the
    oracle is plain SQL. The dim broadcasts inside every micro-batch —
    the same per-batch broadcast a 100 TB/day enrich would use."""
    import os
    import tempfile

    ss = _stream_session(spark)
    # the static side must live on the SAME session as the stream —
    # cross-session joins are rejected.
    dim = ss.createDataFrame(
        [(et, sev, lvl) for et, sev, lvl in _SEV_CASES],
        "event_type string, severity string, severity_level int",
    )
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tmp = tempfile.mkdtemp(prefix="st5_")
    src_dir = f"{tmp}/src"
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(path), f"{src_dir}/events.parquet")
    stream = ss.readStream.schema(schema).parquet(src_dir)
    enriched = stream.join(F.broadcast(dim), "event_type", "inner").select(
        "event_id", "severity", "severity_level"
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(
        "event_id long, severity string, severity_level int"
    ).parquet(f"{tmp}/out")
