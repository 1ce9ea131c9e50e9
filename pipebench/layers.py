"""Per-layer metrics for the traced run.

Two sources, neither inside the program:

* the benchmark's own timers around calls into each module's public
  functions (prefix plans sent to the ``noop`` sink, the checkpoint
  table's methods, the parse kernel on a driver-local batch);
* the Spark event log of the traced session, read after it stops, with
  every job tagged by the benchmark span it ran under.

A *prefix plan* is a chain of public calls cut after one layer:
``parse_pages`` → ``build_routed`` (adds enrich) → ``route_repartition``
(adds the route Exchange). A layer's ``prefix_s`` is its prefix's wall time
minus the previous prefix's (the faster of two rounds each), so timing
noise can make a small one negative.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from eventlog import EventLog, Execution, Stage
from statistics import median

from harness import noop, span

INSERT = "InsertIntoHadoopFsRelationCommand"
INSERT_NODE = "Execute " + INSERT
CHECKPOINT_COMMITS = 24  # one per hourly unit, as the reference's 24 ZIPs
KERNEL_BATCH = 10_000


def _timed(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls)


# ---------------------------------------------------------------------------
# Probes: benchmark-side timers around public calls (traced session).
# ---------------------------------------------------------------------------


def prefix_probes(spark, pages_path: str) -> dict[str, float]:
    from juniper_syslog_filter_spark.functions.parse import parse_pages
    from juniper_syslog_filter_spark.pipeline import build_routed, route_repartition

    def read():
        return spark.read.parquet(pages_path)

    plans = [
        ("parse", lambda: parse_pages(read())),
        ("enrich", lambda: build_routed(spark, read())),
        ("route", lambda: route_repartition(build_routed(spark, read()))),
    ]
    walls: dict[str, float] = {}
    with span(spark, "probe"):
        for _ in range(2):  # two rounds, keep each prefix's faster time
            for name, plan in plans:
                with span(spark, f"prefix-{name}"):
                    t = _timed(lambda: noop(plan()), reps=1)
                walls[name] = min(t, walls.get(name, t))
    return {
        "parse.prefix_s": walls["parse"],
        "enrich.prefix_s": walls["enrich"] - walls["parse"],
        "route.prefix_s": walls["route"] - walls["enrich"],
    }


def kernel_probe(seed: int) -> float:
    """``parse_records_pandas`` rows/s on a fixed driver-local batch."""
    from juniper_syslog_filter_spark.datagen import gen_pages_pandas
    from juniper_syslog_filter_spark.functions.parse import parse_records_pandas

    batch = gen_pages_pandas(np.arange(KERNEL_BATCH), seed=seed)
    return KERNEL_BATCH / _timed(lambda: parse_records_pandas(batch))


def checkpoint_probes(spark, pages_path: str, work: str) -> dict[str, float]:
    """List the pages table; build a checkpoint table of CHECKPOINT_COMMITS
    commits (one per input file, cycling) and time commit and read."""
    from juniper_syslog_filter_spark.checkpoint import CheckpointTable, list_parquet_files

    with span(spark, "probe"):
        list_s = _timed(lambda: list_parquet_files(spark, pages_path))
        files = list_parquet_files(spark, pages_path)
        path = os.path.join(work, "probe-checkpoint")
        shutil.rmtree(path, ignore_errors=True)
        table = CheckpointTable(spark, path)
        commits = []
        for i in range(CHECKPOINT_COMMITS):
            f, size = files[i % len(files)]
            row = {
                "batch_id": f"probe{i:02d}", "unit": f"{f}#{i}", "bytes_in": size,
                "rows_parsed": 0, "rows_routed": 0, "stage": "pipeline",
            }
            t0 = time.perf_counter()
            table.commit([row])
            commits.append(time.perf_counter() - t0)
        with span(spark, "checkpoint-read"):
            read_s = _timed(table.completed_units)
        n_files = sum(1 for n in os.listdir(path) if n.endswith(".parquet"))
    return {
        "checkpoint.list_s": list_s,
        "checkpoint.read_s": read_s,
        "checkpoint.commit_s": median(commits),
        "checkpoint.commit_files": n_files,
    }


# ---------------------------------------------------------------------------
# Event-log metrics.
# ---------------------------------------------------------------------------


def _stages(log: EventLog, ex: Execution) -> list[Stage]:
    return log.stages_of(log.jobs_of(execution_id=ex.execution_id))


def pipeline_metrics(log: EventLog, span_name: str) -> dict[str, float]:
    """Layer metrics of the ``run_pipeline`` calls made under ``span_name``,
    per call. Its SQL executions are told apart by plan shape: the fan-out
    write (an insert fed by MapInPandas), the agg write (an insert without
    it) and the lineage collect (a grouping on src_file)."""
    execs = log.executions_of(span_name)
    writes = [e for e in execs if INSERT in e.plan and "MapInPandas" in e.plan]
    aggs = [e for e in execs if INSERT in e.plan and "MapInPandas" not in e.plan]
    lineage = [e for e in execs if INSERT not in e.plan and "src_file" in e.plan]
    n = max(1, len(writes))

    def total(fn) -> float:
        return sum(fn(e) for e in writes)

    scan_rows = total(lambda e: log.sql_metric(e, "Scan parquet", "number of output rows"))
    kept = total(
        lambda e: log.sql_metric(
            e, "Filter", "number of output rows", above="Scan parquet", not_above="MapInPandas"
        )
    )
    skews = [
        max((s.task_skew for s in _stages(log, e) if s.output_bytes > 0), default=0.0)
        for e in writes
    ]
    return {
        "parse.scan_rows": scan_rows / n,
        "parse.scan_bytes": total(
            lambda e: log.sql_metric(e, "Scan parquet", "size of files read")) / n,
        "parse.prefilter_pass": kept / scan_rows if scan_rows else 0.0,
        "parse.arrow_bytes_sent": total(
            lambda e: log.sql_metric(e, "MapInPandas", "data sent to Python workers")) / n,
        "parse.arrow_bytes_returned": total(
            lambda e: log.sql_metric(e, "MapInPandas", "data returned from Python workers")) / n,
        "parse.rows_out": total(
            lambda e: log.sql_metric(e, "MapInPandas", "number of output rows")) / n,
        "enrich.broadcast_rows": total(
            lambda e: log.sql_metric(e, "BroadcastExchange", "number of output rows")) / n,
        "route.shuffle_bytes": total(
            lambda e: sum(s.shuffle_write_bytes for s in _stages(log, e))) / n,
        "route.spill_bytes": total(lambda e: sum(s.spill_bytes for s in _stages(log, e))) / n,
        "route.task_skew": median(skews) if skews else 0.0,
        "sink.write_s": total(lambda e: e.duration_s) / n,
        "sink.bytes": total(lambda e: sum(s.output_bytes for s in _stages(log, e))) / n,
        "sink.files": total(
            lambda e: log.sql_metric(e, INSERT_NODE, "number of written files")) / n,
        "agg.s": sum(e.duration_s for e in aggs) / n,
        "lineage.s": sum(e.duration_s for e in lineage) / n,
    }


def engine_metrics(log: EventLog, span_name: str, passes: int) -> dict[str, float]:
    """Engine totals per pass over the jobs under ``span_name`` (and its
    nested spans)."""
    jobs = [
        j for j in log.jobs.values()
        if j.span == span_name or (j.span or "").startswith(span_name + "/")
    ]
    stages = log.stages_of(jobs)
    n = max(1, passes)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s.tasks for s in stages) / n,
        "spark.task_s": sum(s.run_ms for s in stages) / 1000.0 / n,
        "spark.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9 / n,
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1000.0 / n,
    }


def query_metrics(log: EventLog, span_prefix: str, ops: list[tuple[str, float]], names: list[str]) -> dict[str, float]:
    """Per query: median wall of its ops, and executor CPU per op."""
    out = {}
    for name in names:
        walls = [s for q, s in ops if q == name]
        jobs = [j for j in log.jobs.values() if j.span == f"{span_prefix}/{name}"]
        cpu = sum(s.cpu_ns for s in log.stages_of(jobs)) / 1e9
        out[f"query.{name}.s"] = median(walls) if walls else 0.0
        out[f"query.{name}.executor_cpu_s"] = cpu / max(1, len(walls))
    return out
