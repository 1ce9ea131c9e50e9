"""Benchmark harness (driver contract).

Runs every driver-contract query at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default:
``os.cpu_count()``) and the north-rule parse→enrich→route→aggregate
pipeline over a deterministic generated pages table, then prints ONE
JSON line::

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys: ``pipeline_pages_per_sec`` (the headline north-rule
throughput) and ``pages_rows``.

Query timing uses the ``noop`` sink — full execution of the physical
plan, zero driver-side collection cost — so the number is engine time,
not pickling time. Each query is timed as the MIN of two executions:
this host bills multi-second page-fault/contention storms to whichever
query first allocates at 32-way concurrency (BENCH.md "Methodology" —
the same job was measured at 12 s and 138 s back-to-back), so a single
cold run measures the VM, not the plan; min-of-2 is the steady-state
engine time. The session itself is additionally warmed with a shuffle,
a pandas-UDF stage, and one scan per table before any timing.

Scaling-efficiency evidence (two parallelism levels, fresh JVM each) is
a separate harness: ``python scripts/bench_scaling.py`` → BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402  (module scope: pandas_udf type hints resolve here)
from pyspark.sql import functions as F  # noqa: E402

from juniper_syslog_filter_spark.session import build_session  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Rows for the generated pages table, scaled to match the sf dir
# (sf0.1 → 300k pages; parse selectivity ~0.9 → ~270k records).
PAGES_PER_SF = 3_000_000


def _sf_of(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    sf = _sf_of(sf_dir)

    spark = build_session(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Warm-up (none of this billed to queries):
    # 1. a real shuffle sized to touch a few GB of heap — this host
    #    faults first-touched JVM heap pages at up to seconds/GB, a cost
    #    that otherwise lands on whichever query shuffles first
    #    (round 1 billed 19 s of it to a trivial contains-filter);
    # 2. a pandas-UDF stage so the Python worker fleet is spawned;
    # 3. one scan per driver table (parquet footers, OS page cache).
    spark.range(200_000_000).select(
        (F.col("id") % 1_000_000).alias("k")
    ).groupBy("k").count().write.format("noop").mode("overwrite").save()
    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1_000_000).repartition(cpus).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    from juniper_syslog_filter_spark.datagen import load_table

    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    from juniper_syslog_filter_spark.driver_queries import QUERIES

    timings: dict[str, float] = {}
    first_runs: dict[str, float] = {}
    for name, fn in QUERIES.items():
        walls = []
        for _ in range(2):
            t0 = time.time()
            run_noop(fn(spark, sf_dir))
            walls.append(time.time() - t0)
        timings[name] = round(min(walls), 3)
        first_runs[name] = round(walls[0], 3)
        print(f"[bench] {name}: {timings[name]}s (runs: {[round(w, 2) for w in walls]})",
              file=sys.stderr, flush=True)

    # North-rule pipeline over generated pages (generation not billed).
    from juniper_syslog_filter_spark.datagen import write_pages
    from juniper_syslog_filter_spark.pipeline import run_pipeline

    n_pages = max(10_000, int(PAGES_PER_SF * sf))
    tmp = tempfile.mkdtemp(prefix="bench_pages_")
    pages_path = os.path.join(tmp, "pages")
    out_dir = os.path.join(tmp, "out")
    try:
        write_pages(spark, pages_path, n_pages, num_partitions=max(8, cpus))
        pipe_walls = []
        for i in range(2):
            out_i = f"{out_dir}_{i}"
            t0 = time.time()
            res = run_pipeline(
                spark, pages_path, out_i,
                keyword=None, severity_filter=None, incremental=False,
            )
            pipe_walls.append(time.time() - t0)
            # same-disk-state discipline as scripts/bench_scaling_worker:
            # drop the previous run's unflushed output before the next.
            shutil.rmtree(out_i, ignore_errors=True)
        pipe_sec = min(pipe_walls)
        timings["pipeline_e2e"] = round(pipe_sec, 3)
        first_runs["pipeline_e2e"] = round(pipe_walls[0], 3)
        pages_per_sec = n_pages / pipe_sec
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "driver_queries_plus_pipeline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pipeline_pages_per_sec": round(pages_per_sec, 1),
        "pages_rows": n_pages,
        "rows_routed": res.rows_routed,
        "cpus": cpus,
        # first (cold) wall per query, so cross-round comparisons can be
        # made protocol-for-protocol against single-run rounds.
        "first_run_queries": first_runs,
        "first_run_total": round(sum(first_runs.values()), 3),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
