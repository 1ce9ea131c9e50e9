"""The benchmark's workloads.

Each workload owns its seeded inputs, a warm-up, and one *pass*: the unit
whose wall time is ``wall_s``. A pass is a list of *operations* (the unit
of ``op_s``), each timed around one public call of the package. Every
operation's output is checked against an oracle outside its timing.

* ``pipeline_bulk`` — one pass = one ``run_pipeline`` call over the
  generated pages table into a fresh output directory.
* ``queries_mix`` — one pass = each driver query of ``MIX`` once, sent to
  the ``noop`` sink; results are checked against the DuckDB twins on the
  warm-up pass, which collects them.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import inputs
import oracle
from harness import log, noop, span
from procstat import CpuSnapshot, cpu_snapshot

OP_SPAN = "op"


@dataclass
class Pass:
    wall_s: float
    cpu: CpuSnapshot
    pages: int
    ops: list[tuple[str, float]]  # (operation name, seconds)
    attempted: int = 0
    errors: list[str] = field(default_factory=list)


def _fail(errors: list[str], what: str) -> None:
    traceback.print_exc(file=sys.stderr)
    errors.append(f"{what}: {sys.exc_info()[1]!r}")


class Workload:
    name = ""
    nominal_pass_s = 1.0  # a pass's wall time on the reference host
    warm_passes = 0  # untimed passes after ``warm``, part of set-up

    def __init__(self, root: str, work: str, seed: int):
        self.root = root
        self.work = work
        self.seed = seed
        self.warm_errors: list[str] = []
        self.warm_attempted = 0
        self.last_wall_s = 0.0
        self._runs = 0

    def prepare(self) -> None:  # seeded inputs; never timed
        raise NotImplementedError

    def warm(self, spark) -> None:
        """Set-up work before the warm-up passes (none by default)."""

    def _pass(self, spark) -> tuple[Pass, object]:
        """The timed operations; returns the pass and an untimed check
        (a callable returning error strings) or None."""
        raise NotImplementedError

    def run_pass(self, spark) -> Pass:
        me = os.getpid()
        c0, t0 = cpu_snapshot(me), time.perf_counter()
        with span(spark, OP_SPAN):
            p, check = self._pass(spark)
        p.wall_s = self.last_wall_s = time.perf_counter() - t0
        p.cpu = cpu_snapshot(me) - c0
        if check is not None:
            p.errors += check()
        return p

    def probe_inputs(self) -> tuple[str, str]:
        """(pages table, query tables) for the traced run's layer probes."""
        raise NotImplementedError

    def _fresh_dir(self, tag: str) -> str:
        self._runs += 1
        d = os.path.join(self.work, f"{tag}-{self._runs}")
        shutil.rmtree(d, ignore_errors=True)
        return d


# ---------------------------------------------------------------------------
# pipeline_bulk
# ---------------------------------------------------------------------------

BULK_PAGES = 120_000
BULK_FILES = 8


def pages_inputs(root: str, workload: str, seed: int, n_pages: int, n_files: int) -> tuple[str, list]:
    """(pages dir, oracle counts as JSON rows) for a cached pages table."""
    spec = {"pages": n_pages, "files": n_files}

    def build(path: str) -> None:
        expected = Counter()
        inputs.write_pages_table(
            os.path.join(path, "pages"), seed, 0, n_pages, n_files,
            each=lambda pdf: expected.update(oracle.expected_counts(pdf)),
        )
        with open(os.path.join(path, "oracle.json"), "w") as fh:
            json.dump(oracle.counts_to_json(expected), fh)

    d = inputs.cached(root, workload, seed, spec, build)
    with open(os.path.join(d, "oracle.json")) as fh:
        return os.path.join(d, "pages"), json.load(fh)


class PipelineBulk(Workload):
    name = "pipeline_bulk"
    nominal_pass_s = 6.5
    # The first call is the cold one (JVM, Python workers); the second is
    # still ~20% slower than the third on the reference host.
    warm_passes = 2

    def prepare(self) -> None:
        self.pages, rows = pages_inputs(self.root, self.name, self.seed, BULK_PAGES, BULK_FILES)
        self.expected = oracle.counts_from_json(rows)

    def probe_inputs(self) -> tuple[str, str]:
        return self.pages, query_inputs(
            self.root, "probe_tables", self.seed, PROBE_EVENTS, PROBE_DOCS
        )

    def _pass(self, spark):
        from juniper_syslog_filter_spark.pipeline import run_pipeline

        out = self._fresh_dir("bulk-out")
        p = Pass(0.0, CpuSnapshot(0, 0), BULK_PAGES, [], attempted=1)
        try:
            t0 = time.perf_counter()
            res = run_pipeline(spark, self.pages, out)
            p.ops.append(("run_pipeline", time.perf_counter() - t0))
        except Exception:
            _fail(p.errors, "run_pipeline")
            return p, None

        def check() -> list[str]:
            errs = oracle.pipeline_errors(
                self.expected, oracle.read_agg(res.agg_path), res.rows_routed
            )
            shutil.rmtree(out, ignore_errors=True)
            return errs

        return p, check


# ---------------------------------------------------------------------------
# queries_mix
# ---------------------------------------------------------------------------

# Five driver queries: parse, broadcast join, WARC and PNG sources, text
# model. Left out, to fit the benchmark's time budget (see README):
# d2_minhash_lsh, cp3_fuzzy_dedup_corpus, m3_route_aggregate and
# z1_zip_source.
MIX = [
    "m1_parse_classify",
    "j1_broadcast_enrich",
    "wc1_warc_source",
    "mm5_png_decode",
    "t12_bigram_lm",
]
# Run once in every traced run only, for their per-layer rows: m2 repeats
# m1's parse family, and the two connected-components queries (d6, d12)
# would more than double a pass.
PROBED = ["m2_critical_routed", "d6_dup_clusters", "d12_cc_star"]
# The generated table each query scans (its "pages" for pages_per_s).
SOURCE = {
    "m1_parse_classify": "events",
    "m2_critical_routed": "events",
    "j1_broadcast_enrich": "events",
}
QUERY_TABLES = ["events", "documents"]
MIX_EVENTS = 50_000
# The dedup probes (d6, d12) run on these documents too; at 150 their
# connected components stay a few seconds.
MIX_DOCS = 150
# Traced-run probe inputs for the layers a workload's own passes skip.
PROBE_PAGES = 20_000
PROBE_EVENTS = 5_000
PROBE_DOCS = 150


def query_inputs(
    root: str, workload: str, seed: int, n_events: int, n_docs: int, with_oracle: bool = False
) -> str:
    """Cached query tables; with ``with_oracle`` also the DuckDB twins'
    results (``oracle.pkl``), which need no Spark and are computed once."""
    spec = {"events": n_events, "docs": n_docs, "oracle": MIX if with_oracle else None}

    def build(path: str) -> None:
        inputs.write_query_tables(path, seed, n_events, n_docs)
        if with_oracle:
            with open(os.path.join(path, "oracle.pkl"), "wb") as fh:
                pickle.dump(duckdb_results(path, MIX), fh)

    return inputs.cached(root, workload, seed, spec, build)


def run_query_pass(spark, tables: str, names: list[str], collect: bool) -> tuple[list, dict, list[str]]:
    """Run each query once: ``noop`` sink, or collected rows when ``collect``.

    Returns (timed ops, collected {name: (cols, rows)}, errors)."""
    from juniper_syslog_filter_spark.driver_queries import QUERIES

    ops, results, errors = [], {}, []
    for name in names:
        try:
            with span(spark, name):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, tables)
                if collect:
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    noop(df)
                ops.append((name, time.perf_counter() - t0))
            log(f"  {name}: {ops[-1][1]:.3f} s")
        except Exception:
            _fail(errors, name)
    return ops, results, errors


def duckdb_results(tables: str, names: list[str]) -> dict:
    """Each query's ORACLE_SQL result over the generated tables."""
    from juniper_syslog_filter_spark.driver_queries import ORACLE_SQL

    con = oracle.duckdb_connection(tables, QUERY_TABLES)
    out, by_sql = {}, {}
    for name in names:
        sql = ORACLE_SQL[name]
        if sql not in by_sql:  # queries may share a twin
            res = con.execute(sql)
            by_sql[sql] = ([d[0] for d in res.description], res.fetchall())
        out[name] = by_sql[sql]
    con.close()
    return out


class QueriesMix(Workload):
    name = "queries_mix"
    nominal_pass_s = 5.0
    # After the cold checking pass, the first pass to noop is still ~30%
    # slower than the ones after it on the reference host.
    warm_passes = 1

    def prepare(self) -> None:
        self.tables = query_inputs(
            self.root, self.name, self.seed, MIX_EVENTS, MIX_DOCS, with_oracle=True
        )
        rows = {"events": MIX_EVENTS, "documents": MIX_DOCS}
        self.pass_rows = sum(rows[SOURCE.get(q, "documents")] for q in MIX)
        # Written by query_inputs above, inside this checkout's cache.
        with open(os.path.join(self.tables, "oracle.pkl"), "rb") as fh:
            self.expected = pickle.load(fh)

    def probe_inputs(self) -> tuple[str, str]:
        pages, _ = pages_inputs(self.root, "probe_pages", self.seed, PROBE_PAGES, 4)
        return pages, self.tables

    def warm(self, spark) -> None:
        """One collected pass, checked against the DuckDB twins."""
        _, got, errors = run_query_pass(spark, self.tables, MIX, collect=True)
        self.warm_attempted += len(MIX)
        self.warm_errors += errors
        for name, (cols, rows) in got.items():
            dcols, drows = self.expected[name]
            self.warm_errors += [f"{name}: {e}" for e in oracle.query_errors(cols, rows, dcols, drows)]

    def _pass(self, spark):
        ops, _, errors = run_query_pass(spark, self.tables, MIX, collect=False)
        return Pass(0.0, CpuSnapshot(0, 0), self.pass_rows, ops, len(MIX), errors), None


WORKLOADS = {w.name: w for w in (PipelineBulk, QueriesMix)}
