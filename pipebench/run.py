"""Benchmark entry point.

    python3 pipebench/run.py --workload pipeline_bulk --seed 1 --seconds 15 --trace 0

Runs one workload in this process against ``local[<nproc>]``, as a closed
loop with one caller: the next operation starts when the previous one
returns. Set-up ends with the workload's untimed warm-up passes;
``--seconds`` then sets a fixed number of timed passes (see
``passes_for``). Inputs are generated from ``--seed`` (cached per seed,
never timed). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics (see
layers.py) from a session whose passes alternate between untraced and
event-logged, and states the tracing overhead as traced minus untraced
``wall_s`` and ``cpu_s``.

It works from any directory: the package is found next to this
directory, and the pyspark workers import it through ``PYTHONPATH``. All
files it writes stay under the checkout (``.pipebench_cache`` for inputs,
``.pipebench_work`` while running).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE]
from harness import log  # noqa: E402  (after the path set-up; imports no pyspark)

ROOT = os.path.dirname(HERE)
PACKAGE = "juniper_syslog_filter_spark"
DEADLINE_S = 165.0  # no pass starts that could end after this; a run must end within 180 s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def setup_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    pyspark workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT]
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Phase:
    """One session: setup, the timed passes, and (traced) the layer probes.

    A traced phase enables the event log but detaches it for the warm-up
    and for half of the timed passes, so its untraced and traced passes
    alternate in one session and the tracing overhead is their
    difference."""

    def __init__(self, wl, work: str, seconds: float, deadline: float, rss, traced: bool):
        from harness import EventLogSwitch, start_session, stop_session

        eventlog_dir = os.path.join(work, "eventlog") if traced else None
        t0 = time.perf_counter()
        spark = start_session(work, eventlog_dir)
        self.build_s = time.perf_counter() - t0
        switch = EventLogSwitch(spark) if traced else None
        if switch:
            switch.set(False)
        t1 = time.perf_counter()
        try:
            wl.warm(spark)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            wl.warm_errors.append(f"warm-up: {sys.exc_info()[1]!r}")
        # Untimed, checked passes: the JVM is still compiling hot code for
        # several passes after the first call, and a pass measured in that
        # phase moves with how much CPU the compiler threads got.
        for _ in range(wl.warm_passes):
            p = logged_pass(wl, spark, "warm-up")
            wl.warm_attempted += p.attempted
            wl.warm_errors += p.errors
        self.warm_s = time.perf_counter() - t1
        log(f"set-up: build {self.build_s:.1f} s, warm-up {self.warm_s:.1f} s")

        rss.reset()
        self.passes, self.traced_passes = [], []
        n = passes_for(wl, seconds)
        if traced:
            # plain, traced, traced, plain: balances the warming trend
            n = max(4, n)
        for i in range(n):
            if time.perf_counter() + wl.last_wall_s > deadline:
                log(f"deadline: stopping after {i} of {n} passes")
                break
            tracing = bool(switch) and i % 4 in (1, 2)
            if switch:
                switch.set(tracing)
            p = logged_pass(wl, spark, "traced" if tracing else "plain")
            (self.traced_passes if tracing else self.passes).append(p)
        self.peak_rss_bytes = rss.peak_bytes
        self.layers: dict[str, float] = {}
        self.probe_query_ops: list = []
        try:
            if switch:
                switch.set(True)
                self.layers, self.probe_query_ops = probe_layers(wl, spark, work)
        finally:
            stop_session(spark)
        if traced:
            from eventlog import EventLog

            self.log = EventLog.read(eventlog_dir)


def logged_pass(wl, spark, kind: str):
    """One pass, logged with the CPU time the host stole from the VM
    meanwhile: a slow pass with a large steal is the host, not the code."""
    from procstat import host_steal_s

    steal0 = host_steal_s()
    p = wl.run_pass(spark)
    log(f"{kind} pass: {p.wall_s:.3f} s, host steal {host_steal_s() - steal0:.1f} CPU-s")
    return p


def passes_for(wl, seconds: float) -> int:
    """A fixed pass count per run: ``seconds`` over the workload's nominal
    pass time on the reference host. Fixed work, rather than "until the
    clock runs out", keeps a slow first pass from changing how many
    passes the median is taken over."""
    return max(1, round(seconds / wl.nominal_pass_s))


def _median(passes, fn) -> float:
    return statistics.median([fn(p) for p in passes])


def _ops(passes) -> list[tuple[str, float]]:
    return [op for p in passes for op in p.ops]


def probe_layers(wl, spark, work: str) -> tuple[dict[str, float], list]:
    """Layer probes run in the traced session after the timed passes.
    Returns their metrics, and the ops of the queries it ran."""
    import layers
    from harness import span
    from workloads import MIX, PROBED, run_query_pass

    pages, tables = wl.probe_inputs()
    out: dict[str, float] = {}
    if wl.name != "pipeline_bulk":
        from juniper_syslog_filter_spark.pipeline import run_pipeline

        with span(spark, "probe"), span(spark, "pipeline"):
            run_pipeline(spark, pages, os.path.join(work, "probe-out"))
    names = PROBED if wl.name == "queries_mix" else MIX + PROBED
    with span(spark, "probe"):
        query_ops, _, errors = run_query_pass(spark, tables, names, collect=False)
    wl.warm_attempted += len(names)
    wl.warm_errors += errors
    out.update(layers.prefix_probes(spark, pages))
    out.update(layers.checkpoint_probes(spark, pages, work))
    out["parse.kernel_rows_per_s"] = layers.kernel_probe(wl.seed)
    return out, query_ops


def end_to_end(ph: Phase) -> dict[str, float]:
    from harness import percentile

    op_s = [s for _, s in _ops(ph.passes)]
    return {
        "setup_s": ph.build_s + ph.warm_s,
        "wall_s": _median(ph.passes, lambda p: p.wall_s),
        "pages_per_s": _median(ph.passes, lambda p: p.pages / p.wall_s),
        "op_s.p50": percentile(op_s, 50),
        "op_s.p95": percentile(op_s, 95),
        "cpu_s": _median(ph.passes, lambda p: p.cpu.total_s),
        "peak_rss_mb": ph.peak_rss_bytes / 2**20,
    }


def per_layer(wl, ph: Phase) -> dict[str, float]:
    import layers
    from workloads import MIX, OP_SPAN, PROBED

    elog = ph.log
    traced, plain = ph.traced_passes, ph.passes
    out = {"session.build_s": ph.build_s, "session.warm_s": ph.warm_s}
    pipeline_span = OP_SPAN if wl.name == "pipeline_bulk" else "probe/pipeline"
    out.update(layers.pipeline_metrics(elog, pipeline_span))
    out.update(ph.layers)
    out.update(layers.engine_metrics(elog, OP_SPAN, len(traced)))
    out["python.cpu_s"] = _median(traced, lambda p: p.cpu.python_s)
    if wl.name == "queries_mix":
        out.update(layers.query_metrics(elog, OP_SPAN, _ops(traced), MIX))
        out.update(layers.query_metrics(elog, "probe", ph.probe_query_ops, PROBED))
    else:
        out.update(layers.query_metrics(elog, "probe", ph.probe_query_ops, MIX + PROBED))
    for name, fn in (("wall_s", lambda p: p.wall_s), ("cpu_s", lambda p: p.cpu.total_s)):
        out[f"trace.overhead_{name}"] = _median(traced, fn) - _median(plain, fn)
    return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args, spec: dict, work: str, t_start: float) -> dict:
    from harness import reap_children
    from procstat import RssSampler
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](ROOT, work, args.seed)
    wl.prepare()
    log(f"inputs ready after {time.perf_counter() - t_start:.1f} s")
    # A traced run keeps ~60 s for its probes after the passes.
    deadline = t_start + DEADLINE_S - (60 if args.trace else 0)
    with RssSampler(os.getpid()) as rss:
        ph = Phase(wl, work, args.seconds, deadline, rss, traced=bool(args.trace))
    reap_children()

    # One error string per failed operation or check.
    passes = ph.passes + ph.traced_passes
    errors = wl.warm_errors + [e for p in passes for e in p.errors]
    attempted = max(1, wl.warm_attempted + sum(p.attempted for p in passes))
    failed = min(len(errors), attempted)
    for e in errors:
        log(f"error: {e}")
    values = per_layer(wl, ph) if args.trace else end_to_end(ph)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in listed},
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ next to {HERE}; run it from a checkout")
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".pipebench_work", f"run-{os.getpid()}")
    setup_env(work)
    from harness import become_subreaper, reap_children
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    become_subreaper()
    # On SIGTERM, unwind through the finally below, which ends what is left
    # of the process tree: a JVM still starting up does not exit when its
    # stdin closes.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args, spec, work, t_start)
    finally:
        reap_children(5.0)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only if no other run is using it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
