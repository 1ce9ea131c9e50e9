"""The /proc process-tree sampler."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from procstat import RssSampler, cpu_snapshot, tree

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_finds_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        pids = {p.pid for p in tree(os.getpid())}
        assert {os.getpid(), child.pid} <= pids
    finally:
        child.kill()
        child.wait()


def test_reaped_child_cpu_is_counted():
    """A child that burns CPU and exits between two snapshots still counts:
    its CPU moves into this process's cutime/cstime when it is reaped."""
    before = cpu_snapshot(os.getpid())
    subprocess.run([sys.executable, "-c", BURN.format(s=0.6)], check=True)
    used = cpu_snapshot(os.getpid()) - before
    assert used.total_s >= 0.5
    assert used.jvm_s == 0


def test_peak_memory_tracks_a_child():
    code = "b = bytearray(200 * 2**20)\nb[::4096] = b'x' * len(b[::4096])\nimport time; time.sleep(1)"
    with RssSampler(os.getpid(), interval_s=0.02) as rss:
        rss.reset()
        base = rss.peak_bytes
        subprocess.run([sys.executable, "-c", code], check=True)
        assert rss.peak_bytes - base >= 150 * 2**20


def _burn(batches):
    for pdf in batches:
        t = time.process_time()
        while time.process_time() - t < 0.5:
            pass
        yield pdf


def test_pandas_udf_cpu_shows_up_as_python_cpu(spark):
    """CPU burnt in a pandas UDF runs in the pyspark workers, not the JVM:
    it must appear in python_s (tree minus JVM), which Spark's executor CPU
    time would miss."""
    df = spark.range(4, numPartitions=2).mapInPandas(_burn, "id long")
    df.collect()  # start the workers
    before = cpu_snapshot(os.getpid())
    df.collect()
    used = cpu_snapshot(os.getpid()) - before
    assert used.python_s >= 0.9  # two partitions x 0.5 s
    assert used.python_s > used.jvm_s
