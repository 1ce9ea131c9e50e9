"""Unit tests for the data-layout operators: Morton key bit math
(pinned against a pure-Python interleave), the both-dimensions-tight
property of Z-order buckets, and MERGE-upsert semantics (matched rows
replaced wholesale, unmatched inserted, untouched base preserved)."""

from __future__ import annotations

from pyspark.sql import functions as F

from juniper_syslog_filter_spark.operators.layout import (
    merge_upsert,
    morton_key,
    zorder_layout_stats,
)


def _py_morton(x: int, y: int) -> int:
    out = 0
    for i in range(16):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def test_morton_key_matches_reference_bit_interleave(spark):
    pts = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 254), (65535, 65535),
           (12345, 54321)]
    df = spark.createDataFrame(pts, ["x", "y"]).select(
        "x", "y", morton_key(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == _py_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_buckets_tight_in_both_dimensions(spark):
    # 64x64 grid; shift 6 => each bucket is an aligned 8x8 Z tile, so
    # every bucket spans exactly 8 in x AND 8 in y (a y-sorted layout
    # would span the full 64 in x for every file-sized slice).
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    stats = zorder_layout_stats(
        grid, F.col("x"), F.col("y"), bucket_shift=6
    ).collect()
    assert len(stats) == 64  # 4096 cells / 64 per tile
    for r in stats:
        assert r["n_rows"] == 64
        assert r["x_max"] - r["x_min"] == 7
        assert r["y_max"] - r["y_min"] == 7


def test_merge_upsert_replaces_matched_inserts_new_keeps_rest(spark):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["k", "state", "v"],
    )
    changes = spark.createDataFrame(
        [(2, "b2", 21.0), (9, "new", 90.0)], ["k", "state", "v"]
    )
    got = {
        r["k"]: (r["state"], r["v"])
        for r in merge_upsert(base, changes, ["k"]).collect()
    }
    assert got == {
        1: ("a", 10.0),
        2: ("b2", 21.0),
        3: ("c", 30.0),
        9: ("new", 90.0),
    }
