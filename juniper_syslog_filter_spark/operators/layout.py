"""Data-layout operators — Z-order (Morton) interleaving for
multi-dimensional data skipping.

At 100 TB the dominant cost of most queries is the scan, and the
dominant scan optimization after partition pruning is FILE skipping on
min/max column statistics (parquet row-group stats, Iceberg manifest
ranges). Sorting by a single column makes its stats tight but leaves
every other column's file ranges spanning the whole domain; Z-ordering
interleaves the bits of two (or more) dimensions so that rows close in
the combined key are close in EVERY dimension — each file's min/max
window is narrow on all participating columns at once, and predicates
on any of them prune files. This is the layout primitive behind
Iceberg's/Delta's ``ZORDER BY`` rewrite actions.

Everything here is pure integer Catalyst arithmetic (shifts, masks,
ors) — whole-stage-codegen'd, no shuffle of its own; the intended use
is ``df.repartitionByRange(n, zkey).sortWithinPartitions(zkey)``
before a fan-out write, which spends the one shuffle the write was
already going to pay.

The bit-spread uses the classic mask ladder (each step doubles the
gap between occupied bits)::

    x &= 0xFFFF
    x = (x | x << 8) & 0x00FF00FF
    x = (x | x << 4) & 0x0F0F0F0F
    x = (x | x << 2) & 0x33333333
    x = (x | x << 1) & 0x55555555

which is engine-portable integer arithmetic — the DuckDB oracle runs
the identical ladder, so the key (and any stats derived from it) is
value-exact across engines.

Reference parity: no layout surface exists in the reference (its
"layout" is 800k-row CSV chunks, modules/merge_files.py:96-111); this
belongs to the added web-scale family, as does :func:`merge_upsert`, the
MERGE INTO dataflow that rewrites such a table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` so bit i lands at position 2i
    (even positions). Pure shift/mask ladder — codegen-friendly."""
    c = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _MASKS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def morton_key(x: Column, y: Column) -> Column:
    """32-bit Morton (Z-order) interleave of two 16-bit dimensions:
    ``x`` occupies even bit positions, ``y`` odd ones. Inputs beyond
    16 bits are masked (callers quantize real domains — e.g. a hash
    bucket, a day index — into 16 bits first)."""
    return spread16(x).bitwiseOR(F.shiftleft(spread16(y), 1))


def zorder_layout_stats(
    df: DataFrame,
    x: Column,
    y: Column,
    bucket_shift: int = 8,
) -> DataFrame:
    """Census of the Z-order layout: bucket rows by the top bits of
    their Morton key (``zkey >> bucket_shift`` — each bucket is one
    aligned Z-curve segment, i.e. one prospective file) and report per
    bucket the row count and the min/max window of BOTH dimensions.

    The windows are the operator's proof obligation: under Z-order
    every bucket is tight in x AND y simultaneously (span ≈
    2^(bucket_shift/2) per dimension), which is exactly the property
    file-skipping needs. A single-column sort would show tight x spans
    and full-domain y spans.
    """
    zkey = morton_key(x, y)
    return (
        df.select(
            F.shiftright(zkey, bucket_shift).alias("z_bucket"),
            x.alias("_x"),
            y.alias("_y"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_x").alias("x_min"),
            F.max("_x").alias("x_max"),
            F.min("_y").alias("y_min"),
            F.max("_y").alias("y_max"),
        )
    )


def merge_upsert(base: DataFrame, changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """MERGE INTO semantics as a dataflow: WHEN MATCHED THEN UPDATE
    (the change row replaces the base row wholesale), WHEN NOT MATCHED
    THEN INSERT. ``changes`` must carry at most one row per key (the
    caller compacts multi-change batches with keep-latest first — see
    operators/history.scd2_intervals' sibling u2 compaction).

    Shape: one left-anti join of base against the change KEYS (narrow
    projection — no change payload crosses the shuffle) + UNION ALL.
    Under AQE the anti side broadcasts whenever the change batch is
    small relative to the base — the common case for incremental
    upserts, making the whole MERGE map-side. This is the copy-on-write
    MERGE dataflow inside Iceberg/Delta; against a real Iceberg
    catalog, tables.write_table's overwritePartitions gives the
    transactional commit, and only partitions containing matched keys
    need rewriting.
    """
    survivors = base.join(
        changes.select(*key_cols), on=key_cols, how="left_anti"
    )
    return survivors.unionByName(changes)
