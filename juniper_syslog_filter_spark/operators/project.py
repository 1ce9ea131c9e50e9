"""Projection operators (SURVEY.md §2.2 P4, §1.3 column-order contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def reduce_columns(df: DataFrame, keep_columns: list[int]) -> DataFrame:
    """P4 (modules/reduce_columns.py:22-107): positional projection with
    bounds checks. Catalyst prunes columns automatically; this exists for
    the explicit output-schema contract (default reference indices
    ``[0, 1, 2, 6]`` keep Timestamp, Hostname, AppName, Message)."""
    n = len(df.columns)
    bad = [i for i in keep_columns if i < 0 or i >= n]
    if bad:
        raise IndexError(f"keep_columns out of range {bad} for {n} columns")
    return df.select(*[df.columns[i] for i in keep_columns])
