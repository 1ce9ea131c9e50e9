"""Correctness oracles the benchmark checks every run against.

Pipeline oracle: the expected per-sink ``(severity, lang, date)`` record
counts of a generated pages table, computed straight from
``datagen.gen_pages_pandas`` output with Python ``re`` — written here from
the page grammar, not imported from ``functions/parse.py``, so a parse
regression cannot also move the expectation.

Query oracle: each driver query's ``ORACLE_SQL`` DuckDB twin over the same
generated tables, compared order-insensitively.
"""

from __future__ import annotations

import glob
import os
import re
from collections import Counter

import pandas as pd
import pyarrow.dataset as ds

# A page carries at most one record: <pre class="log">ts host app message</pre>.
_RECORD = re.compile(r'<pre class="log">\S+ \S+ \S+ ([^<]*)</pre>')
_SEVERITY = re.compile(r"Severity=(\w+)")

SinkKey = tuple[str, str, str]  # (severity, lang, yyyy-mm-dd)


def expected_counts(
    pages: pd.DataFrame, keyword: str | None = None, severity: str | None = None
) -> Counter:
    """Routed-record count per sink key for one pages frame."""
    out: Counter = Counter()
    dates = pd.to_datetime(pages["warc_ts"], utc=True).dt.strftime("%Y-%m-%d")
    for html, lang, date in zip(pages["html"], pages["lang"], dates):
        m = _RECORD.search(html.decode("utf-8", errors="replace"))
        if m is None:
            continue
        message = m.group(1)
        if keyword is not None and keyword not in message:
            continue
        sev = _SEVERITY.search(message)
        sev_name = sev.group(1) if sev else ""
        if severity is not None and sev_name != severity:
            continue
        out[(sev_name, lang, date)] += 1
    return out


def counts_to_json(c: Counter) -> list[list]:
    return [[*k, n] for k, n in sorted(c.items())]


def counts_from_json(rows: list[list]) -> Counter:
    return Counter({tuple(r[:3]): r[3] for r in rows})


def read_agg(agg_path: str, batch: str | None = None) -> Counter:
    """The ``agg`` sink (all batches, or one) as a sink-key counter."""
    if not glob.glob(os.path.join(agg_path, "batch=*", "*.parquet")):
        return Counter()
    tbl = ds.dataset(agg_path, format="parquet", partitioning="hive").to_table()
    pdf = tbl.to_pandas()
    if batch is not None:
        pdf = pdf[pdf["batch"].astype(str) == batch]
    out: Counter = Counter()
    for sev, lang, date, n in zip(pdf["severity"], pdf["lang"], pdf["date"], pdf["n"]):
        out[(sev, lang, pd.Timestamp(date).strftime("%Y-%m-%d"))] += int(n)
    return out


def pipeline_errors(expected: Counter, agg: Counter, rows_routed: int) -> list[str]:
    """Mismatches between one pipeline result and its oracle (empty = ok)."""
    errs = []
    if agg != expected:
        diff = sorted(set(agg.items()) ^ set(expected.items()))[:4]
        errs.append(f"agg sink differs from oracle: {diff}")
    if rows_routed != sum(expected.values()):
        errs.append(f"rows_routed {rows_routed} != oracle {sum(expected.values())}")
    if sum(agg.values()) != rows_routed:
        errs.append(f"sum(agg.n) {sum(agg.values())} != rows_routed {rows_routed}")
    return errs


# ---------------------------------------------------------------------------
# Driver queries vs their DuckDB twins.
# ---------------------------------------------------------------------------


def _norm(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        return round(v, 6) if isinstance(v, float) else v

    return sorted(
        (tuple(val(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def query_errors(spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    if sorted(spark_cols) != sorted(duck_cols):
        return [f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"rows {len(spark_rows)} != {len(duck_rows)}"]
    a, b = _norm(spark_rows, spark_cols), _norm(duck_rows, duck_cols)
    for x, y in zip(a, b):
        if x != y:
            return [f"first differing row: spark={x} duckdb={y}"]
    return []


def duckdb_connection(tables_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con
