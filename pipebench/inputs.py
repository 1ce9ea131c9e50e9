"""Seeded workload inputs, generated driver-side and cached per seed.

Every input is a pure function of (workload, seed, sizes): the page
tables come from ``datagen.gen_pages_pandas`` (the package's own
deterministic generator), the query tables from a small numpy generator
here that mirrors the schemas the driver queries read. Inputs are
written with pyarrow, so generating them needs no Spark session and is
never billed to ``setup_s`` or to any timed operation.

Cache layout: ``<root>/.pipebench_cache/<workload>-s<seed>-<key>/`` with
a ``_READY`` marker written last, so an interrupted generation is
regenerated rather than read half-written.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from juniper_syslog_filter_spark.datagen import gen_pages_pandas

CACHE_DIR = ".pipebench_cache"
KEEP_PER_WORKLOAD = 12  # cached seeds kept per workload; oldest go first

# Arrow schema of a pages file, as Spark would write PAGES_SCHEMA.
PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages_file(pdf: pd.DataFrame, path: str) -> None:
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("warc_ts"),
        "warc_ts",
        tbl.column("warc_ts").cast(pa.timestamp("us", tz="UTC")),
    )
    pq.write_table(tbl.cast(PAGES_ARROW), path)


def write_pages_table(
    out_dir: str, seed: int, first_id: int, n_pages: int, n_files: int, each=None
) -> None:
    """``n_pages`` pages with ids ``[first_id, first_id + n_pages)`` as
    ``n_files`` parquet files (one scan split each). ``each``, if given, is
    called with every file's frame, so a caller can derive more from the
    pages without generating them twice."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(first_id, first_id + n_pages, n_files + 1).astype(np.int64)
    for i in range(n_files):
        pdf = gen_pages_pandas(np.arange(bounds[i], bounds[i + 1], dtype=np.int64), seed=seed)
        write_pages_file(pdf, os.path.join(out_dir, f"part-{i:05d}.parquet"))
        if each is not None:
            each(pdf)


# ---------------------------------------------------------------------------
# Query tables (events, documents) in the driver-table schemas.
# ---------------------------------------------------------------------------

EVENT_TYPES = ["error", "view", "signup", "purchase", "click"]
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def events_frame(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": base + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(10, n // 66), n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
        }
    )


def documents_frame(n: int, seed: int) -> pd.DataFrame:
    """Documents of 10-100 words; ~5% are near-duplicates of an earlier
    document (one word replaced by ``dup``) so the dedup queries have
    clusters to find."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(DOC_LANGS, dtype=object)[rng.integers(0, len(DOC_LANGS), n)],
            "source": ["src%d" % k for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_query_tables(out_dir: str, seed: int, n_events: int, n_docs: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in (
        ("events", events_frame(n_events, seed)),
        ("documents", documents_frame(n_docs, seed)),
    ):
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )


# ---------------------------------------------------------------------------
# Cache.
# ---------------------------------------------------------------------------


def cached(root: str, workload: str, seed: int, spec: dict, build) -> str:
    """Directory holding ``build(dir)``'s output for (workload, seed, spec),
    generated on first use. Keeps the newest KEEP_PER_WORKLOAD entries."""
    key = hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:10]
    base = os.path.join(root, CACHE_DIR)
    path = os.path.join(base, f"{workload}-s{seed}-{key}")
    if os.path.exists(os.path.join(path, "_READY")):
        os.utime(path)
        return path
    shutil.rmtree(path, ignore_errors=True)
    build(path)
    with open(os.path.join(path, "_READY"), "w") as fh:
        json.dump(spec, fh)
    mine = sorted(
        (os.path.getmtime(os.path.join(base, d)), d)
        for d in os.listdir(base)
        if d.startswith(f"{workload}-s")
    )
    for _, d in mine[:-KEEP_PER_WORKLOAD]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path
