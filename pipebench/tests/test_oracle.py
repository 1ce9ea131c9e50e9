"""The independent correctness oracle."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import oracle
from juniper_syslog_filter_spark.datagen import gen_pages_pandas
from juniper_syslog_filter_spark.functions.parse import parse_records_pandas


def _kernel_counts(pages: pd.DataFrame, keyword=None, severity=None) -> Counter:
    """The same expectation through the package's own parse kernel."""
    rec = parse_records_pandas(pages, keyword=keyword)
    if severity is not None:
        rec = rec[rec["Severity"] == severity]
    dates = pd.to_datetime(rec["warc_ts"], utc=True).dt.strftime("%Y-%m-%d")
    return Counter(zip(rec["Severity"], rec["lang"], dates))


def test_oracle_agrees_with_parse_kernel_on_generated_pages():
    pages = gen_pages_pandas(np.arange(3000), seed=5)
    for kw, sev in [(None, None), ("RT_IDP_ATTACK", "CRITICAL"), ("ssh", None)]:
        expected = oracle.expected_counts(pages, keyword=kw, severity=sev)
        assert expected == _kernel_counts(pages, kw, sev)
        assert sum(expected.values()) > 0
    # about 90% of generated pages carry a record
    assert 2500 < sum(oracle.expected_counts(pages).values()) < 2900


def test_oracle_handles_recordless_and_odd_pages():
    pages = pd.DataFrame(
        {
            "html": [
                b"<html>no record</html>",
                b'<pre class="log">t h app msg without a level</pre>',
                '<pre class="log">t h app Severity=WARNING café</pre>'.encode(),
            ],
            "lang": ["en", "de", "fr"],
            "warc_ts": pd.to_datetime(["2025-04-28T01:00:00Z"] * 3),
        }
    )
    assert oracle.expected_counts(pages) == Counter(
        {("", "de", "2025-04-28"): 1, ("WARNING", "fr", "2025-04-28"): 1}
    )


def test_read_agg_and_mismatch_detection(tmp_path):
    agg = tmp_path / "agg"
    for batch, n in (("b1", 3), ("b2", 4)):
        d = agg / f"batch={batch}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table(
                {
                    "severity": ["INFO"],
                    "lang": ["en"],
                    "date": pa.array([pd.Timestamp("2025-04-28").date()], pa.date32()),
                    "n": pa.array([n], pa.int64()),
                }
            ),
            d / "part-0.parquet",
        )
    key = ("INFO", "en", "2025-04-28")
    assert oracle.read_agg(str(agg)) == Counter({key: 7})
    assert oracle.read_agg(str(agg), batch="b2") == Counter({key: 4})
    assert oracle.read_agg(str(tmp_path / "missing")) == Counter()

    good = Counter({key: 7})
    assert oracle.pipeline_errors(good, oracle.read_agg(str(agg)), 7) == []
    assert len(oracle.pipeline_errors(Counter({key: 8}), good, 7)) == 2
    assert len(oracle.pipeline_errors(good, good, 6)) == 2


def test_query_compare_is_order_insensitive():
    cols = ["a", "b"]
    rows = [(1, 0.1234567), (2, 2.0)]
    assert oracle.query_errors(cols, rows, ["b", "a"], [(2.0, 2), (0.1234571, 1)]) == []
    assert oracle.query_errors(cols, rows, cols, rows[:1])
    assert oracle.query_errors(cols, rows, ["a", "c"], rows)
    assert oracle.query_errors(cols, rows, cols, [(1, 0.1234567), (3, 2.0)])
