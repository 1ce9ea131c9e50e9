"""The driver-query registry: each query is declared once, as
``q_<name>`` under ``@query(oracle=...)``, and QUERIES / ORACLE_SQL are
built from those declarations. Needs no Spark session."""

from __future__ import annotations

import pytest

from juniper_syslog_filter_spark.driver_queries import ORACLE_SQL, QUERIES
from juniper_syslog_filter_spark.driver_queries.common import query

# looked up by name in pipebench/workloads.py
PIPEBENCH_QUERIES = {
    "m1_parse_classify",
    "m2_critical_routed",
    "j1_broadcast_enrich",
    "wc1_warc_source",
    "mm5_png_decode",
    "d6_dup_clusters",
    "d12_cc_star",
    "t12_bigram_lm",
}


def test_every_query_is_named_after_its_function():
    assert len(QUERIES) == 124
    for name, fn in QUERIES.items():
        assert fn.__name__ == f"q_{name}"


def test_every_query_but_st1_has_an_oracle():
    assert set(ORACLE_SQL) == set(QUERIES) - {"st1_sessionize_stream"}
    assert all(sql.strip() for sql in ORACLE_SQL.values())


def test_pipebench_queries_are_registered():
    assert PIPEBENCH_QUERIES <= set(QUERIES)


def test_a_name_registers_once():
    before = dict(QUERIES)
    with pytest.raises(ValueError, match="p1_filter_keyword"):

        @query(oracle="SELECT 1")
        def q_p1_filter_keyword(spark, sf_dir):
            return None

    assert QUERIES == before
    assert ORACLE_SQL["p1_filter_keyword"] != "SELECT 1"
