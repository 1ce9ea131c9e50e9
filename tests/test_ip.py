"""IP classifier tests — the reference's boundary table verbatim
(tests/test_classify_ip.py:38-67) against BOTH the Catalyst expressions
(``classify_ips``) and the driver-local twin."""

from __future__ import annotations

import pytest

from juniper_syslog_filter_spark.functions.ip import (
    classify_ip_address,
    classify_ips,
    is_private_ip,
)

CASES = [
    ("10.0.0.1", "private"),
    ("10.255.255.255", "private"),
    ("172.16.0.1", "private"),
    ("172.31.255.255", "private"),
    ("172.15.0.1", "global"),
    ("172.32.0.1", "global"),
    ("192.168.0.1", "private"),
    ("192.168.255.254", "private"),
    ("192.167.0.1", "global"),
    ("8.8.8.8", "global"),
    ("203.0.113.10", "global"),
    ("", ""),
    ("   ", ""),
    ("invalid", "global"),
    ("1.2.3", "global"),
    ("1.2.3.4.5", "global"),
    ("256.1.1.1", "global"),
    ("10.0.0.256", "global"),
    ("-1.2.3.4", "global"),
    ("a.b.c.d", "global"),
    ("010.0.0.1", "private"),  # int("010") == 10 in both engines
    # int() reads any Unicode decimal digit; the parse kernel's \d+ emits them
    ("١٠.1.2.3", "private"),
    ("１０.0.0.1", "private"),
    ("𝟏𝟗𝟐.𝟏𝟔𝟖.0.1", "private"),
    ("10.0.0.２５６", "global"),
]


@pytest.mark.parametrize("ip,expected", CASES)
def test_local_twin(ip, expected):
    assert classify_ip_address(ip) == expected


def _classified(spark, ips):
    """classify_ips over rows with srcIP == dstIP == ip: {ip: (src, dst type)}."""
    df = spark.createDataFrame([(ip, ip) for ip in ips], "srcIP string, dstIP string")
    return {r.srcIP: (r.srcIP_type, r.dstIP_type) for r in classify_ips(df).collect()}


def test_expression_matches_reference_table(spark):
    got = _classified(spark, [c[0] for c in CASES])
    for ip, expected in CASES:
        assert got[ip] == (expected, expected), ip


def test_null_ip_maps_to_empty(spark):
    assert _classified(spark, [None]) == {None: ("", "")}


def test_classify_ips_column_order(spark):
    """Column-order contract (reference tests/test_classify_ip.py:121-133)."""
    df = spark.createDataFrame(
        [("t", "h", "a", "10.0.0.1 > 8.8.8.8", "10.0.0.1", "8.8.8.8", "m")],
        "Timestamp string, Hostname string, AppName string, routing string, srcIP string, dstIP string, Message string",
    )
    out = classify_ips(df)
    assert out.columns == [
        "Timestamp",
        "Hostname",
        "AppName",
        "routing",
        "srcIP",
        "srcIP_type",
        "dstIP",
        "dstIP_type",
        "Message",
    ]
    r = out.collect()[0]
    assert r.srcIP_type == "private" and r.dstIP_type == "global"


def test_is_private_matches_twin(spark):
    ips = [c[0] for c in CASES]
    for ip in ips:
        py = is_private_ip(ip)
        assert (classify_ip_address(ip) == "private") == py
