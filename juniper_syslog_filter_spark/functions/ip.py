"""RFC-1918 IP classification — reference F6/F7 rebuilt as pure Catalyst
column expressions (JVM-side, whole-stage codegen; the reference's ONLY
non-vectorized op, a per-row ``.apply`` at modules/classify_ip.py:152-153,
must NOT become a per-row Python UDF — input_hint).

Edge semantics replicated exactly (modules/classify_ip.py:32-101):

* ``""`` / whitespace-only / null  → ``""``
* malformed non-empty (not 4 parts, non-numeric, octet out of 0-255) →
  ``"global"`` (is_private returns False, classify falls through)
* 10/8, 172.16/12, 192.168/16 → ``"private"``; all else ``"global"``

Python ``int(part)`` tolerates surrounding whitespace and leading zeros;
Spark's ``CAST(s AS INT)`` does the same, so the two agree on those edges.
``int()`` also reads every Unicode decimal digit (category Nd, e.g.
``'١٠'`` or ``'１０'`` is 10), which the cast rejects; the parse kernel's
``\\d+`` emits such IPs, so non-ASCII digits are mapped to ASCII first.
"""

from __future__ import annotations

import sys
import unicodedata
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Every non-ASCII Unicode decimal digit, and its ASCII digit at the same
# position: one ``translate`` table, the digits Python's ``int()`` reads.
_ND_DIGITS = "".join(c for c in map(chr, range(0x80, sys.maxunicode + 1)) if c.isdecimal())
_ND_ASCII = "".join(str(unicodedata.decimal(c)) for c in _ND_DIGITS)


def _ascii_digits(ip: Column) -> Column:
    """ip with Unicode decimal digits mapped to ASCII. An all-ASCII value
    (octet length == char length) skips the translate."""
    return F.when(
        F.octet_length(ip) != F.length(ip), F.translate(ip, _ND_DIGITS, _ND_ASCII)
    ).otherwise(ip)


def _octet(ip: Column, i: int) -> Column:
    """i-th dot-separated part (1-based) as nullable int.

    ``substring_index`` is a plain byte scan — no regex. Catalyst does
    not share subtrees across a Project, so every building block here
    must be regex-free: the previous ``split()``-based formulation
    evaluated ~50 regex splits per row and was ~50x slower at 1M rows.
    ``try_cast``: malformed → null (ANSI-safe), matching Python
    ``int()``'s ValueError → False path in the reference; both trim
    surrounding whitespace and accept leading zeros/signs.
    """
    return F.substring_index(F.substring_index(ip, ".", i), ".", -1).try_cast("int")


def _is_private(ip: Column) -> Column:
    """Boolean column: ip (ASCII digits) is a valid RFC-1918 private address."""
    # Exactly 3 dots ⇔ 4 parts (translate deletes, no regex).
    ndots = F.length(ip) - F.length(F.translate(ip, ".", ""))
    octs = [_octet(ip, i) for i in range(1, 5)]
    in_range = reduce(and_, [o.isNotNull() & (o >= 0) & (o <= 255) for o in octs])
    valid = (ndots == 3) & in_range
    private = (
        (octs[0] == 10)
        | ((octs[0] == 172) & (octs[1] >= 16) & (octs[1] <= 31))
        | ((octs[0] == 192) & (octs[1] == 168))
    )
    return F.coalesce(valid & private, F.lit(False))


def _classify(ip: Column) -> Column:
    """'' | 'private' | 'global' for an ip with ASCII digits."""
    return (
        F.when(ip.isNull() | (F.trim(ip) == ""), F.lit(""))
        .when(_is_private(ip), F.lit("private"))
        .otherwise(F.lit("global"))
    )


def classify_ips(df: DataFrame) -> DataFrame:
    """F7 driver (modules/classify_ip.py:104-206): add srcIP_type /
    dstIP_type after the corresponding IP columns, preserving the
    reference's column-order contract (tests/test_classify_ip.py:121-133).

    Each IP is classified from a copy with ASCII digits made in a
    projection of its own. :func:`_classify` reads its input ~20 times,
    and inlining the translate into every read made the generated code
    ~4x slower, on all-ASCII rows too.
    """
    ips = ("srcIP", "dstIP")
    cols = [c for c in df.columns if c not in ("srcIP_type", "dstIP_type")]
    df = df.select(*cols, *(_ascii_digits(F.col(c)).alias(f"{c}_ascii") for c in ips))
    ordered: list[Column] = []
    for c in cols:
        ordered.append(F.col(c))
        if c in ips:
            ordered.append(_classify(F.col(f"{c}_ascii")).alias(f"{c}_type"))
    return df.select(*ordered)


# Driver-local twins for unit tests (same contract as the reference's
# pure functions; used to cross-check the expressions).

def is_private_ip(ip: str | None) -> bool:
    if not ip or ip.strip() == "":
        return False
    parts = ip.split(".")
    if len(parts) != 4:
        return False
    try:
        octets = [int(p) for p in parts]
    except ValueError:
        return False
    if not all(0 <= o <= 255 for o in octets):
        return False
    return (
        octets[0] == 10
        or (octets[0] == 172 and 16 <= octets[1] <= 31)
        or (octets[0] == 192 and octets[1] == 168)
    )


def classify_ip_address(ip: str | None) -> str:
    if not ip or ip.strip() == "":
        return ""
    return "private" if is_private_ip(ip) else "global"
