"""Property-based (hypothesis) equivalence tests.

Each hot function here is checked against a driver-local Python oracle.
Some have one implementation (the F1-F5 parse kernel, checked against
per-row ``re.search``); others keep a second form (a Catalyst expression
next to a pandas_udf kernel, or an expression next to a Python twin),
and the fixed-corpus tests assert the forms agree on curated examples.
These properties assert the same on RANDOM inputs: hypothesis drives
adversarial strings (weird and non-ASCII whitespace, Unicode digits and
letters, stopword fragments, malformed IPs, boundary octets) through
every form at once.

Each example batches its generated rows into ONE small Spark job;
max_examples is kept low because a Spark round-trip costs ~0.2 s.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.functions import text as T
from juniper_syslog_filter_spark.functions.ip import (
    classify_ip_address,
    classify_ips,
)
from juniper_syslog_filter_spark.functions.text import STOPWORDS
from juniper_syslog_filter_spark.operators.dedup import simhash, simhash_expr

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# Words biased toward collisions with the stopword lists plus arbitrary
# ASCII tokens; joined with single spaces (the tokenizer's delimiter).
_all_stopwords = sorted(set().union(*STOPWORDS.values()))
_word = st.one_of(
    st.sampled_from(_all_stopwords),
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzüéñç0123456789", min_size=1, max_size=8
    ),
)
_text = st.lists(_word, min_size=0, max_size=30).map(" ".join)


@given(texts=st.lists(_text, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_text_kernels_match_expressions(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        T.lang_id(F.col("t")).alias("k_lang"),
        T.lang_id_expr(F.col("t")).alias("e_lang"),
        T.rolling_hash(F.col("t")).alias("k_roll"),
        T.rolling_hash_expr(F.col("t")).alias("e_roll"),
        simhash(F.col("t"), 32).alias("k_sim"),
        simhash_expr(F.col("t"), 32).alias("e_sim"),
    ).collect()
    for r in rows:
        assert r.k_lang == r.e_lang
        assert r.k_roll == r.e_roll
        assert r.k_sim == r.e_sim


# Decimal digits in several scripts: Python's int() and re's \d read them
# all, the JVM's cast and regex only ASCII.
_DIGIT_SCRIPTS = ["0123456789", "٠١٢٣٤٥٦٧٨٩", "０１２３４５６７８９", "𝟎𝟏𝟐𝟑𝟒𝟓𝟔𝟕𝟖𝟗"]
_ND = "".join(_DIGIT_SCRIPTS)


def _in_script(s: str, script: str) -> str:
    return s.translate(str.maketrans("0123456789", script))


# IPv4-shaped and garbage inputs: valid octets, boundary values around
# the RFC-1918 edges, too-large octets, wrong arity, junk separators,
# non-ASCII digits.
_octet = st.one_of(
    st.integers(min_value=0, max_value=255),
    st.sampled_from([9, 10, 11, 171, 172, 173, 15, 16, 31, 32, 167, 168, 169]),
    st.integers(min_value=256, max_value=999),
)
_ip = st.tuples(_octet, _octet, _octet, _octet, st.sampled_from(_DIGIT_SCRIPTS)).map(
    lambda t: _in_script(".".join(map(str, t[:4])), t[4])
)
_ipish = st.one_of(
    st.tuples(_octet, _octet, _octet, _octet).map(
        lambda t: ".".join(map(str, t))
    ),
    _ip,
    st.tuples(_octet, _octet, _octet).map(lambda t: ".".join(map(str, t))),
    st.sampled_from(["", " ", "...", "a.b.c.d", "10.0.0.1.2", "10..0.1"]),
    st.text(alphabet=_ND + ". ", min_size=0, max_size=16),
)


@given(ips=st.lists(_ipish, min_size=1, max_size=12))
@settings(**SETTINGS)
def test_ip_classifier_expr_matches_python(spark, ips):
    df = spark.createDataFrame([(ip, ip) for ip in ips], "srcIP string, dstIP string")
    for r in classify_ips(df).collect():
        want = classify_ip_address(r.srcIP)
        assert (r.srcIP_type, r.dstIP_type) == (want, want), repr(r.srcIP)


# Syslog-ish messages: grammar fragments permuted with noise so the
# extraction regexes see matches, near-misses, and absent fields, over an
# alphabet with Unicode digits, accented letters, a combining mark (\w
# does not match it) and NBSP / EM SPACE (\s matches them).
_WS = [" ", "  ", "\u00a0", "\u2003", ""]
_LETTERS = "abcTCPUDéÉñß" + "\u0301"
_frag = st.one_of(
    st.tuples(_ip, _octet, st.sampled_from(_WS), st.sampled_from(_WS), _ip, _octet).map(
        lambda t: f"{t[0]}/{t[1]}{t[2]}>{t[3]}{t[4]}/{t[5]}"
    ),
    st.text(alphabet=_LETTERS + _ND, min_size=0, max_size=6).map(lambda w: f"protocol={w}"),
    st.text(alphabet=_ND + "x", min_size=0, max_size=3).map(lambda w: f"SeverityLevel={w}"),
    st.text(alphabet=_LETTERS + "CRITÉ", min_size=0, max_size=8).map(lambda w: f"Severity={w}"),
    st.sampled_from(["TCP", "protocol TCP", "protocol-id: 6", "severity 5", "CRITICAL"]),
    st.text(alphabet="abcdef0123456789 .>:-/=" + _LETTERS + _ND + "".join(_WS), min_size=0, max_size=12),
)
_msg = st.lists(_frag, min_size=0, max_size=6).map(" ".join)


@given(msgs=st.lists(_msg, min_size=1, max_size=10))
@settings(**SETTINGS)
def test_message_fields_match_python_re(spark, msgs):
    from tests.test_parse import message_fields_rows, re_fields

    rows = message_fields_rows(spark, msgs)
    assert [r.Message for r in rows] == msgs
    for r in rows:
        got = {k: v for k, v in r.asDict().items() if k != "Message"}
        assert got == re_fields(r.Message), repr(r.Message)


# ---------------------------------------------------------------------------
# round-3 additions: quality cascade / n-grams / hash split vs Python oracles
# ---------------------------------------------------------------------------


def _py_quality_rule(text: str, n_chars: int) -> str:
    """Driver-local Python oracle of functions.text.quality_rule_expr."""
    ws = text.split(" ")
    nw = len(ws)
    mwl = (len(text) - nw + 1) / nw
    stop_frac = sum(1 for w in ws if w in T.QUALITY_STOPWORDS) / nw
    if nw < 40:
        return "too_short"
    if n_chars > 450:
        return "too_long"
    if mwl < 4.05 or mwl > 4.6:
        return "word_len"
    if stop_frac < 0.04:
        return "low_stopword"
    return "keep"


@given(
    rows=st.lists(
        st.tuples(
            st.lists(_word, min_size=1, max_size=60).map(" ".join),
            st.integers(min_value=0, max_value=600),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_quality_rule_expr_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "t string, n_chars long")
    got = df.select(
        "t",
        "n_chars",
        T.quality_rule_expr(F.col("t"), F.col("n_chars")).alias("rule"),
    ).collect()
    for r in got:
        assert r.rule == _py_quality_rule(r.t, r.n_chars), r.t


@given(
    texts=st.lists(
        st.lists(_word, min_size=0, max_size=20).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=2, max_value=5),
)
@settings(**SETTINGS)
def test_word_ngram_array_matches_python(spark, texts, n):
    from juniper_syslog_filter_spark.operators.contamination import (
        word_ngram_array,
    )

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = df.select(
        "t", word_ngram_array(F.col("t"), n).alias("g")
    ).collect()
    for r in got:
        ws = r.t.split(" ")
        want = (
            [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
            if len(ws) >= n
            else []
        )
        assert r.g == want, (r.t, n)


@given(ids=st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=20, unique=True))
@settings(**SETTINGS)
def test_train_val_split_matches_python_md5(spark, ids):
    import hashlib

    from juniper_syslog_filter_spark.operators.sampling import train_val_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.split for r in train_val_split(df, "doc_id").collect()}
    for i in ids:
        hx = hashlib.md5(f"{i}:split:42".encode()).hexdigest()[:2]
        want = "test" if hx < "0d" else ("val" if hx < "1a" else "train")
        assert got[i] == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["a", "b", "c", "hot"])),
        min_size=1,
        max_size=40,
    ),
    n_salts=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_salted_join_matches_plain_join(spark, rows, n_salts):
    """Salting rewrites the physical distribution only: for ANY fact
    frame, dim and salt width, the salted join's multiset of rows
    equals the plain join's."""
    from juniper_syslog_filter_spark.operators.skewjoin import salted_join

    fact = spark.createDataFrame(
        [(i, k) for i, (_, k) in enumerate(rows)], "row_id: long, k: string"
    )
    dim = spark.createDataFrame(
        [("a", 1), ("hot", 2), ("zz", 3)], "k: string, w: int"
    )
    got = sorted(
        map(
            tuple,
            salted_join(
                fact, dim, on="k", entropy_col="row_id", n_salts=n_salts
            ).collect(),
        )
    )
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want


# -- exact_substring_spans vs brute force -----------------------------------

# Tiny vocabulary maximizes shared k-grams and within-doc gram repeats —
# the adversarial regime for the diagonal run-merge (repeated grams hit
# multiple diagonals; runs abut and must not merge across gaps).
_span_word = st.sampled_from(["a", "b", "c", "dd"])
_span_doc = st.lists(_span_word, min_size=0, max_size=24).map(" ".join)


@given(docs=st.lists(_span_doc, min_size=2, max_size=5))
@settings(**SETTINGS)
def test_substring_spans_property(spark, docs):
    from tests.test_dedup import _spans_brute
    from juniper_syslog_filter_spark.operators.dedup import (
        exact_substring_spans,
    )

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    k, min_len, cap = 3, 4, 3
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_words)
        for r in exact_substring_spans(
            df, "doc_id", "text", k=k, min_len=min_len, max_docs_per_gram=cap
        ).collect()
    }
    assert got == _spans_brute(rows, k=k, min_len=min_len, cap=cap)


# ---------------------------------------------------------------------------
# PNG codec round-trip (functions/png.py) — pure Python, no Spark session
# ---------------------------------------------------------------------------

_png_dims = st.tuples(
    st.integers(min_value=1, max_value=12),  # h
    st.integers(min_value=1, max_value=12),  # w
    st.sampled_from([1, 2, 3, 4]),           # channels
)


@given(
    dims=_png_dims,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    filters=st.lists(
        st.integers(min_value=0, max_value=4), min_size=1, max_size=5
    ),
)
@settings(**SETTINGS)
def test_png_roundtrip_property(dims, seed, filters):
    """encode→decode is the identity for every shape / channel count /
    per-row filter assignment — the property the mm5 oracle relies on."""
    import numpy as np

    from juniper_syslog_filter_spark.functions.png import (
        decode_png,
        encode_png,
    )

    h, w, c = dims
    rng = np.random.RandomState(seed)
    shape = (h, w) if c == 1 else (h, w, c)
    a = rng.randint(0, 256, size=shape).astype(np.uint8)
    out = decode_png(encode_png(a, filters=filters))
    assert out.shape == a.shape and (out == a).all()
