"""Deterministic synthetic Common-Crawl-style page generator.

Produces the north-rule input table ``pages(url string, warc_ts timestamp,
html binary, text string, lang string)`` whose ``html`` embeds zero-or-one
syslog-like record in the reference's message grammar
(reference: scripts/genarate_logs.py:162-166):

    <msgtext> <srcIP>/<srcPort> > <dstIP>/<dstPort> protocol=<p>
    SeverityLevel=<n> Severity=<NAME>

wrapped in a ``<pre class="log">ts host app message</pre>`` block.

Determinism: every field is a pure function of (seed, row_id) via a
vectorized splitmix64 counter hash — independent of partitioning, so the
distributed and local generators are byte-identical per url. Host ids are
deliberately skewed (power-law) to exercise salting/AQE skew handling.

Two entry points share one kernel:
  * :func:`gen_pages_pandas` — driver-local, for unit tests.
  * :func:`generate_pages` — distributed via ``spark.range`` +
    ``mapInPandas`` (scales to any row count; no driver materialization).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import SEVERITIES

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

LANGS = ["en", "en", "en", "en", "ja", "de", "es", "zh", "fr", "ru"]

# Message catalogs (reference: scripts/genarate_logs.py:29-66).
THREAT_MESSAGES = {
    "RT_SCREEN": [
        "RT_SCREEN_TCP: TCP port scan detected",
        "RT_SCREEN_ICMP: ICMP flood detected",
        "RT_SCREEN_UDP: UDP flood detected",
    ],
    "RT_IDP": [
        "RT_IDP_ATTACK_LOG: SQL injection attack detected",
        "RT_IDP_ATTACK_LOG: SSH brute force attack detected",
        "RT_IDP_ATTACK_LOG: Port scan detected",
        "RT_IDP_ATTACK_LOG: Malware signature match",
    ],
}
NORMAL_MESSAGES = {
    "RT_FLOW": ["RT_FLOW_SESSION_CREATE: session created", "RT_FLOW_SESSION_CLOSE: session closed"],
    "UI_AUTH": ["UI_AUTH_EVENT: user login succeeded"],
    "SSHD": ["SSHD_LOGIN_FAILED: ssh login failed"],
    "RT_UTM": ["RT_UTM_WEBFILTER: url permitted"],
}

FILLER = (
    "the quick crawl page web data index link site host news shop blog wiki "
    "forum image video text table list form code note item user"
).split()

_GOLD = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (x + _GOLD).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _h(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Counter-based hash: uint64 stream `stream` for each row id."""
    with np.errstate(over="ignore"):
        key = _splitmix64(np.uint64(seed) * _GOLD + np.uint64(stream))
        return _splitmix64(ids.astype(np.uint64) ^ key)


def _u(ids: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Uniform [0,1) floats, one per row id."""
    return _h(ids, seed, stream).astype(np.float64) / 2.0**64


def _choice(ids: np.ndarray, seed: int, stream: int, options: list) -> np.ndarray:
    idx = (_h(ids, seed, stream) % np.uint64(len(options))).astype(np.int64)
    return np.array(options, dtype=object)[idx]


def _int_between(ids, seed, stream, lo, hi):
    """Inclusive-range integers."""
    return (_h(ids, seed, stream) % np.uint64(hi - lo + 1)).astype(np.int64) + lo


def _private_ip(ids: np.ndarray, seed: int, base_stream: int) -> np.ndarray:
    """RFC-1918 addresses, mirroring scripts/genarate_logs.py:105-113."""
    kind = _int_between(ids, seed, base_stream, 1, 3)
    o2 = pd.Series(_int_between(ids, seed, base_stream + 1, 0, 255)).astype(str)
    o3 = pd.Series(_int_between(ids, seed, base_stream + 2, 0, 255)).astype(str)
    o4 = pd.Series(_int_between(ids, seed, base_stream + 3, 1, 254)).astype(str)
    o2b = pd.Series(_int_between(ids, seed, base_stream + 4, 16, 31)).astype(str)
    ip1 = ("10." + o2 + "." + o3 + "." + o4).values
    ip2 = ("172." + o2b + "." + o3 + "." + o4).values
    ip3 = ("192.168." + o3 + "." + o4).values
    return np.select([kind == 1, kind == 2], [ip1, ip2], default=ip3)


def _global_ip(ids: np.ndarray, seed: int, base_stream: int) -> np.ndarray:
    """Non-private addresses (mirrors scripts/genarate_logs.py:115-130)."""
    o1 = _int_between(ids, seed, base_stream, 1, 223)
    o1 = np.where((o1 == 10) | (o1 == 127), 11, o1)
    o2 = _int_between(ids, seed, base_stream + 1, 0, 255)
    o2 = np.where((o1 == 172) & (o2 >= 16) & (o2 <= 31), 15, o2)
    o2 = np.where((o1 == 192) & (o2 == 168), 167, o2)
    o3 = _int_between(ids, seed, base_stream + 2, 0, 255)
    o4 = _int_between(ids, seed, base_stream + 3, 1, 254)
    return (
        pd.Series(o1).astype(str)
        + "."
        + pd.Series(o2).astype(str)
        + "."
        + pd.Series(o3).astype(str)
        + "."
        + pd.Series(o4).astype(str)
    ).values


def gen_pages_pandas(
    ids: np.ndarray,
    seed: int = 42,
    threat_ratio: float = 0.1,
    record_ratio: float = 0.9,
    n_hosts: int = 1000,
) -> pd.DataFrame:
    """The shared deterministic kernel: page rows for the given row ids.

    ``record_ratio`` of pages embed one syslog record; threats follow the
    reference mix (RT_SCREEN/RT_IDP, 30% CRITICAL / 70% WARNING,
    scripts/genarate_logs.py:148-158); normals are INFO/NOTICE.
    """
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)

    # Skewed host distribution: u^4 concentrates mass on low host ids —
    # a few heavy hosts, a long tail (exercises salting / AQE skew).
    host_id = (np.power(_u(ids, seed, 1), 4.0) * n_hosts).astype(np.int64)
    host = "host" + pd.Series(host_id).astype(str) + ".example.com"
    url = ("https://" + host + "/page/" + pd.Series(ids).astype(str)).values

    base = np.datetime64("2025-04-28T00:00:00")
    warc_ts = base + (_h(ids, seed, 2) % np.uint64(86400)).astype("timedelta64[s]")

    lang = _choice(ids, seed, 3, LANGS)

    # Page body text: 8-40 deterministic filler words.
    n_words = _int_between(ids, seed, 4, 8, 40)
    word_idx = [(_h(ids, seed, 100 + w) % np.uint64(len(FILLER))).astype(np.int64) for w in range(40)]
    filler_arr = np.array(FILLER, dtype=object)
    word_cols = np.stack([filler_arr[wi] for wi in word_idx], axis=1)
    text = np.array(
        [" ".join(word_cols[i, : n_words[i]]) for i in range(n)], dtype=object
    )

    # Syslog record fields (reference grammar).
    is_threat = _u(ids, seed, 5) < threat_ratio
    threat_app = _choice(ids, seed, 6, ["RT_SCREEN", "RT_IDP"])
    normal_app = _choice(ids, seed, 7, list(NORMAL_MESSAGES.keys()))
    appname = np.where(is_threat, threat_app, normal_app)

    severity = np.where(
        is_threat,
        np.where(_u(ids, seed, 8) < 0.3, "CRITICAL", "WARNING"),
        _choice(ids, seed, 9, ["INFO", "NOTICE"]),
    )
    sev_level = pd.Series(severity).map(SEVERITIES).astype(np.int64).values

    msg_pick = _u(ids, seed, 10)
    msgtext = np.empty(n, dtype=object)
    for app, msgs in {**THREAT_MESSAGES, **NORMAL_MESSAGES}.items():
        m = appname == app
        if m.any():
            k = (msg_pick[m] * len(msgs)).astype(np.int64)
            msgtext[m] = np.array(msgs, dtype=object)[k]

    src_ip = _private_ip(ids, seed, 20)
    dst_ip = np.where(
        _u(ids, seed, 30) < 0.6,
        _private_ip(ids, seed, 31),
        _global_ip(ids, seed, 36),
    )
    src_port = _int_between(ids, seed, 40, 1024, 65535)
    dst_port = _choice(ids, seed, 41, [22, 80, 443, 53, 123, 8080])
    protocol = _choice(ids, seed, 42, ["tcp", "udp", "icmp"])

    ts_str = pd.Series(warc_ts).dt.strftime("%Y-%m-%dT%H:%M:%SZ").values
    message = (
        pd.Series(msgtext)
        + " "
        + pd.Series(src_ip)
        + "/"
        + pd.Series(src_port).astype(str)
        + " > "
        + pd.Series(dst_ip)
        + "/"
        + pd.Series(dst_port.astype(np.int64)).astype(str)
        + " protocol="
        + pd.Series(protocol)
        + " SeverityLevel="
        + pd.Series(sev_level).astype(str)
        + " Severity="
        + pd.Series(severity)
    ).values

    has_record = _u(ids, seed, 50) < record_ratio
    log_block = (
        '<pre class="log">'
        + pd.Series(ts_str)
        + " "
        + host.values
        + " "
        + pd.Series(appname)
        + " "
        + pd.Series(message)
        + "</pre>"
    ).values
    html_str = (
        "<html><head><title>page "
        + pd.Series(ids).astype(str)
        + "</title></head><body><p>"
        + pd.Series(text)
        + "</p>"
        + pd.Series(np.where(has_record, log_block, ""))
        + "</body></html>"
    ).values
    html = np.array([s.encode("utf-8") for s in html_str], dtype=object)

    return pd.DataFrame(
        {
            "url": url,
            "warc_ts": pd.Series(warc_ts),
            "html": html,
            "text": text,
            "lang": lang,
        }
    )


def generate_pages(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    threat_ratio: float = 0.1,
    record_ratio: float = 0.9,
    n_hosts: int = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed generation: ``spark.range`` → ``mapInPandas``.

    Partition-count-independent output (fields derive from row id only), so
    the same (seed, n_rows) yields the same table at any parallelism —
    required for the two-cluster-size bench comparison.
    """
    if num_partitions is None:
        num_partitions = max(8, (spark.sparkContext.defaultParallelism or 8))

    def gen(batches):
        for pdf in batches:
            yield gen_pages_pandas(
                pdf["id"].values,
                seed=seed,
                threat_ratio=threat_ratio,
                record_ratio=record_ratio,
                n_hosts=n_hosts,
            )

    rng = spark.range(0, n_rows, numPartitions=num_partitions)
    return rng.mapInPandas(gen, schema=PAGES_SCHEMA)


def write_pages(spark: SparkSession, path: str, n_rows: int, **kwargs) -> None:
    """Materialize a pages table as parquet (Iceberg stand-in, SURVEY §7.4.7)."""
    generate_pages(spark, n_rows, **kwargs).write.mode("overwrite").parquet(path)


def severity_dim(spark: SparkSession) -> DataFrame:
    """Broadcast enrich dimension (reference: scripts/genarate_logs.py:69-78)."""
    from . import SEVERITY_CLASS

    rows = [(name, lvl, SEVERITY_CLASS[name]) for name, lvl in SEVERITIES.items()]
    return spark.createDataFrame(rows, "severity string, severity_level int, severity_class string")


def device_dim(spark: SparkSession, n_hosts: int = 1000) -> DataFrame:
    """Device metadata dimension keyed by hostname (north rule enrich)."""
    rows = [
        (f"host{i}.example.com", f"site-{i % 10}", f"srx-{i % 3 + 1}00")
        for i in range(n_hosts)
    ]
    return spark.createDataFrame(rows, "hostname string, site string, model string")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
