"""Deterministic group-quota sampling — domain-mix balancing.

A training-data pipeline caps how many documents any one source/domain
may contribute (a handful of mega-hosts otherwise dominate a web
corpus). The reference repo has no sampling surface (its datasets are
bounded syslog archives); this operator is part of the added
training-data family, like the dedup/ANN modules.

Semantics: keep at most ``k`` rows per group, selected by a
DETERMINISTIC pseudo-random order — md5 of the row id, tie-broken by
the id — so the sample is reproducible run-to-run and restatable in
ANSI SQL (``row_number() OVER (PARTITION BY group ORDER BY md5(id),
id)``), unlike ``rand()``-based sampling.

Scale design: a naive window puts ALL rows of a group through one
reducer — a single hot domain with 10⁹ pages would straggle/OOM. On
Spark 3.5+ the naive form is already safe: Catalyst's rank-limit
pushdown rewrites ``row_number() <= k`` into ``WindowGroupLimit
(Partial)`` BEFORE the shuffle (verified in this plan), so each map
task ships at most k rows per group and the reducer sees ≤ k × #maps
rows regardless of group size — the local-cap-then-global-cap shape of
TakeOrdered, inserted by the optimizer. ``two_phase=True`` adds an
explicit salted pre-rank ((group, hash(id) % n_salts) window) achieving
the same bound manually; it costs one extra shuffle, so it is OFF by
default and exists for engines/window predicates the pushdown rule
doesn't cover (e.g. rank over non-limit predicates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_key(id_col: str):
    """Deterministic shuffle key: lowercase-hex md5 of the id's decimal
    string (identical in Spark and DuckDB: md5(CAST(id AS VARCHAR)))."""
    return F.md5(F.col(id_col).cast("string").cast("binary"))


def group_quota(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    two_phase: bool = False,
    n_salts: int = 64,
) -> DataFrame:
    """At most ``k`` rows per ``group_col`` value, deterministically
    sampled; adds ``rk`` (1-based rank within the group, long)."""
    key = _order_key(id_col)
    if two_phase:
        salt = F.pmod(F.hash(F.col(id_col)), F.lit(n_salts))
        local = Window.partitionBy(F.col(group_col), salt).orderBy(
            key, F.col(id_col)
        )
        df = (
            df.withColumn("_lrk", F.row_number().over(local))
            .filter(F.col("_lrk") <= k)
            .drop("_lrk")
        )
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return df.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def split_expr(
    id_col,
    salt: str = "split:42",
    test_hex: str = "0d",
    val_hex: str = "1a",
):
    """The split assignment as a pure Column expression — split is a
    FUNCTION of the id, so any dataframe carrying an id (a pair set, a
    shard manifest) can compute it map-side with no join back to the
    corpus. ``train_val_split`` is the corpus-annotation convenience
    wrapper over this."""
    bucket = F.substring(
        F.md5(
            F.concat(id_col.cast("string"), F.lit(":" + salt)).cast(
                "binary"
            )
        ),
        1,
        2,
    )
    return (
        F.when(bucket < test_hex, "test")
        .when(bucket < val_hex, "val")
        .otherwise("train")
    )


def train_val_split(
    df: DataFrame,
    id_col: str,
    salt: str = "split:42",
    test_hex: str = "0d",
    val_hex: str = "1a",
) -> DataFrame:
    """Deterministic train/val/test assignment — the standard
    hash-bucket split of a training corpus (every engine/rerun must put
    each document in the SAME split; ``rand()``/``randomSplit`` can't
    promise that across replans or engines).

    Bucket = first two lowercase-hex chars of ``md5(id || ':' || salt)``
    compared lexicographically: ``< test_hex`` → test, ``< val_hex`` →
    val, else train. Defaults carve 13/256 ≈ 5.1% each for test and val.
    Restatable verbatim in ANSI SQL (``substr(md5(...), 1, 2)``), and a
    pure narrow projection at scale: no shuffle, no state, split
    fractions tunable per two-hex-digit step.

    Adds a ``split`` string column; never drops rows."""
    return df.withColumn(
        "split", split_expr(F.col(id_col), salt, test_hex, val_hex)
    )


def token_budget_select(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget: int,
    order_cols: list,
) -> DataFrame:
    """Greedy prefix selection under a per-group token budget — the
    corpus-mix step that fills each language/domain bucket with its
    best documents until the budget is hit (how a 100-TB corpus is cut
    to a fixed token count per language).

    Rows are ranked inside ``group_col`` by ``order_cols`` (must be
    deterministic and total — include the id as final tie-break) and
    kept while the running ``token_col`` sum stays ≤ ``budget``. Adds
    ``cum_tokens`` (long). Exactly one shuffle (the window partition);
    the running sum is a single sort-based window — no iteration, no
    driver state. Skew note: a group is one reducer here by design
    (the running sum is sequential); with 10⁹-doc groups, pre-trim with
    a cheap per-partition quota (``group_quota``) first, since the
    budget prefix can never exceed budget/min_tokens rows.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "cum_tokens", F.sum(F.col(token_col).cast("long")).over(w)
    ).filter(F.col("cum_tokens") <= budget)


_HEX = "0123456789abcdef"


def _hex2int(col, n_chars: int):
    """First ``n_chars`` lowercase-hex chars of ``col`` as an integer
    (0..16^n-1) using only ``instr``/``substr`` arithmetic, which DuckDB
    restates verbatim with ``strpos`` — neither engine shares a native
    hex→int with the other (Spark ``conv`` has no DuckDB twin). LONG
    accumulator: 13-char keys (2^52) overflow int32 under ANSI mode."""
    acc = F.lit(0).cast("long")
    for i in range(1, n_chars + 1):
        digit = F.instr(F.lit(_HEX), F.substring(col, i, 1)) - 1
        acc = acc * 16 + digit
    return acc


def _hex2int_sql(expr: str, n_chars: int) -> str:
    terms = [
        f"(strpos('{_HEX}', substr({expr}, {i}, 1)) - 1) * {16 ** (n_chars - i)}"
        for i in range(1, n_chars + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def shard_assign(
    df: DataFrame,
    id_col: str,
    n_shards: int = 8,
    salt: str = "shuffle:42",
) -> DataFrame:
    """Deterministic global corpus shuffle + shard/position assignment —
    how a 100-TB training corpus is written out for the trainer: every
    document gets a reproducible ``(shard, pos)`` address, pseudo-random
    with respect to every corpus attribute, identical across engines and
    reruns (``rand()``/``repartition`` can promise neither).

    ``key = md5(id || ':' || salt)``; ``shard = int(key[:2]) %
    n_shards``; ``pos = row_number() over (partition by shard order by
    key, id)``. One shuffle (the per-shard window — exactly the
    shuffle a real shard write needs, since ``pos`` IS the row's offset
    in its output file); md5 balances shards to ±O(√n). Restatable
    verbatim in ANSI SQL. At 1000 executors: ``n_shards`` ≥ cluster
    parallelism makes the sort per-shard-local; the window never sees
    more than ~corpus/n_shards rows per reducer.
    """
    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)).cast("binary")
    )
    w = Window.partitionBy("shard").orderBy("_key", id_col)
    return (
        df.withColumn("_key", key)
        .withColumn("shard", (_hex2int(F.col("_key"), 2) % n_shards).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_key")
    )


def mixture_upsample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    salt: str = "mix:42",
) -> DataFrame:
    """Fractional per-source mixture weighting — the data-recipe step
    that repeats high-quality sources more epochs than crawl bulk
    (LLaMA/Gopher-style sampling proportions). A document from a source
    with weight ``W = base + frac/256`` appears ``base`` times always,
    plus once more iff its hash bucket < ``frac`` — so EXPECTED copies
    = W while every run/engine picks the SAME extra copies.

    Weights here are a deterministic fixture of the source string
    (``base = (length + ascii(last_char)) % 2 + 1``, ``frac = (ascii
    (last_char)*37 + length*11) % 256``); a real recipe broadcast-joins
    a (source → weight) config table instead — the dataflow (broadcast
    dim join → ``explode(sequence(1, n_copies))``) is identical. Map
    side only, zero shuffle: output carries ``epoch`` (1-based copy
    index) so downstream shard assignment can separate the copies.
    """
    src = F.col(source_col)
    last = F.expr(f"substr({source_col}, length({source_col}), 1)")
    base = (F.length(src) + F.ascii(last)) % 2 + 1
    frac = (F.ascii(last) * 37 + F.length(src) * 11) % 256
    bucket = _hex2int(
        F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)).cast(
                "binary"
            )
        ),
        2,
    )
    n_copies = (base + (bucket < frac).cast("int")).cast("long")
    return df.withColumn(
        "epoch", F.explode(F.sequence(F.lit(1).cast("long"), n_copies))
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsamp:42",
) -> DataFrame:
    """Weighted random sampling without replacement (Efraimidis &
    Spirakis '06 A-ES): each row draws a deterministic uniform ``u``
    from ``md5(id || ':' || salt)`` and is ranked by ``ln(u) /
    weight`` (the monotone log form of ``u^(1/w)``); the global top-k
    by that key IS a weight-proportional sample, reproducible
    run-to-run and engine-to-engine (no RNG state, unlike
    ``df.sample``'s per-partition seeds which reshuffle under AQE).

    Scale shape: ``orderBy(key).limit(k)`` compiles to
    TakeOrderedAndProject — each partition keeps its local top-k heap
    and only k rows per partition move — so sampling 10⁵ docs from a
    10¹² corpus is one scan plus a k-row gather, no global sort, no
    shuffle of the corpus. Rows with weight ≤ 0 are excluded (they
    have probability 0 by definition)."""
    key_hex = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)).cast("binary")
    )
    u = (_hex2int(key_hex, 13) + 1).cast("double") / float(16**13)
    pri = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_pri", pri)
        .orderBy(F.col("_pri").desc(), F.col(id_col))
        .limit(k)
        .drop("_pri")
    )


def weighted_sample_sql(
    id_expr: str, weight_expr: str, salt: str = "wsamp:42"
) -> str:
    """DuckDB twin of the A-ES priority key (same literals and operator
    order; ``ln`` of the identical dyadic-rational ``u``). Use as
    ``ORDER BY <this> DESC, id LIMIT k`` after ``WHERE weight > 0``.

    Known flake surface (documented, not fixable in-band): IEEE 754
    does not require correctly-rounded ``ln``, so Spark (JVM
    ``Math.log``) and DuckDB (libm) may disagree by 1 ULP. The sorted
    keys are md5-derived doubles, so two priorities landing within a
    ULP of each other AT the rank-k boundary is the only way the
    selected set can differ across engines — astronomically unlikely
    for hash-derived keys, and never observed across rounds, but a
    mismatch here should be re-checked against this note before being
    treated as a logic bug."""
    key = f"md5({id_expr}::VARCHAR || ':{salt}')"
    return (
        f"ln(({_hex2int_sql(key, 13)} + 1) / {float(16**13)}) "
        f"/ CAST({weight_expr} AS DOUBLE)"
    )
