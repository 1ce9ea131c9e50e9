"""Text quality, language ID, token and LM statistics, PII, classifier
inference, decontamination and inverted-index queries over
``documents``."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..datagen import load_table
from ..functions import pii as PII
from ..functions import text as T
from ..operators import dedup as D
from ..operators import index as IX
from ..operators import inference as INF
from .common import _events_with_msg, _LSH_CAND_CTE, _MSG_SQL, query


@query(oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars_m,
               round(length(text) / len(string_split(text, ' ')), 4) AS avg_token_len
        FROM documents
    """)
def q_t1_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer) + char stats per doc."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_m"),
        F.round(F.length("text") / n_tokens, 4).alias("avg_token_len"),
    )


@query(oracle="""
        SELECT doc_id, lang,
               round(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a'))
                     / len(string_split(text, ' ')), 4) AS stopword_ratio,
               CASE WHEN len(string_split(text, ' ')) < 20 THEN 'short'
                    WHEN len(string_split(text, ' ')) < 60 THEN 'medium'
                    ELSE 'long' END AS len_band
        FROM documents
    """)
def q_t2_quality_score(spark, sf_dir):
    """Quality scoring: stopword ratio + length band (training-data op)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    return d.select(
        "doc_id",
        "lang",
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
        F.when(n_tokens < 20, "short").when(n_tokens < 60, "medium").otherwise("long").alias("len_band"),
    )


@query(oracle="SELECT doc_id, md5(text) AS fp FROM documents")
def q_t3_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over text bytes (exact-dup key)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))


@query(oracle=f"""
        WITH m AS (
          SELECT event_id,
                 ({_MSG_SQL}) || ' contact=user' || user_id::VARCHAR
                   || '@example.org tel=+1-555-'
                   || lpad((event_id % 10000)::VARCHAR, 4, '0') AS txt
          FROM events
        )
        SELECT event_id,
               {PII.count_sql('txt', PII.EMAIL_RE)} AS n_email,
               {PII.count_sql('txt', PII.PHONE_RE)} AS n_phone,
               {PII.count_sql('txt', PII.IPV4_RE)} AS n_ip,
               {PII.redact_sql('txt')} AS red
        FROM m
    """)
def q_t9_pii_redact(spark, sf_dir):
    """PII census + redaction over the synthesized event messages plus
    a deterministic contact suffix (email, phone): per-event counts of
    emails/phones/IPv4s and the fully-redacted text. Pure JVM regexp —
    map-only, zero shuffle (functions/pii.py)."""
    ev = _events_with_msg(spark, sf_dir)
    txt = F.concat(
        F.col("Message"),
        F.lit(" contact=user"),
        F.col("user_id").cast("string"),
        F.lit("@example.org tel=+1-555-"),
        F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
    )
    return ev.select(
        "event_id",
        PII.pii_count(txt, PII.EMAIL_RE).alias("n_email"),
        PII.pii_count(txt, PII.PHONE_RE).alias("n_phone"),
        PII.pii_count(txt, PII.IPV4_RE).alias("n_ip"),
        PII.redact_pii(txt).alias("red"),
    )


@query(oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents
        ),
        v AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        t AS (SELECT sum(cnt) AS tot FROM v),
        lp AS (
          SELECT token, ln(cnt::DOUBLE / tot::DOUBLE) AS logp FROM v, t
        )
        SELECT tok.doc_id, round(avg(logp), 6) AS lp
        FROM tok JOIN lp USING (token)
        GROUP BY tok.doc_id
    """)
def q_t10_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram LM quality score: corpus unigram frequencies
    → per-doc mean log-probability (two aggregates + one token hash
    join, which AQE broadcasts while the vocabulary is small). The
    whole vocabulary is scored: CCNet's top-K vocab with a tail default
    is not implemented."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.log(F.col("cnt").cast("double") / F.col("tot").cast("double")).alias("logp"),
    )
    return (
        tok.join(lp, "token")
        .groupBy("doc_id")
        .agg(F.round(F.avg("logp"), 6).alias("lp"))
    )


# t12: identical arithmetic order — log(0.7*(cb/c1) + 0.3*((c2+1)/(T+V)))
# over exact integer counts; per-doc mean rounded 6 (t10 convention).
@query(oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT t.w AS w, count(*) AS cu
      FROM (SELECT unnest(ws) AS w FROM w) t GROUP BY 1
    ),
    stats AS (SELECT sum(cu) AS tot, count(*) AS vsz FROM uni),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 2
                         THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                         ELSE [] END) AS bg
      FROM w
    ),
    bgc AS (SELECT bg, count(*) AS cb FROM g GROUP BY 1),
    lm AS (
      SELECT bg,
             ln(0.7 * (cb::DOUBLE / u1.cu::DOUBLE)
                + 0.3 * ((u2.cu + 1)::DOUBLE / (s.tot + s.vsz)::DOUBLE)) AS logp
      FROM bgc
      JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
      JOIN uni u2 ON u2.w = string_split(bg, ' ')[-1]
      CROSS JOIN stats s
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(logp), 6) AS lp
    FROM g JOIN lm USING (bg) GROUP BY 1
""")
def q_t12_bigram_lm(spark, sf_dir):
    """Interpolated bigram LM quality score — the LM-scoring stage
    CCNet runs with KenLM, in its Spark-honest form: corpus bigram +
    unigram tables (two vocab-sized aggregates), score(w1,w2) =
    log(0.7·C(w1w2)/C(w1) + 0.3·(C(w2)+1)/(T+V)) (MLE bigram
    interpolated with an add-one unigram — every operand an exact
    integer ratio, so both engines fold identical IEEE doubles up to
    libm's log), per-doc mean over its bigrams, rounded 6 (the t10
    convention). Scale shape: the LM table holds every observed bigram
    (vocab²-bounded; no top-K pruning or broadcast path is
    implemented), and the corpus-side join shuffles on the bigram key —
    one corpus-linear Exchange, the same budget as t10. Docs with <2 words have no bigrams and are absent,
    matching the SQL twin's inner join."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    stats = uni.agg(
        F.sum("cu").alias("tot"), F.count(F.lit(1)).alias("vsz")
    )
    big = d.select(
        "doc_id", F.explode(T.word_bigrams(F.col("text"))).alias("bg")
    )
    bgc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    parts = F.split(F.col("bg"), " ")
    lm = (
        bgc.withColumn("w1", parts.getItem(0))
        .withColumn("w2", F.element_at(parts, -1))
        .join(
            uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2")), "w2"
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "bg",
            F.log(
                F.lit(0.7)
                * (F.col("cb").cast("double") / F.col("c1").cast("double"))
                + F.lit(0.3)
                * (
                    (F.col("c2") + 1).cast("double")
                    / (F.col("tot") + F.col("vsz")).cast("double")
                )
            ).alias("logp"),
        )
    )
    return (
        big.join(lm, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 6).alias("lp"),
        )
    )


@query(oracle="""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents
        ),
        g AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               count(*) AS n_distinct,
               round(1 - count(*)::DOUBLE / sum(c), 6) AS dup_word_frac,
               round(max(c)::DOUBLE / sum(c), 6) AS top_word_frac
        FROM g GROUP BY doc_id
    """)
def q_t8_word_repetition(spark, sf_dir):
    """Gopher-style repetition/quality stats per doc: word count,
    distinct-word count, duplicate-word fraction, top-word fraction —
    explode + two partial-agg shuffles, no per-doc Python."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    g = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    return g.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("c"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
    )


@query(oracle=f"""
        SELECT doc_id, lang, {T.lang_id_sql('text')} AS pred_lang FROM documents
    """)
def q_t4_lang_id(spark, sf_dir):
    """Language-ID heuristic: per-language stopword votes, argmax."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id(F.col("text")).alias("pred_lang"))


@query(oracle=f"""
        SELECT doc_id, {T.rolling_hash_sql('text')} AS fp_roll FROM documents
    """)
def q_t5_rolling_fp(spark, sf_dir):
    """Rolling-hash (poly mod 1e9+7) document fingerprint."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.rolling_hash(F.col("text")).alias("fp_roll"))


@query(oracle=f"""
        SELECT doc_id, {T.bpe_token_count_sql('text')} AS n_bpe FROM documents
    """)
def q_t6_bpe_tokens(spark, sf_dir):
    """BPE-ish regex pre-tokenizer count (\\w+|[^\\w\\s])."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.bpe_token_count(F.col("text")).alias("n_bpe"))


@query(oracle="""
        SELECT token, count(*) AS df FROM (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
          FROM documents
        ) GROUP BY token
        ORDER BY df DESC, token ASC LIMIT 50
    """)
def q_t7_doc_freq(spark, sf_dir):
    """Corpus document frequency: explode each doc's DISTINCT token set,
    count docs per token, top-50 (df desc, token asc) — the IDF building
    block; partial-agg + TakeOrderedAndProject, no full sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.col("text"), " "))
    return (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(50)
    )


@query(oracle="""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT DISTINCT doc_id,
                 array_to_string(ws[CAST(i AS INT):CAST(i + 3 AS INT)], ' ') AS gram
          FROM (
            SELECT doc_id, ws,
                   unnest(range(1, greatest(len(ws) - 2, 1))) AS i
            FROM w
          )
          WHERE len(ws) >= 4
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        SELECT g.doc_id, count(*) AS n_shared
        FROM g JOIN bench b ON g.gram = b.gram
        WHERE g.doc_id % 97 <> 0
        GROUP BY 1
    """)
def q_ct1_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/contamination.py): docs
    sharing any verbatim word 4-gram with the 'benchmark' subset
    (doc_id % 97 = 0 stands in for the eval suite). Benchmark gram set
    broadcasts; corpus grams dedupe per doc before the map-side join.
    4-grams (not the 8-13 of real text) because the synthetic corpus
    draws from a ~40-word vocabulary — same operator, scaled threshold."""
    from ..operators.contamination import contaminated_docs

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contaminated_docs(corpus, bench, "doc_id", "text", n=4)


def _split_case_sql(col: str) -> str:
    """DuckDB twin of operators/sampling.split_expr (defaults)."""
    h = f"substr(md5(CAST({col} AS VARCHAR) || ':split:42'), 1, 2)"
    return (
        f"CASE WHEN {h} < '0d' THEN 'test' "
        f"WHEN {h} < '1a' THEN 'val' ELSE 'train' END"
    )


@query(oracle=f"""
        {_LSH_CAND_CTE}
        , verified AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b
          WHERE round({D.jaccard_sql('sa.sh', 'sb.sh')}, 6) >= 0.5
        )
        SELECT least({_split_case_sql('id_a')}, {_split_case_sql('id_b')}) AS split_lo,
               greatest({_split_case_sql('id_a')}, {_split_case_sql('id_b')}) AS split_hi,
               count(*) AS n_pairs,
               least({_split_case_sql('id_a')}, {_split_case_sql('id_b')})
                 <> greatest({_split_case_sql('id_a')}, {_split_case_sql('id_b')}) AS is_leak
        FROM verified
        GROUP BY 1, 2
    """)
def q_ct2_split_leakage(spark, sf_dir):
    """Cross-split leakage audit: near-duplicate pairs (the d2
    MinHash-LSH verified set) that straddle the train/val/test hash
    split. The split is a pure FUNCTION of doc_id
    (operators/sampling.split_expr), so both sides' assignments are
    computed map-side ON THE PAIR SET — zero joins back to the corpus;
    at 100 TB the audit costs one pass over the (tiny) pair table on
    top of the dedup run the pipeline already does. ``is_leak`` rows
    are what a data card must report: an eval doc whose near-twin sits
    in train inflates benchmark scores."""
    from ..operators.sampling import split_expr

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=2, k=8
    )
    sa = split_expr(F.col("id_a"))
    sb = split_expr(F.col("id_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_lo"),
            F.greatest(sa, sb).alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
    )


@query(oracle=f"""
        SELECT {T.quality_rule_sql('text', 'n_chars')} AS rule,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
    """)
def q_fl1_quality_filter(spark, sf_dir):
    """C4/Gopher-style quality-filter cascade
    (functions/text.quality_rule_expr): label every doc with the first
    rule it violates, then the per-rule drop census — the standard
    filtering dashboard. One expression pass + one partial-agg shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            T.quality_rule_expr(F.col("text"), F.col("n_chars")).alias("rule"),
            "n_chars",
        )
        .groupBy("rule")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(oracle=f"""
        WITH w AS ({INF.WEIGHTS_SQL}),
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents
        ),
        b AS (
          SELECT doc_id, substr(md5(tok), 1, 2) AS bucket
          FROM toks WHERE tok <> ''
        ),
        s AS (
          SELECT doc_id, round(1.0 / (1.0 + exp(-sum(w.w))), 6) AS score
          FROM b JOIN w USING (bucket) GROUP BY 1
        )
        SELECT doc_id, score,
               CASE WHEN score > 0.6 THEN 'keep' ELSE 'drop' END AS label
        FROM s
    """)
def q_ml1_quality_classifier(spark, sf_dir):
    """Model inference at scale (operators/inference.py): a
    fastText-style hashed bag-of-words linear classifier scores every
    document — the CCNet/GPT-3-style learned quality filter, the other
    half of the rule-based fl1. Tokens feature-hash to 256 buckets via
    ``substr(md5(tok),1,2)``; the 256-row weight vector rides a
    **broadcast join** (the model moves, the corpus doesn't — the
    100-TB inference pattern); one shuffle total (the per-doc partial
    sum); sigmoid + rounded-score threshold gives the keep/drop label.
    The weights are a deterministic seeded fixture so the oracle
    restates them as a ``range(256)`` CTE."""
    from ..operators.inference import hashed_weights, score_documents

    d = load_table(spark, sf_dir, "documents")
    return score_documents(d, "doc_id", "text", hashed_weights(spark))


_BM25_TERMS = ["vector", "stream", "merge"]


@query(oracle=f"""
        SELECT _id AS doc_id, score FROM (
          {IX.bm25_sql('documents', 'doc_id', 'text', _BM25_TERMS, top_k=20)}
        )
    """)
def q_iv2_bm25(spark, sf_dir):
    """BM25 ranked retrieval (operators/index.bm25_scores) for a fixed
    3-term query: per-term tf is a map-side ``size(filter(split))`` —
    the corpus scans ONCE with zero shuffle; (N, avgdl, df) is one
    single-row aggregate broadcast back; top-20 by (rounded score desc,
    id) is TakeOrderedAndProject. The analytical twin of iv1's posting
    build — the shape for relevance-labeling a corpus against a fixed
    probe set."""
    from ..operators.index import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, "doc_id", "text", _BM25_TERMS, top_k=20)


@query(oracle=f"""
        {IX.bpe_merge_sql('documents', 'doc_id', 'text')}
    """)
def q_tk1_bpe_merge(spark, sf_dir):
    """One BPE vocabulary-induction iteration (operators/index.py
    bpe_merge_step): corpus-wide argmax bigram (one map-side-combined
    shuffle, total-order tie-break) broadcasts as a 1-row literal; the
    merge itself is a map-side space-padded replace — the corpus never
    shuffles, so a tokenizer trainer's loop moves one string per
    iteration. Output census: per-doc token counts before/after."""
    from ..operators.index import bpe_merge_step

    d = load_table(spark, sf_dir, "documents")
    return bpe_merge_step(d, "doc_id", "text")


@query(oracle="""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT doc_id, ws,
                 CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE [] END AS grams
          FROM w
        )
        SELECT doc_id,
               len(ws) AS n_words,
               len(list_distinct(ws)) AS uniq_words,
               len(list_distinct(grams)) AS uniq_bigrams,
               round(1 - len(list_distinct(ws)) / len(ws)::DOUBLE, 6)
                 AS dup_word_frac,
               CASE WHEN len(grams) > 0
                    THEN round(1 - len(list_distinct(grams))
                               / len(grams)::DOUBLE, 6)
                    ELSE 0.0 END AS dup_bigram_frac
        FROM g
    """)
def q_t11_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (functions/text.py
    repetition_exprs): duplicate word fraction + duplicate word-bigram
    fraction per doc. Pure map-side — two fused array passes per row
    (split once, one zip_with for bigrams), no shuffle, no Python; at
    100 TB this rides the same scan as the other per-doc quality
    columns."""
    d = load_table(spark, sf_dir, "documents")
    ex = T.repetition_exprs(F.col("text"))
    return d.select(
        "doc_id",
        ex["n_words"].alias("n_words"),
        ex["uniq_words"].alias("uniq_words"),
        ex["uniq_bigrams"].alias("uniq_bigrams"),
        ex["dup_word_frac"].alias("dup_word_frac"),
        ex["dup_bigram_frac"].alias("dup_bigram_frac"),
    )


@query(oracle="""
        WITH t AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(text, ' '))) AS term
          FROM documents
        ),
        c AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        b AS (
          SELECT term, df FROM c
          WHERE df BETWEEN (SELECT count(*) * 3 // 5 FROM documents)
                       AND (SELECT count(*) * 4 // 5 FROM documents)
        )
        SELECT b.term, b.df,
               string_agg(t.doc_id::VARCHAR, ',' ORDER BY t.doc_id)
                 AS postings
        FROM t JOIN b USING (term)
        GROUP BY b.term, b.df
    """)
def q_iv1_inverted_index(spark, sf_dir):
    """Posting-list build (operators/index.py inverted_index): terms
    whose document frequency lies in the integer-exact relative band
    [3n/5, 4n/5] get their sorted doc-id posting list. The df census
    runs BEFORE the list aggregation so out-of-band (stop-word-grade)
    terms never materialize a posting list on any reducer — the skew
    guard that makes posting builds survive web scale."""
    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    from ..operators.index import inverted_index

    return inverted_index(d, "doc_id", "text", n * 3 // 5, n * 4 // 5)


@query(oracle="""
        WITH w AS (
          SELECT lang, string_split(text, ' ') AS ws FROM documents
        ),
        g AS (
          SELECT lang,
                 unnest(CASE WHEN len(ws) >= 2
                        THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                        ELSE [] END) AS gram
          FROM w
        ),
        c AS (SELECT lang, gram, count(*) AS n FROM g GROUP BY 1, 2),
        r AS (
          SELECT lang, gram, n,
                 CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY n DESC, gram ASC
                 ) AS INT) AS rk
          FROM c
        )
        SELECT lang, gram, n, rk FROM r WHERE rk <= 3
    """)
def q_ng1_top_bigrams(spark, sf_dir):
    """Top-3 word bigrams per language (operators/index.py
    top_ngrams_per_group over functions/text.py word_bigrams): one
    fused zip_with pass builds grams in the scan projection, one
    partial+final count on (lang, gram), and the rk<=3 predicate
    pushes into WindowGroupLimit so shuffle partitions carry only
    their top candidates."""
    from ..operators.index import top_ngrams_per_group

    d = load_table(spark, sf_dir, "documents")
    return top_ngrams_per_group(d, "lang", T.word_bigrams(F.col("text")), 3)
