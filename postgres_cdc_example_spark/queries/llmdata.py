"""Model-centric training-data operators: LM scoring, keyword extraction,
benchmark contamination, repetition signals, mixture reweighting, vocabulary.

These extend the curation surface in ``queries/extensions.py`` with the
*model-facing* half of a training-data pipeline: what gets scored against a
language model's statistics (perplexity proxy), what leaks from evaluation
sets (contamination), what repeats pathologically (Gopher-style repetition
gates), and how domains are re-weighted into the final mixture.

Exactness policy (same as the rest of the repo): every ratio that reaches a
result is either pure integer arithmetic (``floor(a*1e6/b)`` over bigint
counts — order-independent, engine-independent) or a transcendental rounded
onto a fixed micro-grid per ROW before any SUM (so aggregate order can never
move the result). No Python UDFs; everything is codegen-able built-ins.

The reference has no such surface (SURVEY.md §2.8) — like
``queries/extensions.py`` these are SURVEY.md §7.2-step-7 extension ops on
the ``documents`` fixture.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.layers import layer
from postgres_cdc_example_spark.operators import bloom, dedup, hints, sampling
from postgres_cdc_example_spark.queries import REGISTRY, register
from postgres_cdc_example_spark.sources.tables import load_table
from postgres_cdc_example_spark.streaming.curation import QUOTA_TOKENS

_TOKS = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')"

# one row per token OCCURRENCE (not distinct) — the LM-statistics layout
_OCC_SQL = f"""
    occ AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    )
"""


def _occurrences(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(dedup.word_tokens(F.col("text"))).alias("tok")
    )


@layer("doc_occurrences")
def _doc_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted token-occurrence rows shared across the LM-statistics
    queries (NLL, tf-idf, vocabulary): the explode is the family's common
    floor, and ``text_unigram_nll`` alone consumes it twice (count pass +
    scoring join)."""
    # NOTE (r12 optimization round): deliberately NOT scan-parallelism-
    # healed. The heal was tried and REVERTED with measurements: this
    # layer's consumers all re-aggregate by token, and tokens appear in
    # every partition, so a 32-partition cached layer makes each partial
    # aggregate emit ~32x the vocabulary into its exchange — map-side
    # combining stops combining (token_good_turing 0.22 -> 0.67 s,
    # bm25/QL/source_token_* regressed 1.5-3x in the bench's stable-flag
    # compare). The single cached partition IS the efficient shape for
    # high-duplication aggregation consumers at fixture scale.
    return _occurrences(load_table(spark, "documents", sf_dir)).persist()


@layer("simhash_cand")
def _simhash_cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized SHARED LAYER: the deduped simhash byte-band collision pair
    table ``(doc_a, doc_b, hamming)`` (pairs agreeing on >= 2 of the 4
    bands). This is the densest intermediate of the calibration family
    (2.6M band collisions -> 282k candidate pairs at sf0.1) and exactly
    what a production simhash-dedup ingest persists between batches, so
    it is a shared layer like the shingle/band/occurrence ones, prebuilt
    untimed by the bench with its cost as a line item.

    History: this used to
    be a bare ``.persist()`` inside the lazily-returned query frame — the
    blocks could never be unpersisted AND, because Spark's CacheManager
    matches canonicalized plans, the bench's second best-of-2 sample
    silently read the first sample's leaked cache: the 2.71 s headline
    number was a WARM number while the single-pass --full paid the real
    ~5 s cold cost. The layer makes the warm semantics explicit and
    governed instead of accidental."""
    from postgres_cdc_example_spark.queries.extensions import SIMHASH_CAL_BANDS

    sh = dedup.simhash_buckets(
        load_table(spark, "documents", sf_dir),
        tokens=_doc_occurrences(spark, sf_dir),
    ).select("doc_id", "simhash")
    bd = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).cast("long").alias("band_idx"),
                        F.expr(
                            f"shiftright(simhash, {8 * bi}) & 255"
                        ).alias("band_val"),
                    )
                    for bi in range(SIMHASH_CAL_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band_idx", "bv.band_val")
    return (
        bd.alias("a")
        .join(
            bd.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.max("a.simhash").alias("sim_a"),
            F.max("b.simhash").alias("sim_b"),
            F.count(F.lit(1)).alias("nb"),
        )
        .filter(F.col("nb") >= 2)
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)").alias(
                "hamming"
            ),
        )
        .persist()
    )


# ---------------------------------------------------------------------------
# unigram-LM negative log likelihood (perplexity proxy)
# ---------------------------------------------------------------------------


@register(
    "text_unigram_nll",
    oracle=f"""
    WITH {_OCC_SQL},
    cnt AS (SELECT tok, count(*) AS c FROM occ GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM cnt),
    lp AS (
      SELECT tok,
             CAST(floor(ln(CAST(t + v AS DOUBLE) / (c + 1)) * 1000000 + 0.5)
                  AS BIGINT) AS lp_micro
      FROM cnt, tot
    )
    SELECT o.doc_id,
           count(*) AS n_tokens,
           CAST(sum(lp_micro) AS BIGINT) AS nll_micro_sum,
           CAST(floor(CAST(sum(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_nll_micro
    FROM occ o JOIN lp ON o.tok = lp.tok
    GROUP BY o.doc_id
    """,
)
def text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: each document's mean negative log
    likelihood under an add-one-smoothed unigram model of the corpus itself
    (the cheap first-pass LM filter; perplexity = exp(mean_nll), monotone in
    this score). Two corpus passes: token counts (one shuffle on token,
    map-side combined), then occurrences join the per-token log-prob and
    aggregate per doc. The per-token log is rounded onto a micro-grid
    BEFORE the per-doc SUM, so the aggregate is integer addition —
    order-independent across engines and partitionings. The token join's
    hot keys (stopwords) are exactly the skew-salting case
    ``skew_salted_join`` demonstrates; at vocab ≪ corpus the count table
    also broadcasts (AQE picks this up from stats)."""
    occ = _doc_occurrences(spark, sf_dir)
    cnt = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("long").alias("t"), F.count(F.lit(1)).alias("v")
    )
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.log((F.col("t") + F.col("v")).cast("double") / (F.col("c") + 1))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        occ.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").cast("long").alias("nll_micro_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_micro_sum",
            F.floor(
                F.col("nll_micro_sum").cast("double") / F.col("n_tokens")
            )
            .cast("long")
            .alias("mean_nll_micro"),
        )
    )


# ---------------------------------------------------------------------------
# boilerplate prefix detection
# ---------------------------------------------------------------------------


@register(
    "boilerplate_prefix_flags",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS tk FROM documents),
    p AS (
      SELECT doc_id, source,
             concat_ws(' ', tk[1], tk[2], tk[3], tk[4], tk[5]) AS prefix
      FROM t
    ),
    c AS (SELECT source, prefix, count(*) AS n FROM p GROUP BY source, prefix)
    SELECT p.doc_id, p.source, p.prefix,
           c.n AS n_docs_with_prefix, c.n >= 2 AS is_boilerplate
    FROM p JOIN c ON p.source = c.source AND p.prefix = c.prefix
    """,
)
def boilerplate_prefix_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix detection — the header/banner-removal signal of a
    web-corpus pipeline: docs of the same source that open with the same
    leading 5-token prefix are flagged (shared site chrome, licence
    banners, templated intros). One ``(source, prefix)`` aggregate whose
    tiny count table AQE-broadcasts back onto the per-doc rows; at 100 TB
    the cost is the scan plus a combiner-friendly shuffle keyed on a
    near-unique composite. Out-of-range indexing agrees across engines
    (NULL, skipped by ``concat_ws``), so short docs compare on the tokens
    they have and zero-token docs share the empty prefix."""
    docs = load_table(spark, "documents", sf_dir)
    p = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            " ", *[F.get(dedup.word_tokens(F.col("text")), i) for i in range(5)]
        ).alias("prefix"),
    )
    c = p.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).alias("n_docs_with_prefix")
    )
    return p.join(c, ["source", "prefix"]).select(
        "doc_id",
        "source",
        "prefix",
        "n_docs_with_prefix",
        (F.col("n_docs_with_prefix") >= 2).alias("is_boilerplate"),
    )


# ---------------------------------------------------------------------------
# bigram-LM negative log likelihood
# ---------------------------------------------------------------------------


_BG_SQL = f"""
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
                    i -> concat_ws(' ', tk[i], tk[i+1]))) AS b
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
    )
"""


@register(
    "text_bigram_nll",
    oracle=f"""
    WITH {_OCC_SQL},
    {_BG_SQL},
    cb AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
    cp AS (SELECT split_part(b, ' ', 1) AS w1, count(*) AS cpre FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS vocab FROM occ),
    lp AS (
      SELECT cb.b,
             CAST(floor(ln(CAST(cpre + vocab AS DOUBLE) / (cb.c + 1)) * 1000000 + 0.5)
                  AS BIGINT) AS lp_micro
      FROM cb JOIN cp ON split_part(cb.b, ' ', 1) = cp.w1, v
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(lp_micro) AS BIGINT) AS nll_micro_sum,
           CAST(floor(CAST(sum(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_nll_micro
    FROM bg JOIN lp ON bg.b = lp.b
    GROUP BY bg.doc_id
    """,
)
def text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score — the second-order twin of
    ``text_unigram_nll``: per-doc mean negative log likelihood of each
    bigram under add-one-smoothed conditionals ``p(w2|w1) = (c(w1 w2) + 1)
    / (c(w1 ·) + V)`` estimated from the corpus itself. Catches
    word-salad docs whose unigram profile looks normal but whose
    transitions are improbable — the standard step up the n-gram-LM filter
    ladder before a neural scorer. Same exactness policy: each conditional
    log-prob rounds onto the micro-grid BEFORE the per-doc SUM. Plan shape:
    two bigram counts (one shuffle each, map-side combined), a
    count-table join AQE broadcasts at vocab ≪ corpus, and one doc_id
    aggregation; docs with < 2 tokens have no bigrams and drop out on both
    engines."""
    docs = load_table(spark, "documents", sf_dir)
    bg = (
        docs.select("doc_id", dedup.word_tokens(F.col("text")).alias("tk"))
        # single-token / empty docs first: Spark's sequence(1, 0) yields a
        # DESCENDING [1, 0] (step defaults to -1), not the empty list DuckDB's
        # generate_series(1, 0) gives — guard so the two engines agree
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i-1] AS w1, concat(tk[i-1], ' ', tk[i]) AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.b").alias("b"))
    )
    cb = bg.groupBy("w1", "b").agg(F.count(F.lit(1)).alias("c"))
    cp = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cpre"))
    vocab = _doc_occurrences(spark, sf_dir).agg(
        F.countDistinct("tok").alias("vocab")
    )
    lp = (
        cb.join(cp, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "b",
            F.floor(
                F.log(
                    (F.col("cpre") + F.col("vocab")).cast("double")
                    / (F.col("c") + 1)
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        bg.select("doc_id", "b")
        .join(lp, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("nll_micro_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_micro_sum",
            F.floor(F.col("nll_micro_sum").cast("double") / F.col("n_bigrams"))
            .cast("long")
            .alias("mean_nll_micro"),
        )
    )


@register(
    "text_kneser_ney_nll",
    oracle=f"""
    WITH {_OCC_SQL},
    {_BG_SQL},
    cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY b),
    cp AS (SELECT split_part(b, ' ', 1) AS w1, CAST(count(*) AS BIGINT) AS cpre
           FROM bg GROUP BY 1),
    n1 AS (SELECT split_part(b, ' ', 1) AS w1,
                  CAST(count(DISTINCT b) AS BIGINT) AS n1f
           FROM bg GROUP BY 1),
    ne AS (SELECT split_part(b, ' ', 2) AS w2,
                  CAST(count(DISTINCT b) AS BIGINT) AS nend
           FROM bg GROUP BY 1),
    nt AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS ntypes FROM bg),
    lp AS (
      SELECT cb.b,
             CAST(floor(ln(CAST(4 * cp.cpre * nt.ntypes AS DOUBLE)
                           / ((4 * cb.c - 3) * nt.ntypes
                              + 3 * n1.n1f * ne.nend))
                        * 1000000 + 0.5) AS BIGINT) AS lp_micro
      FROM cb
      JOIN cp ON split_part(cb.b, ' ', 1) = cp.w1
      JOIN n1 ON split_part(cb.b, ' ', 1) = n1.w1
      JOIN ne ON split_part(cb.b, ' ', 2) = ne.w2, nt
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           CAST(sum(lp_micro) AS BIGINT) AS kn_nll_micro_sum,
           CAST(floor(CAST(sum(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_kn_nll_micro
    FROM bg JOIN lp ON bg.b = lp.b
    GROUP BY bg.doc_id
    """,
)
def text_kneser_ney_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram scoring — the step past add-one on
    the n-gram-LM filter ladder (``text_unigram_nll`` → ``text_bigram_nll``
    → this): absolute discounting with the continuation-probability
    back-off that makes KN the standard n-gram smoother.

        p(w2|w1) = (c(w1w2) − d)/c(w1·) + λ(w1)·p_cont(w2)
        λ(w1) = d·N1+(w1·)/c(w1·)      p_cont(w2) = N1+(·w2)/N1+(··)

    With d = 3/4 EXACTLY and every bigram scored being corpus-observed
    (the LM trains on the corpus it scores, so c ≥ 1 and the max(·,0)
    never clips), the probability is one exact rational:
    [(4c−3)·T + 3·N1+(w1·)·N1+(·w2)] / (4·c(w1·)·T), T = total distinct
    bigram types. The ONLY float op is the single per-row ln of that
    rational (micro-rounded BEFORE the per-doc sum — the tfidf/bigram-NLL
    policy). Catches the word-salad profile add-one misses: a doc whose
    every transition is rare-but-seen scores near add-one's ceiling, while
    KN's continuation term separates 'rare because novel context' from
    'rare because nonsense'. Plan shape: four map-side-combined counts off
    ONE bigram explode, a 1-row type-count broadcast, and one doc_id
    aggregation — all joins on bigram/word keys, nothing corpus² anywhere.
    Magnitude note: 4·c(w1·)·T stays under 2⁵³ (double-exact) through
    ~10⁸ bigram types; beyond that compute the log as ln(4·cpre) +
    ln(T) − ln(denominator) — documented, not silent."""
    docs = load_table(spark, "documents", sf_dir)
    bg = (
        docs.select("doc_id", dedup.word_tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i-1] AS w1, tk[i] AS w2,"
                    " concat(tk[i-1], ' ', tk[i]) AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2", "p.b")
    )
    # r13 (guide §5): the bigram-type count table feeds FOUR consumers
    # (n1, ne, the type total, the probability join) — checkpoint the
    # type-bounded aggregate once so the bigram explode + count runs once,
    # not per consumer (exchange reuse shared only the map side).
    cb = (
        bg.groupBy("w1", "w2", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    cp = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cpre"))
    n1 = cb.groupBy("w1").agg(F.count(F.lit(1)).alias("n1f"))
    ne = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("nend"))
    nt = cb.agg(F.count(F.lit(1)).cast("long").alias("ntypes"))
    lp = (
        cb.join(cp, "w1")
        .join(n1, "w1")
        .join(ne, "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "b",
            F.expr(
                "CAST(floor(ln(CAST(4 * cpre * ntypes AS DOUBLE)"
                " / ((4 * c - 3) * ntypes + 3 * n1f * nend))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    return (
        bg.select("doc_id", "b")
        .join(lp, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("kn_nll_micro_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "kn_nll_micro_sum",
            F.floor(
                F.col("kn_nll_micro_sum").cast("double") / F.col("n_bigrams")
            )
            .cast("long")
            .alias("mean_kn_nll_micro"),
        )
    )


# ---------------------------------------------------------------------------
# tf-idf keyword extraction
# ---------------------------------------------------------------------------


@register(
    "tfidf_keywords",
    oracle=f"""
    WITH {_OCC_SQL},
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM occ GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    idf AS (
      SELECT tok, df,
             CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5)
                  AS BIGINT) AS idf_micro
      FROM df, n
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, idf.idf_micro,
             CAST(tf.tf * idf.idf_micro AS BIGINT) AS score_micro
      FROM tf JOIN idf ON tf.tok = idf.tok
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score_micro DESC, tok) AS rnk
      FROM scored
    )
    SELECT doc_id, tok, tf, idf_micro, score_micro, rnk AS rank
    FROM ranked WHERE rnk <= 3
    """,
)
def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document — the classic feature-extraction
    pass (topic tagging, index keys, weak labels). tf and df come from the
    same occurrence explode (two groupBy shuffles, both map-side combined);
    idf is rounded onto the micro-grid per TOKEN so ``tf × idf_micro`` is
    integer arithmetic and the per-doc top-3 ranking (row_number window,
    shuffle on doc_id) is deterministic with the alphabetical tie-break."""
    docs = load_table(spark, "documents", sf_dir)
    occ = _doc_occurrences(spark, sf_dir)
    tf = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = df_.crossJoin(F.broadcast(n)).select(
        "tok",
        F.floor(
            F.log(F.col("n_docs").cast("double") / F.col("df")) * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    scored = tf.join(idf, "tok").select(
        "doc_id",
        "tok",
        "tf",
        "idf_micro",
        (F.col("tf") * F.col("idf_micro")).cast("long").alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_micro").desc(), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "tf", "idf_micro", "score_micro", "rank")
    )


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

CONTAM_NGRAM = 8  # span width for decontamination checks
BENCH_MOD = 20  # doc_id % 20 == 0 -> the stand-in "benchmark" split


@layer("doc_grams8")
def _doc_grams8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted distinct-8-gram rows (doc_id, g) for ALL documents —
    shared by the decontamination family (exact join sweep + bloom
    prefilter), which otherwise re-derives the gram table once per side
    per query. Both the benchmark split (``doc_id % BENCH_MOD == 0``)
    and the corpus split are doc_id filters over this one table, applied
    after the cache read."""
    n = CONTAM_NGRAM
    gram_cat = ", ".join(f"tk[i+{j}]" for j in range(n))
    # NOTE (r12 optimization round): deliberately NOT scan-parallelism-
    # healed — same reverted experiment as _doc_occurrences: gram-keyed
    # consumers (coverage 0.53 -> 0.71 s, novelty 0.64 -> 0.81 s)
    # re-aggregate by gram, and a multi-partition cached layer dilutes
    # their map-side combining.
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", dedup.word_tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= n)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(tk) - {n}),"
                        f" i -> concat_ws(' ', {gram_cat}))"
                    )
                )
            ).alias("g"),
        )
        .persist()
    )


def _gram_sql() -> str:
    cat = ", ".join(f"tk[i+{j}]" for j in range(CONTAM_NGRAM))
    return f"""
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - {CONTAM_NGRAM - 1}, 1)),
               i -> concat_ws(' ', {cat})
             ))) AS g
      FROM toks WHERE len(tk) >= {CONTAM_NGRAM}
    )
    """


@register(
    "benchmark_contamination",
    oracle=f"""
    WITH {_gram_sql()}
    SELECT c.doc_id,
           count(*) AS n_matched_grams,
           count(DISTINCT b.doc_id) AS n_benchmark_docs
    FROM grams c JOIN grams b ON c.g = b.g
    WHERE c.doc_id % {BENCH_MOD} != 0 AND b.doc_id % {BENCH_MOD} = 0
    GROUP BY c.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: corpus documents sharing any 8-gram with the
    held-out benchmark split (stand-in: ``doc_id %% 20 == 0``) — the overlap
    check every serious pretraining run performs against its eval suites.
    One distinct-8-gram explode feeds both sides; the join is an
    inverted-index equi-join on the gram (only colliding spans meet — never
    doc×doc), exactly the ``common_ngram_spans`` machinery pointed at a
    corpus/benchmark partition. At 100 TB the benchmark side is tiny and
    broadcasts — behind a size gate (``hints.broadcast_if_small``): a huge
    eval suite's distinct-8-gram table falls back to the shuffle join
    instead of OOMing executors; the corpus side never shuffles more than
    its matched rows."""
    docs = load_table(spark, "documents", sf_dir)
    # grams come from the persisted shared 8-gram layer (per-row slice
    # projection, no window sorts — and built once per session for the
    # whole decontamination family instead of once per side per query)
    grams = _doc_grams8(spark, sf_dir)
    bench = grams.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "g"
    )
    corpus = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    # Two-stage gate evidence (chars ≥ tokens ≥ distinct grams): first a
    # cheap length(text) aggregate — no tokenization; only if that loose
    # bound (~5-6× tokens) is inconclusive, one tokenizing scan for the
    # precise token count, so mid-sized benchmarks keep the broadcast fast
    # path and neither stage runs the gram DAG twice. Measured length, not
    # the n_chars metadata column: if metadata under-reports the real text
    # (the drift n_chars_measured exists to surface), a metadata bound
    # would wrongly keep the broadcast path — the executor-OOM failure mode
    # this gate exists to prevent.
    bench_docs = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    bound = (
        bench_docs.agg(F.sum(F.length("text")).alias("n")).collect()[0][0] or 0
    )
    if bound > hints.BROADCAST_MAX_ROWS:
        bound = (
            bench_docs.agg(
                F.sum(F.size(dedup.word_tokens(F.col("text")))).alias("n")
            ).collect()[0][0]
            or 0
        )
    return (
        corpus.join(hints.broadcast_if_small(bench, upper_bound=bound), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_grams"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


@register(
    "source_token_kl",
    oracle=f"""
    WITH {_OCC_SQL},
    src AS (SELECT doc_id, source FROM documents),
    cs AS (
      SELECT s.source, o.tok, count(*) AS c_s
      FROM occ o JOIN src s ON o.doc_id = s.doc_id
      GROUP BY s.source, o.tok
    ),
    ts AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s FROM cs GROUP BY source),
    ct AS (SELECT tok, CAST(sum(c_s) AS BIGINT) AS c FROM cs GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ct),
    lr AS (
      SELECT cs.source, cs.c_s,
             CAST(floor(ln((CAST(cs.c_s AS DOUBLE) * CAST(t AS DOUBLE))
                           / (CAST(t_s AS DOUBLE) * CAST(ct.c AS DOUBLE)))
                        * 1000000 + 0.5)
                  AS BIGINT) AS lr_micro
      FROM cs JOIN ct ON cs.tok = ct.tok JOIN ts ON cs.source = ts.source, tot
    )
    SELECT lr.source, ts.t_s AS n_tokens,
           CAST(floor(CAST(sum(CAST(lr.c_s AS HUGEINT) * lr.lr_micro) AS DOUBLE)
                      / ts.t_s) AS BIGINT)
             AS kl_micro
    FROM lr JOIN ts ON lr.source = ts.source
    GROUP BY lr.source, ts.t_s
    """,
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution from
    the whole-corpus distribution — the domain-shift / mixture diagnostic a
    pretraining pipeline watches when reweighting (a source drifting from
    the mix shows up here before loss does). Every source's support is a
    subset of the corpus's, so Q(tok) > 0 and the sum is well-defined.
    Exactness: the per-(source, token) log-ratio is micro-rounded FIRST,
    weighted by the integer count, summed exactly, and divided by the
    source total once at the end — the same round-before-aggregate policy
    as ``text_unigram_nll``. Overflow safety at 100 TB: the ratio's
    factors are cast to double BEFORE multiplying (c_s·t and t_s·c exceed
    int64 once corpus totals pass ~1e9×1e9 — Spark would wrap silently
    while DuckDB errors), and the weighted sum runs in decimal(38,0) /
    HUGEINT (c_s·lr_micro alone can pass 9.2e18), so both engines stay
    exact to 1e38 instead of silently diverging. Shuffles: one doc_id join
    + three map-side-combined aggregations, all keyed on token/source."""
    occ = _doc_occurrences(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    cs = (
        occ.join(src, "doc_id")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_s"))
    )
    ts = cs.groupBy("source").agg(F.sum("c_s").cast("long").alias("t_s"))
    ct = cs.groupBy("tok").agg(F.sum("c_s").cast("long").alias("c"))
    tot = ct.agg(F.sum("c").cast("long").alias("t"))
    lr = (
        cs.join(ct, "tok")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "c_s",
            F.floor(
                F.log(
                    (F.col("c_s").cast("double") * F.col("t").cast("double"))
                    / (F.col("t_s").cast("double") * F.col("c").cast("double"))
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    return (
        lr.groupBy("source")
        .agg(
            F.sum(F.col("c_s").cast("decimal(38,0)") * F.col("lr_micro")).alias(
                "klsum"
            )
        )
        .join(F.broadcast(ts), "source")
        .select(
            "source",
            F.col("t_s").alias("n_tokens"),
            F.floor(F.col("klsum").cast("double") / F.col("t_s"))
            .cast("long")
            .alias("kl_micro"),
        )
    )


# fixed linear quality-classifier weights (the fasttext-style gate shape:
# handcrafted features x frozen weights -> sigmoid). Chosen to spread the
# fixture distribution; the POINT is the plan (per-row array features, zero
# shuffle) and the exactness policy, not the particular weights.
QC_W_STOP = 2.0  # stopword share helps (natural text has stopwords)
QC_W_DISTINCT = 1.5  # vocabulary diversity helps
QC_W_LEN = -0.004  # distance from a 150-token sweet spot hurts
QC_BIAS = -1.0


# shared CTE chain: tokens → features → logit → integer micro-probability.
# Used by the classifier itself and by the curriculum bucketing built on it.
_QC_SCORED_CTES = f"""
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    feats AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(tk, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
      FROM toks WHERE len(tk) > 0
    ),
    z AS (
      -- weights CAST to DOUBLE so each term rounds per step exactly like
      -- Spark's double arithmetic (a bare decimal literal would keep
      -- weight × count exact in DuckDB and round only at the division)
      SELECT doc_id, n_tokens, n_distinct, n_stop,
             CAST({QC_BIAS} AS DOUBLE)
               + CAST({QC_W_STOP} AS DOUBLE) * n_stop / n_tokens
               + CAST({QC_W_DISTINCT} AS DOUBLE) * n_distinct / n_tokens
               + CAST({QC_W_LEN} AS DOUBLE) * abs(n_tokens - 150) AS zv
      FROM feats
    ),
    qscored AS (
      SELECT doc_id, n_tokens, n_distinct, n_stop,
             CAST(floor(1000000 / (1 + exp(-zv)) + 0.5) AS BIGINT) AS quality_micro
      FROM z
    )"""


def _quality_scored(docs: DataFrame) -> DataFrame:
    """Engine side of ``_QC_SCORED_CTES``: per-doc features and the frozen
    linear classifier's integer micro-probability, as one zero-shuffle
    projection."""
    tk = dedup.word_tokens(F.col("text"))
    feats = docs.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_distinct"),
        F.size(F.filter(tk, lambda x: x.isin("the", "a"))).cast("long").alias("n_stop"),
    ).filter(F.col("n_tokens") > 0)
    zv = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * F.col("n_stop") / F.col("n_tokens")
        + F.lit(QC_W_DISTINCT) * F.col("n_distinct") / F.col("n_tokens")
        + F.lit(QC_W_LEN) * F.abs(F.col("n_tokens") - F.lit(150))
    )
    return feats.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "n_stop",
        F.floor(F.lit(1_000_000) / (F.lit(1) + F.exp(-zv)) + F.lit(0.5))
        .cast("long")
        .alias("quality_micro"),
    )


@register(
    "quality_linear_score",
    oracle=f"""
    WITH {_QC_SCORED_CTES}
    SELECT doc_id, n_tokens, n_distinct, n_stop, quality_micro FROM qscored
    """,
)
def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen linear quality classifier (the fasttext-filter shape): three
    handcrafted features — stopword share, vocabulary diversity, distance
    from a length sweet spot — through fixed weights and a sigmoid, emitted
    as integer micro-probabilities. Every feature is a per-row ARRAY
    expression (size / array_distinct / filter), so the whole scorer is a
    zero-shuffle projection over the scan — the cheapest possible gate to
    run in front of a 100 TB curation DAG. The double arithmetic mirrors
    the oracle token-for-token and is rounded once at the end."""
    return _quality_scored(load_table(spark, "documents", sf_dir))


QC_RANGE_BUCKET = 4096  # curriculum range-bucket width over [0, 1e6] micro-probs


@register(
    "quality_curriculum",
    oracle=f"""
    WITH {_QC_SCORED_CTES},
    r AS (
      SELECT n_tokens, quality_micro,
             row_number() OVER (ORDER BY quality_micro DESC, doc_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM qscored
    )
    SELECT CAST(floor(rn * 10.0 / n) AS BIGINT) AS decile,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS decile_tokens,
           CAST(min(quality_micro) AS BIGINT) AS min_quality_micro,
           CAST(max(quality_micro) AS BIGINT) AS max_quality_micro
    FROM r GROUP BY decile
    """,
)
def quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: rank the corpus by classifier quality (best
    first, doc_id tie-break) and cut it into 10 equal-population deciles —
    the schedule a quality-curriculum trainer feeds batches from (decile 0
    first). The oracle states the spec as one global ``row_number``; the
    ENGINE computes the identical rank with the two-pass distributed shape
    (same equivalence argument as ``corpus_shuffle_order``): per-bucket
    ranks keyed on a RANGE bucket — ``floor(quality_micro/4096)``, a
    monotone coarsening of the sort key, so global order is bucket-major —
    plus broadcast cumulative offsets from the ≤245-row bucket histogram.
    The corpus never passes through one reducer; a skewed score
    distribution concentrates buckets, which this op's own histogram makes
    visible (and a finer grid fixes). Output is 10 rows of per-decile
    population, token mass, and score range — the table that tells you
    whether 'high quality' is also 'short documents'."""
    scored = _quality_scored(load_table(spark, "documents", sf_dir)).select(
        "doc_id", "n_tokens", "quality_micro"
    )
    t = scored.withColumn(
        "qb", F.floor(F.col("quality_micro") / F.lit(QC_RANGE_BUCKET))
    )
    wb = Window.partitionBy("qb").orderBy(F.col("quality_micro").desc(), "doc_id")
    ranked = t.withColumn("rk", F.row_number().over(wb))
    counts = t.groupBy("qb").agg(F.count(F.lit(1)).alias("n_b"))
    # cumulative offsets in DESCENDING bucket order (global order is best
    # score first); ≤245 rows, so the unkeyed window is bounded driver-scale
    wo = Window.orderBy(F.col("qb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "qb", (F.sum("n_b").over(wo) - F.col("n_b")).alias("offset")
    ).crossJoin(F.broadcast(counts.agg(F.sum("n_b").alias("n"))))
    return (
        ranked.join(F.broadcast(offsets), "qb")
        .select(
            F.floor((F.col("offset") + F.col("rk") - 1) * F.lit(10.0) / F.col("n"))
            .cast("long")
            .alias("decile"),
            "n_tokens",
            "quality_micro",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("decile_tokens"),
            F.min("quality_micro").cast("long").alias("min_quality_micro"),
            F.max("quality_micro").cast("long").alias("max_quality_micro"),
        )
    )


QCT_STEPS = 3  # unrolled gradient steps (the k-means/BPE loop skeleton)
QCT_LR_DIV = 10_000_000_000_000  # 1e13: w -= grad_sum div (n * 1e13), lr ~ 1e-13
QCT_THRESH_PICO = 500_000_000_000  # decision boundary: pred >= 0.5 in pico units


def _qct_oracle() -> str:
    """Unrolled exact-arithmetic gradient chain: per step, the residual
    moment sums run in HUGEINT, the weight update is one truncating integer
    division (Spark decimal `div` == DuckDB HUGEINT `//`, both toward
    zero), and the step's pre-update loss/agreement ride the same
    aggregate."""
    ctes = [
        _QC_SCORED_CTES.strip(),  # toks/feats/z/qscored verbatim
        """f AS (
      SELECT doc_id,
             CAST(1000000 AS BIGINT) AS x0,
             (n_stop * 1000000) // n_tokens AS x1,
             (n_distinct * 1000000) // n_tokens AS x2,
             least(abs(n_tokens - 150) * 1000, 1000000) AS x3,
             CASE WHEN quality_micro >= 500000
                  THEN CAST(1000000000000 AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END AS y
      FROM qscored
    )""",
        """w0 AS (
      SELECT CAST(0 AS HUGEINT) AS b, CAST(0 AS HUGEINT) AS wa,
             CAST(0 AS HUGEINT) AS wb, CAST(0 AS HUGEINT) AS wc
    )""",
    ]
    rows = []
    for k in range(1, QCT_STEPS + 1):
        ctes.append(
            f"""p{k} AS (
      SELECT f.*,
             w.b * x0 + w.wa * x1 + w.wb * x2 + w.wc * x3 AS pred
      FROM f, w{k - 1} w
    )"""
        )
        ctes.append(
            f"""g{k} AS (
      SELECT count(*) AS n,
             sum((pred - y) * x0) AS g0, sum((pred - y) * x1) AS g1,
             sum((pred - y) * x2) AS g2, sum((pred - y) * x3) AS g3,
             sum((pred - y) * (pred - y)) AS sse,
             sum(CASE WHEN (pred >= {QCT_THRESH_PICO}) = (y > 0)
                      THEN 1 ELSE 0 END) AS agree
      FROM p{k}
    )"""
        )
        ctes.append(
            f"""w{k} AS (
      SELECT w.b - g.g0 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS b,
             w.wa - g.g1 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS wa,
             w.wb - g.g2 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS wb,
             w.wc - g.g3 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS wc
      FROM g{k} g, w{k - 1} w
    )"""
        )
        rows.append(
            f"""SELECT CAST({k} AS BIGINT) AS step,
           CAST(w.b AS BIGINT) AS bias_micro,
           CAST(w.wa AS BIGINT) AS w_stop_micro,
           CAST(w.wb AS BIGINT) AS w_distinct_micro,
           CAST(w.wc AS BIGINT) AS w_len_micro,
           CAST(g.sse // (CAST(g.n AS HUGEINT) * 1000000000000) AS BIGINT)
             AS mse_micro2,
           CAST(g.agree AS BIGINT) AS agree_pre_n,
           CAST(g.n AS BIGINT) AS n_train
    FROM w{k} w, g{k} g"""
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(rows)


@register("quality_classifier_train", oracle=_qct_oracle())
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED quality-classifier training — closing the loop the
    frozen ``quality_linear_score`` leaves open: {QCT_STEPS} unrolled
    full-batch gradient steps of a linear scorer (squared loss) distilling
    the frozen sigmoid classifier's >= 0.5 gate into micro-grid weights.
    The exactness policy is the k-means/covariance one end to end: features
    land on the integer micro grid (truncating div, both engines toward
    zero), the per-step residual moment sums run in DECIMAL(38,0)/HUGEINT
    (residuals are pico-scale, so int64 would wrap at ~1e6 docs), and the
    weight update is one integer division by n * {QCT_LR_DIV} — no
    transcendental anywhere, so the oracle replays the chain bit-for-bit.
    Plan shape per step: one zero-shuffle feature projection (computed
    once, lazily checkpointed), a broadcast 1-row weight side, and one
    map-side-combined aggregate — the iterate/broadcast/rewrite skeleton
    shared with Lloyd's and BPE, which is exactly how a 100 TB full-batch
    GD epoch runs (gradient = one aggregate per pass). Each emitted row
    carries the weights the step PRODUCED plus the loss/agreement measured
    at the step's start (the quantities its gradient consumed)."""
    scored = _quality_scored(load_table(spark, "documents", sf_dir))
    f = scored.select(
        F.lit(1_000_000).cast("long").alias("x0"),
        F.expr("n_stop * 1000000 div n_tokens").alias("x1"),
        F.expr("n_distinct * 1000000 div n_tokens").alias("x2"),
        F.least(F.abs(F.col("n_tokens") - 150) * 1000, F.lit(1_000_000)).alias("x3"),
        F.when(F.col("quality_micro") >= 500_000, F.lit(1_000_000_000_000))
        .otherwise(F.lit(0))
        .cast("decimal(38,0)")
        .alias("y"),
    ).localCheckpoint(eager=False)
    dec0 = F.lit(0).cast("decimal(38,0)")
    w = spark.range(1).select(
        dec0.alias("b"), dec0.alias("wa"), dec0.alias("wb"), dec0.alias("wc")
    )
    out_rows = []
    for k in range(1, QCT_STEPS + 1):
        p = f.crossJoin(F.broadcast(w))
        pred = (
            F.col("b") * F.col("x0")
            + F.col("wa") * F.col("x1")
            + F.col("wb") * F.col("x2")
            + F.col("wc") * F.col("x3")
        )
        r = (pred - F.col("y")).alias("r")
        g = p.select(
            r,
            (pred >= F.lit(QCT_THRESH_PICO)).eqNullSafe(F.col("y") > 0).alias("ok"),
            "x0",
            "x1",
            "x2",
            "x3",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("r") * F.col("x0")).alias("g0"),
            F.sum(F.col("r") * F.col("x1")).alias("g1"),
            F.sum(F.col("r") * F.col("x2")).alias("g2"),
            F.sum(F.col("r") * F.col("x3")).alias("g3"),
            F.sum(F.col("r") * F.col("r")).alias("sse"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("agree"),
        )
        gw = g.crossJoin(F.broadcast(w))

        def delta(gc: str) -> F.Column:
            return F.expr(f"{gc} div (CAST(n AS DECIMAL(38,0)) * {QCT_LR_DIV})")

        neww = gw.select(
            (F.col("b") - delta("g0")).cast("decimal(38,0)").alias("b"),
            (F.col("wa") - delta("g1")).cast("decimal(38,0)").alias("wa"),
            (F.col("wb") - delta("g2")).cast("decimal(38,0)").alias("wb"),
            (F.col("wc") - delta("g3")).cast("decimal(38,0)").alias("wc"),
        ).localCheckpoint(eager=False)
        out_rows.append(
            neww.crossJoin(F.broadcast(g)).select(
                F.lit(k).cast("long").alias("step"),
                F.col("b").cast("long").alias("bias_micro"),
                F.col("wa").cast("long").alias("w_stop_micro"),
                F.col("wb").cast("long").alias("w_distinct_micro"),
                F.col("wc").cast("long").alias("w_len_micro"),
                F.expr("sse div (CAST(n AS DECIMAL(38,0)) * 1000000000000)")
                .cast("long")
                .alias("mse_micro2"),
                F.col("agree").cast("long").alias("agree_pre_n"),
                F.col("n").cast("long").alias("n_train"),
            )
        )
        w = neww
    out = out_rows[0]
    for rdf in out_rows[1:]:
        out = out.unionByName(rdf)
    return out


quality_classifier_train.__doc__ = quality_classifier_train.__doc__.format(
    QCT_STEPS=QCT_STEPS, QCT_LR_DIV=QCT_LR_DIV
)


FH_DIM = 16  # feature-hashing buckets (one md5 hex nibble)


@register(
    "doc_feature_hashing",
    oracle=f"""
    WITH {_OCC_SQL},
    b AS (
      SELECT doc_id,
             CAST((ascii(substr(md5(tok), 1, 1)) - 48
                   - CASE WHEN ascii(substr(md5(tok), 1, 1)) >= 97 THEN 39 ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM occ
    ),
    tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY doc_id, bucket),
    nrm AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS sumsq FROM tf GROUP BY doc_id)
    SELECT tf.doc_id, tf.bucket, tf.tf,
           CAST(floor(tf.tf * 1000000 / sqrt(CAST(nrm.sumsq AS DOUBLE)) + 0.5)
                AS BIGINT) AS weight_micro
    FROM tf JOIN nrm ON tf.doc_id = nrm.doc_id
    """,
)
def doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (the hashing trick): tokens hash into
    ``FH_DIM`` buckets (md5 nibble — engine-portable ascii arithmetic, same
    as the SimHash bits) and each document becomes a sparse L2-normalized
    bucket→weight vector — the featurization step that feeds the ANN /
    clustering family when no model embeddings exist. Sparse rows, not a
    dense array column, so the oracle is plain GROUP BY arithmetic and the
    output scales with non-zero entries. Two doc_id/bucket-keyed aggregates
    (map-side combined); the weight is micro-rounded per row from exact
    integer (tf, sum-of-squares) inputs, so both engines land on the same
    bigint."""
    occ = _doc_occurrences(spark, sf_dir)
    c = F.ascii(F.substring(F.md5("tok"), 1, 1))
    bucket = (c - 48 - F.when(c >= 97, 39).otherwise(0)).cast("long")
    tf = (
        occ.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nrm = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("sumsq")
    )
    return tf.join(nrm, "doc_id").select(
        "doc_id",
        "bucket",
        "tf",
        F.floor(
            F.col("tf") * F.lit(1_000_000) / F.sqrt(F.col("sumsq").cast("double"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("weight_micro"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_N_TERMS = 5


@register(
    "bm25_doc_ranking",
    oracle=f"""
    WITH {_OCC_SQL},
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM occ GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM occ GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    terms AS (
      SELECT tok, df FROM df, stats WHERE df * 4 <= n_docs
      ORDER BY df DESC, tok LIMIT {BM25_N_TERMS}
    ),
    idf AS (
      SELECT tok,
             CAST(floor(ln(1 + (n_docs - df + CAST(0.5 AS DOUBLE))
                           / (df + CAST(0.5 AS DOUBLE))) * 1000000 + 0.5)
                  AS BIGINT) AS idf_micro
      FROM terms, stats
    ),
    scored AS (
      -- every fractional literal CAST to DOUBLE: DuckDB otherwise keeps
      -- bigint × decimal-literal products in exact DECIMAL and rounds only
      -- once at the division, while Spark rounds to double per step — a
      -- quotient within ~1 ulp of an integer would floor differently
      SELECT tf.doc_id, tf.tok, tf.tf, dl.dl, idf.idf_micro,
             CAST(floor(idf.idf_micro * (tf.tf * CAST({1 + BM25_K1} AS DOUBLE))
                  / (tf.tf + CAST({BM25_K1} AS DOUBLE)
                     * (1 - CAST({BM25_B} AS DOUBLE)
                        + CAST({BM25_B} AS DOUBLE) * dl.dl / stats.avgdl)))
                  AS BIGINT) AS score_micro
      FROM tf JOIN idf ON tf.tok = idf.tok
      JOIN dl ON tf.doc_id = dl.doc_id, stats
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY tok ORDER BY score_micro DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT tok, doc_id, tf, dl, idf_micro, score_micro, rnk AS rank
    FROM ranked WHERE rnk <= {BM25_TOPK}
    """,
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a deterministic query-term set (the 5 most
    frequent tokens appearing in ≤ a quarter of docs — common enough to
    rank, discriminative enough to mean something) — the lexical retrieval
    baseline next to the embedding ANN family. tf/df/dl come from the shared
    occurrence layer (map-side-combined shuffles); the 5-term idf table
    broadcasts, so the scoring join filters the tf table to matching terms
    only before the per-term top-10 window. idf is micro-gridded per term;
    the remaining per-row double arithmetic mirrors the oracle expression
    token-for-token, and floor lands both engines on the same bigint."""
    occ = _doc_occurrences(spark, sf_dir)
    tf = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = occ.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    terms = (
        df_.crossJoin(F.broadcast(stats))
        .filter(F.col("df") * 4 <= F.col("n_docs"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(BM25_N_TERMS)
    )
    idf = terms.select(
        "tok",
        F.floor(
            F.log(
                F.lit(1)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            )
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("idf_micro"),
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            "tf",
            "dl",
            "idf_micro",
            F.floor(
                F.col("idf_micro") * (F.col("tf") * F.lit(1 + BM25_K1))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (F.lit(1) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
                )
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("tok").orderBy(F.col("score_micro").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("tok", "doc_id", "tf", "dl", "idf_micro", "score_micro", "rank")
    )


# bloom primitives shared with the streaming ingest gate (operators/bloom.py)
BLOOM_M = bloom.BLOOM_M  # bloom bits (2^16 → 8 KiB bitmap, 1024 longs)
BLOOM_K = bloom.BLOOM_K  # hash functions per gram


def _bloom_gram_sql() -> str:
    """Shared CTE: distinct 8-grams per doc (benchmark + corpus split)."""
    n = CONTAM_NGRAM
    cat = ", ".join(f"tk[i+{j}]" for j in range(n))
    return f"""
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    g8 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(tk) - {n - 1}),
               i -> concat_ws(' ', {cat})))) AS g
      FROM toks WHERE len(tk) >= {n}
    )"""


@register(
    "contamination_bloom_prefilter",
    oracle=f"""
    WITH {_bloom_gram_sql()},
    bgd AS (SELECT DISTINCT g FROM g8 WHERE doc_id % {BENCH_MOD} = 0),
    bpos AS (
      SELECT DISTINCT
             ('0x' || substr(md5(k || ':' || g), 1, 8))::BIGINT % {BLOOM_M} AS pos
      FROM bgd, (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS k) ks
    ),
    cg AS (SELECT doc_id, g FROM g8 WHERE doc_id % {BENCH_MOD} != 0),
    cgp AS (
      SELECT doc_id, g,
             sum(CASE WHEN bp.pos IS NOT NULL THEN 1 ELSE 0 END) AS nbits
      FROM (
        SELECT doc_id, g,
               ('0x' || substr(md5(k || ':' || g), 1, 8))::BIGINT % {BLOOM_M} AS pos
        FROM cg, (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS k) ks
      ) x
      LEFT JOIN bpos bp ON bp.pos = x.pos
      GROUP BY doc_id, g
    ),
    flags AS (
      SELECT c.doc_id, (c.nbits = {BLOOM_K}) AS bloom_hit,
             (b.g IS NOT NULL) AS true_hit
      FROM cgp c LEFT JOIN bgd b ON b.g = c.g
    )
    SELECT doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(sum(CASE WHEN true_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_hits,
           CAST(sum(CASE WHEN bloom_hit AND NOT true_hit THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM flags GROUP BY doc_id
    HAVING sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) > 0
    """,
)
def contamination_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter decontamination — the shape that beats broadcasting
    the benchmark gram TABLE at 100 TB: the benchmark's distinct 8-grams
    compress into a {BLOOM_M}-bit bloom ({BLOOM_K} salted-md5 hashes,
    8 KiB) whose size is BOUNDED BY CONSTRUCTION no matter how large the
    eval suite grows — the distinct-position collect can never exceed
    {BLOOM_M} rows, so the driver/broadcast cost is O(M), not O(grams)
    (contrast ``benchmark_contamination``'s size-gated gram broadcast).
    Corpus grams test membership with pure codegen bit arithmetic against
    the literal bitmap; docs with ≥1 candidate gram move on to exact
    verification. This query is the AUDIT of that pipeline: per flagged
    doc, gram count, bloom candidates, exact true hits (the verification
    join), and false positives — bloom guarantees no false negatives, so
    ``n_candidates ≥ n_true_hits`` row-by-row and a doc with hits is
    always flagged. The oracle computes the identical bloom relationally
    (position-set joins), so bitmap arithmetic is value-checked exactly."""
    g8 = _doc_grams8(spark, sf_dir)
    bench = g8.filter(F.col("doc_id") % BENCH_MOD == 0).select("g").distinct()

    # Build the bitmap: distinct positions are bounded by M (=65536) no
    # matter the benchmark size, so this collect is O(M) by construction —
    # the same bounded-driver-state class as centroids and probe lists.
    # (Shared with the streaming ingest gate: operators/bloom.py.)
    words = bloom.bitmap_from_grams(bench)

    corpus = g8.filter(F.col("doc_id") % BENCH_MOD != 0)
    flagged = corpus.select(
        "doc_id", "g", bloom.gram_hit(words, F.col("g")).alias("bloom_hit")
    )
    verified = flagged.join(
        bench.withColumn("true_hit", F.lit(True)), "g", "left"
    ).select(
        "doc_id",
        "bloom_hit",
        F.coalesce("true_hit", F.lit(False)).alias("true_hit"),
    )
    return (
        verified.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_candidates"),
            F.sum(F.when(F.col("true_hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_true_hits"),
            F.sum(F.when(F.col("bloom_hit") & ~F.col("true_hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_false_pos"),
        )
        .filter(F.col("n_candidates") > 0)
    )


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality gates)
# ---------------------------------------------------------------------------


@register(
    "text_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    base AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) >= 2),
    big AS (
      SELECT doc_id, n,
             unnest(list_transform(generate_series(1, n - 1),
                    i -> concat_ws(' ', tk[i], tk[i+1]))) AS bg
      FROM base
    ),
    bstats AS (
      SELECT doc_id,
             CAST(max(n) - 1 AS BIGINT) AS bg_total,
             count(DISTINCT bg) AS bg_distinct,
             CAST(max(cnt) AS BIGINT) AS bg_top
      FROM (SELECT doc_id, n, bg, count(*) OVER (PARTITION BY doc_id, bg) AS cnt
            FROM big)
      GROUP BY doc_id
    ),
    tstats AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS tok_top, count(*) AS n_tokens
      FROM (
        SELECT o.doc_id, count(*) OVER (PARTITION BY o.doc_id, o.tok) AS cnt
        FROM (SELECT doc_id, unnest(tk) AS tok FROM base) o
      )
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           t.n_tokens,
           CAST(floor((bg_total - bg_distinct) * 1000000.0 / bg_total) AS BIGINT)
             AS dup_bigram_micro,
           CAST(floor(bg_top * 1000000.0 / bg_total) AS BIGINT)
             AS top_bigram_micro,
           CAST(floor(tok_top * 1000000.0 / t.n_tokens) AS BIGINT)
             AS top_token_micro
    FROM bstats b JOIN tstats t ON b.doc_id = t.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality gates (the Gopher rules): fraction of duplicate
    word-bigram occurrences, share of the single most frequent bigram, and
    share of the single most frequent token — the signals that catch
    keyword-stuffed / template / looping-generator text that length and
    stopword ratios miss. One bigram explode + per-doc aggregates (shuffles
    on doc_id only, never global); every reported fraction is
    ``floor(a*1e6/b)`` over bigint counts, so the values are exact on any
    engine. Docs under 2 tokens have no bigram universe and are excluded
    (they are the length gate's job, not the repetition gate's)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(dedup.word_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.select(
        "doc_id",
        "tok",
        F.lead("tok", 1).over(w).alias("nxt"),
    )
    big = pairs.filter(F.col("nxt").isNotNull()).select(
        "doc_id", F.concat_ws(" ", "tok", "nxt").alias("bg")
    )
    bcnt = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    bstats = bcnt.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("bg_total"),
        F.count(F.lit(1)).alias("bg_distinct"),
        F.max("cnt").cast("long").alias("bg_top"),
    )
    tcnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tstats = tcnt.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"), F.max("cnt").cast("long").alias("tok_top")
    )
    return (
        bstats.join(tstats, "doc_id")
        .filter(F.col("bg_total") >= 1)
        .select(
            "doc_id",
            "n_tokens",
            F.floor(
                (F.col("bg_total") - F.col("bg_distinct"))
                * F.lit(1_000_000.0)
                / F.col("bg_total")
            )
            .cast("long")
            .alias("dup_bigram_micro"),
            F.floor(F.col("bg_top") * F.lit(1_000_000.0) / F.col("bg_total"))
            .cast("long")
            .alias("top_bigram_micro"),
            F.floor(F.col("tok_top") * F.lit(1_000_000.0) / F.col("n_tokens"))
            .cast("long")
            .alias("top_token_micro"),
        )
    )


# ---------------------------------------------------------------------------
# domain mixture reweighting
# ---------------------------------------------------------------------------


@register(
    "source_mixture_weights",
    oracle=f"""
    WITH occ AS (
      SELECT source, doc_id, len({_TOKS}) AS n_toks FROM documents
    ),
    per AS (
      SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS toks
      FROM occ GROUP BY source
    ),
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t, count(*) AS s FROM per)
    SELECT source, n_docs, toks,
           CAST(floor(toks * 1000000.0 / t) AS BIGINT) AS actual_share_micro,
           CAST(floor(1000000.0 / s) AS BIGINT) AS target_share_micro,
           CAST(floor(t * 1000000.0 / (s * toks)) AS BIGINT) AS weight_micro
    FROM per, tot
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source token shares and the sampling
    weight that moves the mixture to uniform-over-sources (the DoReMi /
    Pile-style knob; swap the uniform target for learned weights without
    changing the plan). One narrow aggregate per source + a broadcast scalar
    join; all shares are integer micro-units of exact bigint token counts."""
    docs = load_table(spark, "documents", sf_dir)
    per = docs.select(
        "source", "doc_id", F.size(dedup.word_tokens(F.col("text"))).alias("n_toks")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("toks"),
    )
    tot = per.agg(
        F.sum("toks").cast("long").alias("t"), F.count(F.lit(1)).alias("s")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "toks",
        F.floor(F.col("toks") * F.lit(1_000_000.0) / F.col("t"))
        .cast("long")
        .alias("actual_share_micro"),
        F.floor(F.lit(1_000_000.0) / F.col("s")).cast("long").alias(
            "target_share_micro"
        ),
        F.floor(F.col("t") * F.lit(1_000_000.0) / (F.col("s") * F.col("toks")))
        .cast("long")
        .alias("weight_micro"),
    )


@register(
    "mixture_temperature_resample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_toks FROM documents
    ),
    per AS (
      SELECT source, CAST(sum(n_toks) AS BIGINT) AS toks
      FROM d GROUP BY source HAVING sum(n_toks) > 0
    ),
    sw AS (
      SELECT source, toks,
             CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
      FROM per
    ),
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t, CAST(sum(w) AS BIGINT) AS ws FROM sw),
    ratio AS (
      SELECT source, toks,
             CAST(least(1000000, floor(
               ((CAST(t AS DOUBLE) * CAST(w AS DOUBLE)) * 1000000.0)
               / (CAST(ws AS DOUBLE) * CAST(toks AS DOUBLE))
             )) AS BIGINT) AS keep_ratio_micro
      FROM sw, tot
    )
    SELECT d.doc_id, d.source, d.n_toks, r.keep_ratio_micro
    FROM d JOIN ratio r ON d.source = r.source
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            * 1000000
          < r.keep_ratio_micro * 4294967296
    """,
)
def mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling to rebalance the source mixture (the
    multilingual / multi-domain α=0.5 rule: target share ∝ tokens^0.5, so
    big sources down-sample and small sources keep everything): per-source
    keep ratios derive from exact bigint token totals — sqrt is IEEE
    correctly-rounded in both engines, every product is explicitly
    parenthesized so the doubles match bit-for-bit, and the ratio is
    micro-floored BEFORE the per-doc test — then each doc passes a
    deterministic 32-bit hash-threshold gate
    (``sampling.keep_by_hash_ratio``: pure int64 compare). One narrow
    per-source aggregate broadcasts into a per-row filter: the 100 TB cost
    is the scan. Sources with zero tokens drop out (nothing to sample)."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    per = (
        docs.groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("toks"))
        .filter(F.col("toks") > 0)
        .withColumn(
            "w",
            F.floor(F.sqrt(F.col("toks").cast("double")) * F.lit(1_000_000.0)).cast(
                "long"
            ),
        )
    )
    tot = per.agg(
        F.sum("toks").cast("long").alias("t"), F.sum("w").cast("long").alias("ws")
    )
    ratio = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1_000_000),
            F.floor(
                (F.col("t").cast("double") * F.col("w").cast("double"))
                * F.lit(1_000_000.0)
                / (F.col("ws").cast("double") * F.col("toks").cast("double"))
            ),
        )
        .cast("long")
        .alias("keep_ratio_micro"),
    )
    return sampling.keep_by_hash_ratio(
        docs.join(F.broadcast(ratio), "source")
    ).select("doc_id", "source", "n_toks", "keep_ratio_micro")


EPOCH_BUDGET_X = 2  # token budget = 2× the corpus (data-constrained regime)
EPOCH_CAP_MICRO = 4_000_000  # repeat cap: ≤4 epochs of any one source


@register(
    "mixture_epoch_plan",
    oracle=f"""
    WITH d AS (
      SELECT source, CAST(len({_TOKS}) AS BIGINT) AS n_toks FROM documents
    ),
    per AS (
      SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS toks
      FROM d GROUP BY source HAVING sum(n_toks) > 0
    ),
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t, count(*) AS s FROM per),
    plan AS (
      -- micro products in HUGEINT: target_tokens·1e6 (and epochs·toks
      -- below) pass 9.2e18 once the corpus passes ~36 TB of text — the
      -- silent-int64-wrap class source_token_kl already guards against
      SELECT source, n_docs, toks,
             CAST(({EPOCH_BUDGET_X} * t) // s AS BIGINT) AS target_tokens,
             CAST((CAST(({EPOCH_BUDGET_X} * t) // s AS HUGEINT) * 1000000)
                  // toks AS BIGINT) AS epochs_micro
      FROM per, tot
    )
    SELECT source, n_docs, toks, target_tokens, epochs_micro,
           epochs_micro > {EPOCH_CAP_MICRO} AS capped,
           CAST((CAST(least(epochs_micro, {EPOCH_CAP_MICRO}) AS HUGEINT) * toks)
                // 1000000 AS BIGINT) AS planned_tokens
    FROM plan
    """,
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repetition planner for the data-constrained regime: given a
    token budget of ``EPOCH_BUDGET_X``× the corpus and a uniform-over-
    sources target mixture, how many passes (micro-epochs) over each source
    the schedule takes — capped at 4 epochs (the repeat ceiling beyond
    which repeated data stops paying, per the data-constrained scaling-law
    rule), with ``capped`` marking sources too small to fill their slice
    and ``planned_tokens`` what the cap actually grants them. Pure integer
    arithmetic over exact bigint token counts (integer div at every step),
    so both engines land on identical rows. Cost shape: one narrow
    per-source aggregate + a broadcast 2-value scalar — the 100 TB cost is
    the token-count scan the mixture family already shares."""
    docs = load_table(spark, "documents", sf_dir)
    per = (
        docs.select(
            "source", F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("n_toks")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("toks"),
        )
        .filter(F.col("toks") > 0)
    )
    tot = per.agg(
        F.sum("toks").cast("long").alias("t"), F.count(F.lit(1)).alias("s")
    )
    plan = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "toks",
        F.expr(f"({EPOCH_BUDGET_X} * t) div s").alias("target_tokens"),
        # micro products in DECIMAL(38,0): int64 wraps silently in Spark
        # past ~36 TB of corpus text (mirrors the oracle's HUGEINT)
        F.expr(
            f"CAST((CAST(({EPOCH_BUDGET_X} * t) div s AS DECIMAL(38,0)) * 1000000)"
            " div toks AS BIGINT)"
        ).alias("epochs_micro"),
    )
    return plan.select(
        "source",
        "n_docs",
        "toks",
        "target_tokens",
        "epochs_micro",
        (F.col("epochs_micro") > F.lit(EPOCH_CAP_MICRO)).alias("capped"),
        F.expr(
            f"CAST((CAST(least(epochs_micro, {EPOCH_CAP_MICRO}) AS DECIMAL(38,0))"
            " * toks) div 1000000 AS BIGINT)"
        ).alias("planned_tokens"),
    )


@register(
    "corpus_manifest",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len({_TOKS}) AS BIGINT) AS n_toks,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))
               ::BIGINT AS h60
      FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_toks,
           bit_xor(h60) AS content_xor60
    FROM d GROUP BY source
    """,
)
def corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducibility manifest: per source, doc count, token mass, and an
    order-independent 60-bit content checksum (XOR of per-doc
    md5(doc_id:text) prefixes). This is the table a training run records
    next to its config so 'same data?' is a cheap equality check later —
    any added, dropped, or edited document flips the XOR. XOR (not SUM) so
    the fold is overflow-free and commutative: partition order, engine, and
    shuffle layout can never move the value. Cost: one scan, one narrow
    per-source aggregate (map-side combined) — the cheapest possible
    integrity sweep over 100 TB."""
    return manifest_of(load_table(spark, "documents", sf_dir))


def manifest_of(docs: DataFrame) -> DataFrame:
    """The manifest aggregate over any (doc_id, text, source) frame, batch
    or streaming: ``streaming/stateful.py::manifest_stream`` is this
    builder over a stream, so Spark keeps the three per-source folds as
    its own aggregation state."""
    from postgres_cdc_example_spark.operators import text as text_ops

    return (
        docs.select(
            "source",
            F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("n_toks"),
            text_ops.content_hash60(F.col("doc_id"), F.col("text")).alias("h60"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_toks"),
            F.expr("bit_xor(h60)").alias("content_xor60"),
        )
    )


# ---------------------------------------------------------------------------
# vocabulary build
# ---------------------------------------------------------------------------

VOCAB_TOP = 100


@register(
    "vocab_top_tokens",
    oracle=f"""
    WITH {_OCC_SQL},
    cnt AS (SELECT tok, count(*) AS n FROM occ GROUP BY tok)
    SELECT tok, n, rnk AS rank FROM (
      SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM cnt
    ) WHERE rnk <= {VOCAB_TOP}
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: top-{100} tokens by corpus frequency with rank — the
    seed list a tokenizer build (BPE merges, special-token audits) starts
    from. The count is one map-side-combined shuffle; the global top-N is
    TakeOrdered over the (already tiny) distinct-token table, never a full
    sort of the corpus. Ties break alphabetically so the ranking is total
    and engine-independent."""
    cnt = _doc_occurrences(spark, sf_dir).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = cnt.orderBy(F.col("n").desc(), "tok").limit(VOCAB_TOP)
    w = Window.orderBy(F.col("n").desc(), "tok")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "tok", "n", "rank"
    )


CMS_D = 4  # count-min-sketch hash rows
CMS_W = 512  # count-min-sketch buckets per row (state = D×W cells, fixed)


@register(
    "token_count_min_sketch",
    oracle=f"""
    WITH {_OCC_SQL},
    ex AS (
      SELECT tok, unnest(generate_series(0, {CMS_D - 1})) AS j FROM occ
    ),
    cells AS (
      SELECT j,
             ('0x' || substr(md5(j || ':' || tok), 1, 8))::BIGINT % {CMS_W} AS bucket,
             count(*) AS c
      FROM ex GROUP BY 1, 2
    ),
    cnt AS (SELECT tok, count(*) AS n FROM occ GROUP BY tok),
    top AS (
      SELECT tok, n FROM (
        SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM cnt
      ) WHERE rnk <= 20
    ),
    probes AS (
      SELECT tok, n, j,
             ('0x' || substr(md5(j || ':' || tok), 1, 8))::BIGINT % {CMS_W} AS bucket
      FROM top, (SELECT unnest(generate_series(0, {CMS_D - 1})) AS j) js
    )
    SELECT p.tok, CAST(p.n AS BIGINT) AS true_count,
           CAST(min(c.c) AS BIGINT) AS cms_estimate,
           CAST(min(c.c) - p.n AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY p.tok, p.n
    """,
)
def token_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over token occurrences, audited against exact
    counts: {CMS_D}×{CMS_W} cells of fixed state count the whole stream
    (each occurrence increments one bucket per hash row; estimate = min
    over rows), and the query reports, for the exact top-20 tokens, the
    sketch's estimate and its overcount. The sketch is DETERMINISTIC
    (salted-md5 buckets), so the oracle replicates it cell-for-cell —
    the accuracy claim is value-checked, not bounded. Scale story: the
    cell build is ONE map-side-combined aggregate into ≤{CMS_D * CMS_W}
    cells regardless of vocabulary size — the fixed-memory twin of the
    vocab-sized exact count (and the batch analog of
    ``heavy_hitters_stream``'s bounded state); CMS guarantees
    estimate ≥ truth, so ``overcount`` is always ≥ 0 — collisions with
    hot tokens show up as positive slack."""
    occ = _doc_occurrences(spark, sf_dir)
    js = F.array(*[F.lit(j) for j in range(CMS_D)])
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("tok"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CMS_W
    )
    # r13 (guide §2.2/§4-adjacent: do the cheap aggregate BEFORE the
    # expensive per-row work): the bucket md5 depends only on (j, tok),
    # so hashing per OCCURRENCE did vocabulary-ratio times more md5 work
    # than needed. Count occurrences per distinct token first (the same
    # aggregate the top-20 probe already needs), then hash once per
    # (j, distinct token) and SUM counts into cells — cell values are
    # identical integers (sum of per-token counts per bucket == count of
    # occurrence rows per bucket).
    cnt = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    cells = (
        cnt.select(F.explode(js).alias("j"), "tok", "n")
        .select("j", bucket.alias("bucket"), "n")
        .groupBy("j", "bucket")
        .agg(F.sum("n").alias("c"))
    )
    top = cnt.orderBy(F.col("n").desc(), "tok").limit(20)
    probes = top.select("tok", "n", F.explode(js).alias("j")).select(
        "tok", "n", "j", bucket.alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("c").alias("est"))
        .select(
            "tok",
            F.col("n").cast("long").alias("true_count"),
            F.col("est").cast("long").alias("cms_estimate"),
            (F.col("est") - F.col("n")).cast("long").alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# dataset profiling
# ---------------------------------------------------------------------------


@register(
    "documents_profile",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, lang, n_chars, len({_TOKS}) AS n_toks FROM documents
    )
    SELECT count(*) AS n_rows,
           count(DISTINCT doc_id) AS distinct_ids,
           count(DISTINCT source) AS distinct_sources,
           count(DISTINCT lang) AS distinct_langs,
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_langs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(n_toks) AS min_toks, max(n_toks) AS max_toks,
           CAST(sum(n_toks) AS BIGINT) AS total_toks
    FROM t
    """,
)
def documents_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profile — the data-quality gate every ingest runs
    before anything else: row/distinct/null accounting plus exact
    char/token extents and totals. A single aggregate (map-side combined;
    the exact count-distincts rewrite to Expand — swap for
    ``approx_count_distinct`` when a 2% answer at 1% of the cost is the
    right trade at 100 TB, as ``event_reach_approx`` demonstrates). All
    outputs are exact integers."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id", "source", "lang", "n_chars",
        F.size(dedup.word_tokens(F.col("text"))).alias("n_toks"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("distinct_ids"),
        F.countDistinct("source").alias("distinct_sources"),
        F.countDistinct("lang").alias("distinct_langs"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_toks").alias("min_toks"),
        F.max("n_toks").alias("max_toks"),
        F.sum("n_toks").cast("long").alias("total_toks"),
    )


# ---------------------------------------------------------------------------
# end-to-end curation v2: the round-2 gates composed
# ---------------------------------------------------------------------------

REP_DUP_MAX_MICRO = 300_000  # drop docs with > 30% duplicate bigrams
REP_TOP_TOKEN_MAX_MICRO = 300_000  # or one token > 30% of occurrences


@register(
    "corpus_curation_v2",
    oracle=f"""
    WITH dtoks AS (SELECT doc_id, source, lang, n_chars, {_TOKS} AS tk FROM documents),
    base AS (
      SELECT doc_id, source, lang, tk, len(tk) AS n FROM dtoks
      WHERE n_chars >= 100 AND len(tk) >= 20
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, n - 1),
                    i -> concat_ws(' ', tk[i], tk[i+1]))) AS bg
      FROM base
    ),
    rep AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS bg_total,
             count(DISTINCT bg) AS bg_distinct,
             CAST(max(cnt) AS BIGINT) AS bg_top
      FROM (SELECT doc_id, bg, count(*) OVER (PARTITION BY doc_id, bg) AS cnt FROM big)
      GROUP BY doc_id
    ),
    tokstat AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS tok_top, count(*) AS n_tokens
      FROM (
        SELECT b.doc_id, count(*) OVER (PARTITION BY b.doc_id, o.tok) AS cnt
        FROM base b, unnest(b.tk) AS o(tok)
      )
      GROUP BY doc_id
    ),
    clean AS (
      SELECT b.doc_id, b.source, b.lang, t.n_tokens
      FROM base b
      JOIN rep r ON b.doc_id = r.doc_id
      JOIN tokstat t ON b.doc_id = t.doc_id
      WHERE floor((r.bg_total - r.bg_distinct) * 1000000.0 / r.bg_total)
              < {REP_DUP_MAX_MICRO}
        AND floor(t.tok_top * 1000000.0 / t.n_tokens) < {REP_TOP_TOKEN_MAX_MICRO}
    ),
    {_gram_sql().strip().lstrip()},
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM grams c JOIN grams b ON c.g = b.g
      WHERE c.doc_id % {BENCH_MOD} != 0 AND b.doc_id % {BENCH_MOD} = 0
    ),
    eligible AS (
      SELECT cl.* FROM clean cl
      WHERE cl.doc_id % {BENCH_MOD} != 0
        AND cl.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    hashed AS (
      SELECT e.*, md5(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g')) AS h
      FROM eligible e JOIN documents d ON e.doc_id = d.doc_id
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM hashed
      ) WHERE rn = 1
    )
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM kept GROUP BY source, lang
    """,
)
def corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain a round-2 pipeline actually ships, as ONE
    declarative plan: length + token-count gates → Gopher repetition gates
    (duplicate-bigram share and top-token share, integer micro-units) →
    benchmark decontamination (drop the held-out split AND anything sharing
    an 8-gram with it) → exact-dedup keeper per content hash → per-(source,
    lang) accounting. Every stage is the standalone operator registered
    elsewhere (``text_repetition``, ``benchmark_contamination``,
    ``dedup_exact``) composed by Catalyst into one DAG: the doc_id-keyed
    stages share a shuffle, the gram join stays inverted-index-keyed, and
    nothing materializes between stages."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", "source", "lang", "n_chars", "text",
        dedup.word_tokens(F.col("text")).alias("tk"),
    ).withColumn("n", F.size("tk"))
    base = toks.filter((F.col("n_chars") >= 100) & (F.col("n") >= 20))

    occ = base.select("doc_id", F.explode("tk").alias("tok"))
    # n-grams come straight off the token ARRAY (transform over an index
    # sequence) — a pure per-row projection, versus the r2 shape's two
    # window-lead evaluations which each cost a doc_id shuffle + per-doc
    # sort. Same multisets, two fewer sorts in the DAG. (base's n >= 20
    # filter guarantees every doc clears both gram widths.)
    big = base.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(tk) - 2), i -> concat_ws(' ', tk[i], tk[i+1]))")
        ).alias("bg"),
    )
    bcnt = big.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    rep = bcnt.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("bg_total"),
        F.count(F.lit(1)).alias("bg_distinct"),
        F.max("cnt").cast("long").alias("bg_top"),
    )
    tcnt = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tokstat = tcnt.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"), F.max("cnt").cast("long").alias("tok_top")
    )
    clean = (
        base.join(rep, "doc_id")
        .join(tokstat, "doc_id")
        .filter(
            (
                F.floor(
                    (F.col("bg_total") - F.col("bg_distinct"))
                    * F.lit(1_000_000.0)
                    / F.col("bg_total")
                )
                < REP_DUP_MAX_MICRO
            )
            & (
                F.floor(F.col("tok_top") * F.lit(1_000_000.0) / F.col("n_tokens"))
                < REP_TOP_TOKEN_MAX_MICRO
            )
        )
        .select("doc_id", "source", "lang", "n_tokens", "text")
    )

    n = CONTAM_NGRAM
    gram_cat = ", ".join(f"tk[i+{j}]" for j in range(n))
    # corpus side: only non-benchmark gated docs — filtering BEFORE the
    # explode keeps the benchmark split's rows out of the gram distinct
    # entirely (they would be dropped post-join anyway)
    grams = (
        base.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(0, size(tk) - {n}), i -> concat_ws(' ', {gram_cat}))")
            ).alias("g"),
        )
        .distinct()
    )
    # The benchmark side comes from ALL documents (≥ n tokens), NOT the
    # gate-filtered base: the held-out split is external to corpus quality
    # gates, and a short benchmark doc must still contaminate matching
    # corpus docs (mirrors the oracle's `_gram_sql`, which reads every
    # document). The corpus side may stay gate-filtered — contamination is
    # only ever subtracted from `clean` ⊆ base, so ungated corpus docs
    # can't change the result.
    bench_tk = (
        docs.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("doc_id", dedup.word_tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= n)
    )
    bench_grams = (
        bench_tk.select(
            F.explode(
                F.expr(f"transform(sequence(0, size(tk) - {n}), i -> concat_ws(' ', {gram_cat}))")
            ).alias("g")
        )
        .distinct()
    )
    # two-stage gate evidence, as in benchmark_contamination: cheap
    # measured-length bound (chars ≥ tokens ≥ grams) first — length(text),
    # not the n_chars metadata column, so metadata drift can't fake a small
    # bench side onto the broadcast path — precise token count only if
    # inconclusive
    bench_docs = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    bound = bench_docs.agg(F.sum(F.length("text")).alias("n")).collect()[0][0] or 0
    if bound > hints.BROADCAST_MAX_ROWS:
        bound = (
            bench_docs.agg(
                F.sum(F.size(dedup.word_tokens(F.col("text")))).alias("n")
            ).collect()[0][0]
            or 0
        )
    contaminated = (
        grams.join(hints.broadcast_if_small(bench_grams, upper_bound=bound), "g")
        .select("doc_id")
        .distinct()
    )
    eligible = clean.filter(F.col("doc_id") % BENCH_MOD != 0).join(
        contaminated, "doc_id", "left_anti"
    )

    hashed = eligible.withColumn("h", F.md5(dedup.normalized(F.col("text"))))
    wk = Window.partitionBy("h").orderBy("doc_id")
    kept = hashed.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") == 1)
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


ZIPF_FIT_TOP = 100  # fit the Zipf line over the top-100 vocabulary head


@register(
    "vocab_zipf_slope",
    oracle=f"""
    WITH {{occ}},
    cnt AS (SELECT tok, count(*) AS n FROM occ GROUP BY tok),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM cnt
    ),
    pts AS (
      SELECT CAST(floor(ln(rnk) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT) AS y
      FROM ranked WHERE rnk <= {ZIPF_FIT_TOP}
    ),
    s AS (
      SELECT count(*) AS np,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT CAST(np AS BIGINT) AS n_points,
           CAST(floor(CAST(np * sxy - sx * sy AS DOUBLE) * 1000000.0
                      / CAST(np * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS slope_micro,
           CAST(floor((CAST(sy AS DOUBLE)
                       - CAST(np * sxy - sx * sy AS DOUBLE)
                         / CAST(np * sxx - sx * sx AS DOUBLE)
                         * CAST(sx AS DOUBLE)) / np) AS BIGINT)
             AS intercept_micro
    FROM s
    WHERE np * sxx - sx * sx > 0  -- a <2-point vocab has no line to fit
    """.format(occ=_OCC_SQL),
)
def vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the vocabulary head: OLS slope/intercept of
    ln(freq) on ln(rank) for the top-{ZIPF_FIT_TOP} tokens — natural text
    slopes near −1; corpus pathologies (template spam, truncated vocab,
    dedup damage) bend it. Every ln lands on the per-row micro-grid BEFORE
    the sums, the four moment sums are exact bigints (all bounded far
    inside int64 for a 100-point fit), and the closing slope/intercept
    divisions run the identical IEEE double sequence in both engines — an
    exact-by-construction regression primitive in plain SQL. Cost: one
    token-keyed count (shared occurrence layer), a TakeOrdered top-100,
    and a 100-row aggregate."""
    cnt = _doc_occurrences(spark, sf_dir).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = cnt.orderBy(F.col("n").desc(), "tok").limit(ZIPF_FIT_TOP)
    w = Window.orderBy(F.col("n").desc(), "tok")
    pts = top.withColumn("rnk", F.row_number().over(w)).select(
        F.floor(F.log(F.col("rnk")) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("n")) * 1_000_000 + F.lit(0.5)).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope_d = num / den
    # a <2-point vocab has no line to fit (den = 0 → NaN downstream)
    s = s.filter(F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    return s.select(
        F.col("np").cast("long").alias("n_points"),
        F.floor(slope_d * F.lit(1_000_000.0)).cast("long").alias("slope_micro"),
        F.floor(
            (F.col("sy").cast("double") - slope_d * F.col("sx").cast("double"))
            / F.col("np")
        )
        .cast("long")
        .alias("intercept_micro"),
    )


BPE_STEPS = 3  # unrolled merge iterations (same pattern as kmeans' Lloyd loop)


def bpe_rewrite_expr() -> "F.Column":
    """Greedy left-to-right non-overlapping merge of the adjacent pair in
    columns ``pa``/``pb`` applied to the token-array column ``s``.

    Two value-identical formulations, branch-selected per row: for
    pa != pb, two adjacent matches would need s[i+1] = pb = pa —
    impossible — so ALL matches are non-overlapping and the merge is a
    closed-form per-row transform (no O(n²) array-concat accumulator);
    equal-symbol chains (pa == pb) take the exact array fold, whose
    accumulator makes merged symbols opaque to further merging within the
    pass. A size guard short-circuits empty arrays first (sequence(0,-1)
    is DESCENDING in Spark — the pinned sharp edge). Property-tested
    against a serial Python reference over dense tiny-alphabet inputs
    (tests/test_edge_inputs.py)."""
    fold = F.aggregate(
        "s",
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("pa"))
            & (x == F.col("pb")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), F.lit(" "), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    no_overlap = F.expr(
        "filter(transform(sequence(0, size(s) - 1),"
        " p -> CASE WHEN p < size(s) - 1 AND s[p] = pa AND s[p+1] = pb"
        "            AND NOT (p > 0 AND s[p-1] = pa AND s[p] = pb)"
        "       THEN s[p] || ' ' || s[p+1]"
        "       WHEN p > 0 AND s[p-1] = pa AND s[p] = pb THEN NULL"
        "       ELSE s[p] END),"
        " x -> x IS NOT NULL)"
    )
    return (
        F.when(F.size("s") == 0, F.col("s"))
        .when(F.col("pa") == F.col("pb"), fold)
        .otherwise(no_overlap)
    )


def _bpe_oracle() -> str:
    """Unrolled BPE chain: per step, adjacent-pair counts → deterministic
    best pair (count desc, pair asc) → greedy left-to-right non-overlapping
    merge via list_reduce (acc carries the rebuilt sequence; the fold is
    value-identical to the engine's F.aggregate)."""
    fold = """CASE WHEN len({t}.s) = 0 THEN {t}.s
        ELSE list_reduce(list_transform({t}.s, t -> [t]),
             (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = {b}.pa AND x[1] = {b}.pb
                         THEN acc[1:len(acc)-1] || [acc[-1] || ' ' || x[1]]
                         ELSE acc || x END)
        END"""
    ctes = [f"t0 AS (SELECT doc_id, {_TOKS} AS s FROM documents)"]
    rows = []
    for i in range(1, BPE_STEPS + 1):
        p, t_prev, t_cur, b = f"p{i}", f"t{i - 1}", f"t{i}", f"b{i}"
        ctes.append(
            f"""{p} AS (
      SELECT {t_prev}.s[i] AS pa, {t_prev}.s[i + 1] AS pb
      FROM {t_prev}, unnest(generate_series(1, len({t_prev}.s) - 1)) AS u(i)
      WHERE len({t_prev}.s) >= 2
    )"""
        )
        ctes.append(
            f"""{b} AS (
      SELECT pa, pb, count(*) AS c FROM {p} GROUP BY pa, pb
      ORDER BY c DESC, pa, pb LIMIT 1
    )"""
        )
        ctes.append(
            f"{t_cur} AS (SELECT doc_id, {fold.format(t=t_prev, b=b)} AS s"
            f" FROM {t_prev}, {b})"
        )
        rows.append(
            f"""SELECT CAST({i} AS BIGINT) AS step,
           {b}.pa || '|' || {b}.pb AS pair,
           CAST({b}.c AS BIGINT) AS pair_count,
           (SELECT CAST(sum(len(s)) AS BIGINT) FROM {t_cur}) AS tokens_after
    FROM {b}"""
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(rows)


@register("bpe_merge_steps", oracle=_bpe_oracle())
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE-style merge training, {BPE_STEPS} unrolled steps over
    word symbols: each step counts ADJACENT symbol pairs corpus-wide (one
    map-side-combined shuffle on the pair), picks the most frequent pair
    deterministically (count desc, pair asc — a TakeOrdered-1, never a
    global sort), broadcasts it as a 1-row side, and rewrites every
    sequence with the greedy left-to-right non-overlapping merge as a
    per-row array fold (codegen, zero shuffle — merged symbols join with a
    space, pair keys with '|'). This is the tokenizer-training shape at
    corpus scale — the same iterate/broadcast/rewrite skeleton as the
    k-means loop, with the merge table as the learned artifact. Pair
    counts include overlapping occurrences (the cheap statistic; the
    REWRITE is non-overlapping) — both engines count identically. At
    100 TB each generation's sequences would be checkpointed between
    steps (as the CC loop does); the unrolled fixture DAG recomputes
    priors instead, trading duplicate scan for zero materialization.
    Output: one row per step (pair learned, its count, corpus tokens
    after the merge)."""
    # r12 optimization-round restructure (guide §1.2/§5): the previous
    # shape broadcast each step's learned 1-row `best` side and cut the
    # generation chain with LAZY localCheckpoints — but a lazy
    # localCheckpoint pays full physical planning synchronously at CALL
    # time (~0.5 s/generation on the unrolled fold chain, 1.4 s of the
    # query's 2.5 s), and an in-query persist would let a later bench
    # sample be served from an earlier sample's cache (the governed-
    # simhash_cand lesson). Instead the driver learns each merge as ONE
    # TakeOrdered-1 row per step (the same job the broadcast build ran
    # anyway, just surfaced) and inlines it as literals — the rewrite
    # chain constant-folds exactly like the frozen-table
    # ``bpe_apply_tokens`` — and all per-step token totals come out of
    # ONE corpus pass that carries each generation's size along the fold
    # chain. Values are identical: same merges, same counts, same
    # totals. Generate barriers stop projection collapse from duplicating
    # the fold into its multiple consumers (exponential plan growth).
    # Scan parallelism healed at the chain root (single-row-group fixture
    # = one task; no-op at scale). Measured 2.5 s -> 2.2 s warm.
    docs = hints.heal_scan_parallelism(load_table(spark, "documents", sf_dir))
    seqs = docs.select("doc_id", dedup.word_tokens(F.col("text")).alias("s"))
    fold = bpe_rewrite_expr()
    learned: list[tuple[str, str, int]] = []
    cur = seqs
    for _ in range(BPE_STEPS):
        top = (
            cur.filter(F.size("s") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(s) - 2),"
                        " i -> struct(s[i] AS pa, s[i+1] AS pb))"
                    )
                ).alias("p")
            )
            .select("p.pa", "p.pb")
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "pa", "pb")
            .limit(1)
            .collect()
        )
        if not top:  # degenerate corpus: no adjacent pair anywhere
            break
        learned.append((top[0]["pa"], top[0]["pb"], int(top[0]["c"])))
        cur = (
            cur.withColumn("pa", F.lit(learned[-1][0]))
            .withColumn("pb", F.lit(learned[-1][1]))
            .select("doc_id", fold.alias("s"))
            # Generate barrier: the next step's pair transform references
            # ``s`` three times — unbarriered, projection collapse would
            # triple the fold chain per step (exponential plan growth)
            .select(
                "doc_id",
                F.explode(F.array(F.struct(F.col("s").alias("s")))).alias("r"),
            )
            .select("doc_id", F.col("r.s").alias("s"))
        )
    if not learned:
        return spark.createDataFrame(
            [], "step long, pair string, pair_count long, tokens_after long"
        )
    # ONE pass: re-chain the folds, carrying each generation's token count
    chain = seqs
    size_cols: list[str] = []
    for i, (pa, pb, _c) in enumerate(learned, start=1):
        keep = [F.col(n) for n in size_cols]
        chain = (
            chain.withColumn("pa", F.lit(pa))
            .withColumn("pb", F.lit(pb))
            .select("doc_id", fold.alias("s"), *keep)
            .select(
                "doc_id",
                F.explode(F.array(F.struct(F.col("s").alias("s")))).alias("r"),
                *[F.col(n) for n in size_cols],
            )
            .select(
                "doc_id",
                F.col("r.s").alias("s"),
                *[F.col(n) for n in size_cols],
                F.size("r.s").alias(f"sz{i}"),
            )
        )
        size_cols.append(f"sz{i}")
    totals = chain.agg(
        *[F.sum(c).cast("long").alias(f"ta_{c}") for c in size_cols]
    )
    steps = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step"),
                F.lit(f"{pa}|{pb}").alias("pair"),
                F.lit(c).cast("long").alias("pair_count"),
                F.col(f"ta_sz{i}").alias("tokens_after"),
            )
            for i, (pa, pb, c) in enumerate(learned, start=1)
        ]
    )
    return totals.select(F.explode(steps).alias("r")).select(
        "r.step", "r.pair", "r.pair_count", "r.tokens_after"
    )


# Frozen BPE merge table — the serving artifact a tokenization run ships
# (a merges.txt): the first 8 generations the bpe_merge_steps trainer
# learns on the fixture corpus, replayed offline, plus two SECOND-ORDER
# merges whose left symbol is itself a merged token (the hierarchy real
# BPE vocabularies are made of). Priority order matters: earlier merges
# rewrite before later ones, exactly like tokenizer merge ranks.
BPE_MERGE_TABLE: list[tuple[str, str]] = [
    ("table", "hash"),
    ("part", "filter"),
    ("customer", "join"),
    ("merge", "group"),
    ("slow", "key"),
    ("vector", "small"),
    ("big", "order"),
    ("row", "a"),
    ("stream", "table hash"),
    ("part filter", "scan"),
]


def _bpe_apply_oracle() -> str:
    """Chained greedy folds, one per frozen merge in priority order — each
    value-identical to the trainer's rewrite (same list_reduce accumulator),
    with the pair as SQL literals instead of a learned 1-row side."""
    fold = """CASE WHEN len(s) = 0 THEN s
        ELSE list_reduce(list_transform(s, t -> [t]),
             (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = '{pa}' AND x[1] = '{pb}'
                         THEN acc[1:len(acc)-1] || [acc[-1] || ' ' || x[1]]
                         ELSE acc || x END)
        END"""
    ctes = [f"t0 AS (SELECT doc_id, {_TOKS} AS s FROM documents)"]
    for k, (pa, pb) in enumerate(BPE_MERGE_TABLE, start=1):
        ctes.append(
            f"t{k} AS (SELECT doc_id, {fold.format(pa=pa, pb=pb)} AS s"
            f" FROM t{k - 1})"
        )
    tn = f"t{len(BPE_MERGE_TABLE)}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT {tn}.doc_id,
           CAST(len(t0.s) AS BIGINT) AS n_tokens_before,
           CAST(len({tn}.s) AS BIGINT) AS n_tokens_after,
           CAST(len(t0.s) - len({tn}.s) AS BIGINT) AS n_merges,
           md5(array_to_string({tn}.s, chr(31))) AS token_fp
    FROM {tn} JOIN t0 ON t0.doc_id = {tn}.doc_id"""
    )


@register("bpe_apply_tokens", oracle=_bpe_apply_oracle())
def bpe_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk BPE APPLY — the serving counterpart of ``bpe_merge_steps``: a
    frozen {n_merges}-entry merge table (constants, the broadcast-artifact
    shape of a production merges.txt — includes two second-order merges
    exercising vocabulary hierarchy) is applied to every document in ONE
    distributed pass. Each merge reuses the trainer's branch-selected
    rewrite (``bpe_rewrite_expr``: closed-form transform for pa != pb —
    Catalyst constant-folds the branch per literal pair — exact array fold
    for equal-symbol chains), chained in priority order as pure per-row
    projections: zero shuffle, zero joins, one corpus scan. A Generate
    barrier every 2 merges keeps projection collapse from re-inlining the
    growing fold chain past the janino 64 KB method limit (the pinned
    ``text_mixed_language`` trick) — still one pass, still codegen. The
    emitted token stream is pinned by an md5 fingerprint over the
    US-joined tokens, so the oracle's list_reduce replay value-checks
    every merged symbol, not just the counts."""
    # heal scan parallelism in front of the rewrite chain (r12, guide
    # §2.5): ten chained array folds per row are the heaviest part of
    # this query and the single-row-group bench scan is one task —
    # measured 1.9 s single-threaded vs ~0.3 s healed. At scale the scan
    # already splits and the plan keeps its zero-extra-Exchange shape
    # (the conditional never fires); the rewrites are per-row
    # deterministic, so partitioning cannot change results.
    docs = hints.heal_scan_parallelism(load_table(spark, "documents", sf_dir))
    cur = docs.select(
        "doc_id",
        dedup.word_tokens(F.col("text")).alias("s0"),
    ).select("doc_id", F.col("s0").alias("s"), F.size("s0").alias("n0"))
    fold = bpe_rewrite_expr()
    for k, (pa, pb) in enumerate(BPE_MERGE_TABLE, start=1):
        cur = cur.withColumn("pa", F.lit(pa)).withColumn("pb", F.lit(pb)).select(
            "doc_id", fold.alias("s"), "n0"
        )
        if k % 2 == 0 and k < len(BPE_MERGE_TABLE):
            cur = cur.select(
                "doc_id",
                F.explode(F.array(F.struct(F.col("s").alias("s")))).alias("r"),
                "n0",
            ).select("doc_id", F.col("r.s").alias("s"), "n0")
    return cur.select(
        "doc_id",
        F.col("n0").cast("long").alias("n_tokens_before"),
        F.size("s").cast("long").alias("n_tokens_after"),
        (F.col("n0") - F.size("s")).cast("long").alias("n_merges"),
        F.md5(F.array_join("s", "\x1f")).alias("token_fp"),
    )


bpe_apply_tokens.__doc__ = bpe_apply_tokens.__doc__.format(
    n_merges=len(BPE_MERGE_TABLE)
)


SNAP_MOD = 50  # docs with doc_id % 50 == 0 are "new since the last snapshot"


@register(
    "corpus_snapshot_diff",
    oracle=f"""
    WITH cur AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR) || ':' || text) AS h
      FROM documents
    ),
    prev AS (
      -- stand-in previous snapshot: yesterday's corpus lacked the % {SNAP_MOD}
      -- cohort and carried a different revision of the % 17 cohort
      SELECT doc_id, source,
             CASE WHEN doc_id % 17 = 0
                  THEN md5(CAST(doc_id AS VARCHAR) || ':rev0:' || text)
                  ELSE md5(CAST(doc_id AS VARCHAR) || ':' || text) END AS h
      FROM documents WHERE doc_id % {SNAP_MOD} != 0
    ),
    j AS (
      SELECT COALESCE(c.source, p.source) AS source,
             CASE WHEN p.doc_id IS NULL THEN 'added'
                  WHEN c.doc_id IS NULL THEN 'removed'
                  WHEN c.h != p.h THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
    )
    SELECT source,
           CAST(sum(CASE WHEN change = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(sum(CASE WHEN change = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN change = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(sum(CASE WHEN change = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM j GROUP BY source
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff: per source, how many docs were added, removed,
    changed (same id, different content hash), or untouched between two
    corpus snapshots — the table a data-versioning layer prints for every
    release, and the input the incremental dedup/curation family consumes
    (only `added`+`changed` need re-processing). Snapshots compare through
    a FULL OUTER join on doc_id with md5 content hashes — never the text
    itself — so the shuffle carries (id, source, 32-byte hash) regardless
    of document size; at 100 TB both sides are manifest-sized, not
    corpus-sized, which is the point of hashing first. Stand-in previous
    snapshot: the corpus minus the %{SNAP_MOD} cohort, with the %17 cohort
    at a different revision."""
    docs = load_table(spark, "documents", sf_dir)
    cur = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
        ).alias("h"),
    )
    prev = (
        docs.filter(F.col("doc_id") % SNAP_MOD != 0)
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("doc_id") % 17 == 0,
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":rev0:"), F.col("text")
                    )
                ),
            )
            .otherwise(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
                )
            )
            .alias("h"),
        )
    )
    j = cur.alias("c").join(
        prev.alias("p"), F.col("c.doc_id") == F.col("p.doc_id"), "full_outer"
    )
    change = (
        F.when(F.col("p.doc_id").isNull(), "added")
        .when(F.col("c.doc_id").isNull(), "removed")
        .when(F.col("c.h") != F.col("p.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("c.source"), F.col("p.source")).alias("source"),
            change.alias("change"),
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("change") == "added", 1).otherwise(0))
            .cast("long")
            .alias("n_added"),
            F.sum(F.when(F.col("change") == "removed", 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.sum(F.when(F.col("change") == "changed", 1).otherwise(0))
            .cast("long")
            .alias("n_changed"),
            F.sum(F.when(F.col("change") == "unchanged", 1).otherwise(0))
            .cast("long")
            .alias("n_unchanged"),
        )
    )


COVERAGE_KS = (10, 20, 50, 100)  # vocab sizes to report coverage at


@register(
    "vocab_coverage",
    oracle=f"""
    WITH {{occ}},
    cnt AS (SELECT tok, count(*) AS n FROM occ GROUP BY tok),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, count(*) AS v FROM cnt),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM cnt
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in COVERAGE_KS)}]) AS k)
    SELECT ks.k,
           CAST(least(ks.k, v) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN rnk <= ks.k THEN n ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           t AS total_tokens,
           CAST((sum(CASE WHEN rnk <= ks.k THEN n ELSE 0 END) * 1000000) // t
                AS BIGINT) AS coverage_micro
    FROM ranked, ks, tot
    GROUP BY ks.k, t, v
    """.format(occ=_OCC_SQL),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing table: what fraction of corpus token OCCURRENCES a
    top-K vocabulary covers, at K ∈ {COVERAGE_KS} — the number that decides
    vocab size (the complement is the OOV/byte-fallback rate a tokenizer
    pays). One token-keyed count off the shared occurrence layer, a rank
    over the (tiny) distinct-token table, and a 4-key rollup; coverage is
    integer micro over exact bigint counts. The K probes are a 4-row
    literal dimension — the cross join is bounded by construction."""
    cnt = _doc_occurrences(spark, sf_dir).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.agg(
        F.sum("n").cast("long").alias("t"), F.count(F.lit(1)).alias("v")
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    ranked = cnt.withColumn("rnk", F.row_number().over(w)).select("n", "rnk")
    ks = F.array(*[F.lit(k) for k in COVERAGE_KS])
    probes = ranked.select("n", "rnk", F.explode(ks).alias("k"))
    return (
        probes.groupBy("k")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("covered_tokens")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.least(F.col("k"), F.col("v")).cast("long").alias("vocab_size"),
            "covered_tokens",
            F.col("t").alias("total_tokens"),
            F.expr("(covered_tokens * 1000000) div t").alias("coverage_micro"),
        )
    )


@register(
    "length_quality_grid",
    oracle=f"""
    WITH {_QC_SCORED_CTES}
    SELECT CAST(floor(ln(n_tokens) / ln(2)) AS BIGINT) AS len_bucket_log2,
           CAST(quality_micro // 100000 AS BIGINT) AS quality_decile,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
    FROM qscored
    GROUP BY 1, 2
    """,
)
def length_quality_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint length × quality histogram — the diagnostic that answers 'is
    my high-quality slice just the short documents?' before a curriculum
    or gate ships. Axes are FIXED buckets (log2 token-count, classifier
    decile), so the whole grid is a zero-shuffle projection + one grid-
    keyed aggregate — no rank pass needed, unlike the equal-population
    `quality_curriculum` cut; a skewed grid row here is what tells you the
    curriculum's deciles are confounded with length. ln(n)/ln(2) runs the
    identical IEEE sequence in both engines (log2() does not exist in
    DuckDB as the same op; the quotient form is pinned portable)."""
    scored = _quality_scored(load_table(spark, "documents", sf_dir))
    return (
        scored.select(
            F.floor(F.log(F.col("n_tokens").cast("double")) / F.log(F.lit(2.0)))
            .cast("long")
            .alias("len_bucket_log2"),
            F.expr("quality_micro div 100000").alias("quality_decile"),
            "n_tokens",
        )
        .groupBy("len_bucket_log2", "quality_decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bucket_tokens"),
        )
    )


@register(
    "text_bigram_entropy",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 1),
               i -> concat_ws(' ', tk[i], tk[i+1]))) AS g
      FROM toks WHERE len(tk) >= 2
    ),
    cnt AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
    tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct
      FROM cnt GROUP BY doc_id
    ),
    terms AS (
      SELECT cnt.doc_id,
             c * CAST(floor(ln(CAST(n AS DOUBLE) / c) * 1000000 + 0.5) AS BIGINT)
               AS t
      FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
    )
    SELECT tot.doc_id, tot.n AS n_bigrams,
           CAST(tot.n_distinct AS BIGINT) AS n_distinct,
           CAST(floor(CAST(s.ts AS DOUBLE) / tot.n) AS BIGINT) AS entropy_micro
    FROM tot JOIN (
      SELECT doc_id, CAST(sum(t) AS BIGINT) AS ts FROM terms GROUP BY doc_id
    ) s ON s.doc_id = tot.doc_id
    """,
)
def text_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document bigram entropy — the distributional-diversity gate
    that separates templated/spun text (few bigrams repeated, low H) from
    natural prose (high H) even when token-level stats look normal; the
    per-doc complement of the corpus-level ``text_bigram_nll`` and the
    top-gram ``text_repetition`` fraction. H = Σ (c/n)·ln(n/c), computed
    under the house policy: each ln lands on the per-row micro-grid, is
    multiplied by the exact integer count, summed as bigints, and divided
    once at the end — order-independent in any engine. Shape: one bigram
    explode (per-row slice projection) + two doc_id-keyed aggregates."""
    docs = load_table(spark, "documents", sf_dir)
    bi = (
        docs.select("doc_id", dedup.word_tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 2),"
                    " i -> concat_ws(' ', tk[i], tk[i+1]))"
                )
            ).alias("g"),
        )
    )
    cnt = bi.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    terms = cnt.join(tot, "doc_id").select(
        "doc_id",
        (
            F.col("c")
            * F.floor(
                F.log(F.col("n").cast("double") / F.col("c")) * 1_000_000
                + F.lit(0.5)
            ).cast("long")
        ).alias("t"),
    )
    s = terms.groupBy("doc_id").agg(F.sum("t").cast("long").alias("ts"))
    return (
        tot.join(s, "doc_id")
        .select(
            "doc_id",
            F.col("n").alias("n_bigrams"),
            "n_distinct",
            F.floor(F.col("ts").cast("double") / F.col("n"))
            .cast("long")
            .alias("entropy_micro"),
        )
    )


HLL_M = 256  # HyperLogLog registers (p=8); the bounded COUNT DISTINCT sketch
HLL_RHO_MAX = 53  # 60-bit hash = 8 register bits + 52 tail bits -> rho in [1, 53]

# Linear-counting estimates floor(M * ln(M / V)) for every possible
# empty-register count V in [1, M], precomputed ONCE in Python and injected
# as integer literals into BOTH engines (the _BENFORD_MICRO pattern): the
# small-range branch's ln() never runs in either engine, so the
# JVM-Math.log-vs-libm ULP divergence class can't reach the estimate.  The
# domain is bounded by the register count BY CONSTRUCTION — 256 literals
# regardless of corpus size.
_HLL_LC_FLOOR = [
    int(_math.floor(HLL_M * _math.log(HLL_M / v))) for v in range(1, HLL_M + 1)
]
_HLL_LC_DUCK = "[" + ",".join(str(x) for x in _HLL_LC_FLOOR) + "]"
_HLL_LC_SPARK = "array(" + ",".join(f"{x}L" for x in _HLL_LC_FLOOR) + ")"


def hll_points(df: DataFrame, item, *keys: str) -> DataFrame:
    """One HLL point ``(*keys, j, rho)`` per row of ``df``: a 60-bit md5
    hash of the string ``item`` splits into an 8-bit register index ``j``
    and a 52-bit tail ``w`` whose leading-zero rank is ``rho``. The rank
    comes from ``length(bin(w))``, which never pads in either engine, so
    no log2 or bit-twiddling can diverge. Works on batch and streaming
    frames."""
    h = F.conv(F.substring(F.md5(item), 1, 15), 16, 10).cast("long")
    t = df.select(*keys, h.alias("h")).select(
        *keys,
        (F.col("h") % HLL_M).alias("j"),
        F.expr(f"h div {HLL_M}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(F.col("w")))
    )
    return t.select(*keys, "j", rho.alias("rho"))


def hll_estimate(S: str, V: str) -> str:
    """SQL for the HLL estimate from the harmonic sum ``S`` (the exact
    bigint sum of ``2^(53 - M_j)``) and the empty-register count ``V``.
    The only double is the one estimator division (+, *, / are
    IEEE-identical across engines); the small-range linear-counting branch
    reads floor(M*ln(M/V)) from ``_HLL_LC_FLOOR``, so no engine ln()
    reaches the estimate."""
    raw = (
        "(0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0"
        f" * 9007199254740992.0 / CAST({S} AS DOUBLE)"
    )
    return (
        f"CASE WHEN {raw} <= 640.0 AND {V} > 0"
        f" THEN element_at({_HLL_LC_SPARK}, CAST({V} AS INT))"
        f" ELSE CAST(floor({raw}) AS BIGINT) END"
    )


@register(
    "vocab_hll_audit",
    oracle=f"""
    WITH occ2 AS (SELECT source, unnest({{toks}}) AS tok FROM documents),
    h AS (SELECT source,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
          FROM occ2),
    t AS (SELECT source, h % {HLL_M} AS j, h // {HLL_M} AS w FROM h),
    regs AS (
      SELECT source, j,
             max(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                      ELSE {HLL_RHO_MAX} - length(bin(w)) END) AS mj
      FROM t GROUP BY source, j
    ),
    grid AS (SELECT DISTINCT source FROM documents),
    gs AS (SELECT unnest(generate_series(0, {HLL_M - 1})) AS j),
    allr AS (
      SELECT g.source, gs.j, COALESCE(r.mj, 0) AS mj
      FROM grid g CROSS JOIN gs
      LEFT JOIN regs r ON r.source = g.source AND r.j = gs.j
    ),
    s AS (
      SELECT source,
             sum(1::BIGINT << ({HLL_RHO_MAX} - mj)) AS S,
             sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS V
      FROM allr GROUP BY source
    ),
    e AS (
      SELECT source, V,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0 / CAST(S AS DOUBLE) <= 640.0
                       AND V > 0
                  THEN ({_HLL_LC_DUCK})[CAST(V AS BIGINT)]
                  ELSE CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0 / CAST(S AS DOUBLE)) AS BIGINT)
                  END AS est
      FROM s
    ),
    x AS (SELECT source, count(DISTINCT tok) AS nde FROM occ2 GROUP BY source)
    SELECT x.source,
           CAST(nde AS BIGINT) AS n_distinct_exact,
           CAST(est AS BIGINT) AS hll_estimate,
           (abs(CAST(est AS BIGINT) - nde) * 1000000) // nde AS err_micro
    FROM x JOIN e ON e.source = x.source
    """.format(toks=_TOKS),
)
def vocab_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational HyperLogLog COUNT DISTINCT audit — the third bounded
    sketch beside the CMS and the bloom bitmap, and the one answer to
    per-source vocabulary size at 100 TB (exact distinct shuffles every
    token; HLL state is {HLL_M} registers per source, period). Built so
    BOTH engines compute the IDENTICAL registers relationally, not via
    their incompatible native approx functions: :func:`hll_points` gives
    each token its register and rank; per-register maxima fold in one
    keyed aggregate; the harmonic sum runs EXACTLY as bigints via
    ``2^(53 - M_j)`` shifts (max 256 * 2^53 = 2^61, inside int64); and
    :func:`hll_estimate` turns it into the estimate. The exact
    ``count(DISTINCT)`` side exists BECAUSE this is the
    audit (the number a pipeline publishes beside the estimate); at scale
    only the register table runs. err_micro is pure integer arithmetic on
    the floored estimate."""
    docs = load_table(spark, "documents", sf_dir)
    occ = docs.select(
        "source", F.explode(dedup.word_tokens(F.col("text"))).alias("tok")
    )
    regs = hll_points(occ, F.col("tok"), "source").groupBy("source", "j").agg(
        F.max("rho").alias("mj")
    )
    grid = (
        docs.select("source")
        .distinct()
        .crossJoin(spark.range(HLL_M).select(F.col("id").alias("j")))
    )
    allr = grid.join(regs, ["source", "j"], "left").select(
        "source", "j", F.coalesce("mj", F.lit(0)).alias("mj")
    )
    s = allr.groupBy("source").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RHO_MAX} - mj AS INT))")
        ).alias("S"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).alias("V"),
    )
    e = s.select("source", F.expr(hll_estimate("S", "V")).alias("est"))
    x = occ.groupBy("source").agg(F.countDistinct("tok").alias("nde"))
    return x.join(F.broadcast(e), "source").select(
        "source",
        F.col("nde").cast("long").alias("n_distinct_exact"),
        F.col("est").cast("long").alias("hll_estimate"),
        F.expr("abs(est - nde) * 1000000 div nde").alias("err_micro"),
    )


@register(
    "source_quota_admission",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, CAST(len({{toks}}) AS BIGINT) AS n_toks
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_toks,
             CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT source, doc_id, n_toks, cum_tokens,
           cum_tokens <= {QUOTA_TOKENS} AS admitted
    FROM c
    """.format(toks=_TOKS),
)
def source_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget admission — the batch twin of the streaming
    quota gate: docs in doc_id order fill a {QUOTA_TOKENS}-token budget per
    source and the stream STOPS admitting a source at its first overflow.
    With all-positive token counts the running sum is monotone, so
    'stop at first overflow' is EXACTLY ``cum <= budget`` — one window
    cumsum keyed on source (the shuffle is (source, id, count) triples,
    never text), which is why this semantics was chosen over
    reject-and-continue (that one is inherently sequential per key and
    buys nothing a mixture plan wants). Output keeps rejected rows with
    their would-be cumulative so the admission boundary is auditable."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "source",
        "doc_id",
        F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "source",
        "doc_id",
        "n_toks",
        F.sum("n_toks").over(w).cast("long").alias("cum_tokens"),
    ).withColumn("admitted", F.col("cum_tokens") <= QUOTA_TOKENS)


# ---------------------------------------------------------------------------
# C4-style boilerplate removal: corpus-frequent segments cut from every doc
# ---------------------------------------------------------------------------

BOILER_SEG_WORDS = 10  # words per segment ("line" stand-in: fixture has no \n)
BOILER_DF = 3  # segments occurring >= 3 times corpus-wide are boilerplate


@register(
    "boilerplate_segment_removal",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    s AS (
      SELECT doc_id, u.i AS pos,
             array_to_string(
               words[(u.i*{BOILER_SEG_WORDS}+1):(u.i*{BOILER_SEG_WORDS}+{BOILER_SEG_WORDS})],
               ' ') AS seg
      FROM w, unnest(generate_series(
               0, CAST(ceil(len(words)/{BOILER_SEG_WORDS}.0) AS BIGINT) - 1)) AS u(i)
    ),
    c AS (SELECT md5(seg) AS h, count(*) AS c FROM s GROUP BY 1),
    j AS (SELECT s.doc_id, s.pos, s.seg, c.c FROM s JOIN c ON md5(s.seg) = c.h)
    SELECT doc_id,
           count(*) AS n_segs,
           CAST(sum(CASE WHEN c >= {BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           coalesce(length(string_agg(seg, ' ' ORDER BY pos)
                           FILTER (WHERE c < {BOILER_DF})), 0) AS kept_chars,
           md5(coalesce(string_agg(seg, ' ' ORDER BY pos)
                        FILTER (WHERE c < {BOILER_DF}), '')) AS kept_md5
    FROM j GROUP BY doc_id
    """,
)
def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal: any {BOILER_SEG_WORDS}-word segment
    occurring >= {BOILER_DF} times corpus-wide (the fixture's stand-in for
    C4's "line repeated in the corpus" rule — the texts have no newlines)
    is cut from EVERY document, and each doc is rebuilt from its kept
    segments in order. This is a different dedup species from the span
    family in ``operators/dedup.py``: substring removal keeps the FIRST
    occurrence and cuts later ones; boilerplate removal drops ALL
    occurrences, because a footer repeated 10^6 times teaches a model
    nothing. Scale shape: segments group on md5(seg) — a fixed 32-char
    shuffle key however long the segment — into ONE map-side-combined
    count, join back seg-hash-keyed, and the rebuild is one doc-keyed
    aggregate (collect_list skips the nulls the boilerplate arm emits, so
    kept text never materializes removed segments). ~500-bucket histogram
    logic does not apply here: nothing is collected to the driver. The
    emitted md5 + length pin every byte of every rebuilt doc."""
    docs = load_table(spark, "documents", sf_dir)
    W = BOILER_SEG_WORDS
    words = F.split(F.col("text"), " ")
    segs = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    ((F.size(words) + W - 1).cast("long") / W).cast("long") - 1,
                ),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.array_join(F.slice(words, i * W + 1, W), " ").alias("seg"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.seg", F.md5(F.col("s.seg")).alias("h"))
    cnt = segs.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    j = segs.join(cnt, "h")
    kept_struct = F.when(
        F.col("c") < BOILER_DF, F.struct(F.col("pos"), F.col("seg"))
    )
    kept_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg"]
        ),
        " ",
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum((F.col("c") >= BOILER_DF).cast("long")).alias("n_removed"),
        F.length(kept_text).cast("long").alias("kept_chars"),
        F.md5(kept_text).alias("kept_md5"),
    )


boilerplate_segment_removal.__doc__ = boilerplate_segment_removal.__doc__.format(
    BOILER_SEG_WORDS=BOILER_SEG_WORDS, BOILER_DF=BOILER_DF
)


# ---------------------------------------------------------------------------
# weighted sparse cosine near-dup (tf-idf inverted-index pairs)
# ---------------------------------------------------------------------------

TFIDF_PAIR_MAX_DF = 64  # inverted-index df cutoff (same rationale as jaccard)
TFIDF_COS2_MIN_MICRO = 250_000  # report pairs with cos^2 >= 0.25 (cos >= 0.5)

# Reference-scale idf on the milli grid, precomputed ONCE here in Python and
# injected as literals into BOTH engines (the _BENFORD_MICRO pattern) — no
# engine's ln() ever reaches a value, so the JVM-Math.log-vs-DuckDB-libm ULP
# divergence class is gone by construction.  idf_milli(df) =
# round((ln(N_REF) - ln(df)) * 1000) against the FIXED reference corpus size
# N_REF = 2^20; df > TFIDF_IDF_CAP floors to 0, which pins the VECTOR
# support to exactly the pair index's df <= 64 discriminative-token support
# (weights on tokens that can never appear in a pair dot would only inflate
# norms and mask true near-dups).  Fixing N_REF (instead of the live corpus
# count) is also the 100 TB-friendly choice: weights no longer shift as the
# corpus grows, so tf-idf vectors are INCREMENTALLY maintainable — an
# ingest batch never forces a corpus-wide re-weight — and the n_docs
# broadcast join disappears from the plan entirely.
TFIDF_IDF_CAP = TFIDF_PAIR_MAX_DF
_TFIDF_NREF = 1 << 20
_TFIDF_IDF_MILLI = [
    int(
        _math.floor(
            (_math.log(_TFIDF_NREF) - _math.log(d)) * 1000 + 0.5
        )
    )
    for d in range(1, TFIDF_IDF_CAP + 1)
]
_IDF_DUCK = "[" + ",".join(str(v) for v in _TFIDF_IDF_MILLI) + "]"
_IDF_SPARK = "array(" + ",".join(f"{v}L" for v in _TFIDF_IDF_MILLI) + ")"

# shared oracle CTE chain producing the integer tf-idf vector universe:
# (doc_id, tok, df, w) weight rows and per-doc squared norms — used by
# tfidf_cosine_pairs and hybrid_rank_fusion
_TFIDF_WV_SQL = f"""tf AS (SELECT doc_id, tok, count(*) AS tf
          FROM occ GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    wv AS (
      SELECT tf.doc_id, tf.tok, df.df,
             tf.tf * (CASE WHEN df.df <= {TFIDF_IDF_CAP}
                           THEN ({_IDF_DUCK})[df.df] ELSE 0 END) AS w
      FROM tf JOIN df ON df.tok = tf.tok
    ),
    nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
            FROM wv GROUP BY doc_id)"""


def _tfidf_wv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, df, w) integer tf-idf weight rows off the shared
    occurrence layer — the vector universe ``tfidf_cosine_pairs`` and
    ``hybrid_rank_fusion`` share (weights from the ``_TFIDF_IDF_MILLI``
    literal table; two map-side-combined aggregates + one tok-keyed
    join)."""
    occ = _doc_occurrences(spark, sf_dir)
    tf = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.when(
        F.col("df") <= TFIDF_IDF_CAP,
        F.expr(f"element_at({_IDF_SPARK}, cast(df as int))"),
    ).otherwise(F.lit(0).cast("long"))
    return tf.join(df_, "tok").select(
        "doc_id", "tok", "df", (F.col("tf") * idf).alias("w")
    )


@register(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH {_OCC_SQL},
    {_TFIDF_WV_SQL},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM wv a JOIN wv b ON a.tok = b.tok AND a.doc_id < b.doc_id
      WHERE a.df <= {TFIDF_PAIR_MAX_DF}
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(CAST(p.dot AS HUGEINT) * p.dot * 1000000
                // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2_micro
    FROM pairs p JOIN nrm na ON na.doc_id = p.doc_a
                 JOIN nrm nb ON nb.doc_id = p.doc_b
    WHERE CAST(p.dot AS HUGEINT) * p.dot * 1000000
          >= {TFIDF_COS2_MIN_MICRO} * CAST(na.n2 AS HUGEINT) * nb.n2
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted near-duplicate pairs: cosine similarity of tf-idf vectors
    over the token inverted index — the IR-weighted sibling of
    ``dedup_ngram_jaccard`` (Jaccard treats 'the' and a rare name alike;
    idf weighting is what lets template docs with different fill-ins score
    apart). All integer end to end: idf on the MILLI grid per df from the
    Python-precomputed reference-scale table injected as literals into
    both engines (``_TFIDF_IDF_MILLI`` — no engine ln() ever reaches a
    value, and fixed-reference weights make the vectors incrementally
    maintainable at 100 TB: ingest never re-weights the corpus), pair
    dots from the inverted-index self-join with the df <= {MAXDF}
    hot-token cutoff (the same bound that keeps the pair explosion linear
    at 100 TB — a token in everything generates O(N²) candidates and zero
    discrimination; df > {IDFCAP} floors to weight 0, stopword-grade),
    and the cosine itself is never divided: both the threshold and the
    reported cos² clear denominators into DECIMAL(38,0)
    cross-multiplications, so no sqrt and no float reaches a value.
    Scale: two map-side-combined aggregates off the shared occurrence
    layer + one tok-keyed pair join + two id-keyed norm joins."""
    wv = _tfidf_wv(spark, sf_dir)
    nrm = wv.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2")
    )
    a = wv.filter(F.col("df") <= TFIDF_PAIR_MAX_DF).select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa")
    )
    b = wv.select(F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb"))
    pairs = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    dot_sq = F.col("dot").cast("decimal(38,0)") * F.col("dot")
    denom = F.col("na2").cast("decimal(38,0)") * F.col("nb2")
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(dot_sq * 1_000_000 >= denom * TFIDF_COS2_MIN_MICRO)
        .select(
            "doc_a",
            "doc_b",
            F.floor(dot_sq * 1_000_000 / denom).cast("long").alias("cos2_micro"),
        )
    )


tfidf_cosine_pairs.__doc__ = tfidf_cosine_pairs.__doc__.format(
    MAXDF=TFIDF_PAIR_MAX_DF, IDFCAP=TFIDF_IDF_CAP
)


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of lexical + semantic arms
# ---------------------------------------------------------------------------

HYBRID_ARM_K = 20  # candidates each retriever contributes per query
HYBRID_RRF_K0 = 60  # the standard RRF damping constant
HYBRID_TOPK = 10  # fused results reported per query


def _hybrid_oracle() -> str:
    from postgres_cdc_example_spark.operators import similarity

    NQ, DIM = similarity.N_QUERIES, similarity.EMB_DIM
    d2 = (
        f"list_sum(list_transform(generate_series(1, {DIM}),"
        " d -> (q.vm[d] - e.vm[d]) * (q.vm[d] - e.vm[d])))"
    )
    return f"""
    WITH {_OCC_SQL},
    {_TFIDF_WV_SQL},
    lexp AS (
      SELECT a.doc_id AS q_id, b.doc_id AS doc_id,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM wv a JOIN wv b ON a.tok = b.tok AND a.doc_id != b.doc_id
      WHERE a.doc_id < {NQ} AND a.df <= {TFIDF_PAIR_MAX_DF}
      GROUP BY a.doc_id, b.doc_id
    ),
    lexs AS (
      SELECT p.q_id, p.doc_id,
             CAST(CAST(p.dot AS HUGEINT) * p.dot * 1000000
                  // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2
      FROM lexp p JOIN nrm na ON na.doc_id = p.q_id
                  JOIN nrm nb ON nb.doc_id = p.doc_id
      WHERE p.dot > 0
    ),
    lexk AS (
      SELECT q_id, doc_id, CAST(lex_rank AS BIGINT) AS lex_rank FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos2 DESC, doc_id) AS lex_rank
        FROM lexs)
      WHERE lex_rank <= {HYBRID_ARM_K}
    ),
    em AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
      FROM embeddings
    ),
    qm AS (SELECT vec_id AS q_id, vm FROM em WHERE vec_id < {NQ}),
    semk AS (
      SELECT q_id, doc_id, CAST(sem_rank AS BIGINT) AS sem_rank FROM (
        SELECT q.q_id, e.vec_id AS doc_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {d2}, e.vec_id) AS sem_rank
        FROM qm q JOIN em e ON e.vec_id != q.q_id)
      WHERE sem_rank <= {HYBRID_ARM_K}
    ),
    fused AS (
      SELECT COALESCE(l.q_id, s.q_id) AS q_id,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             COALESCE(1000000 // ({HYBRID_RRF_K0} + l.lex_rank), 0)
             + COALESCE(1000000 // ({HYBRID_RRF_K0} + s.sem_rank), 0) AS rrf_ppm
      FROM lexk l FULL JOIN semk s
        ON s.q_id = l.q_id AND s.doc_id = l.doc_id
    )
    SELECT q_id, doc_id, lex_rank, sem_rank,
           CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY rrf_ppm DESC, doc_id) AS fused_rank
      FROM fused)
    WHERE fused_rank <= {HYBRID_TOPK}
    """


@register("hybrid_rank_fusion", oracle=_hybrid_oracle())
def hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic retriever — the
    op a RAG/curation pipeline runs AFTER its two retrievers, and the
    standard answer to "BM25-ish and embedding search disagree; ship
    one list". Arms over the same fixed query sample (doc_id ≡ vec_id
    < {NQ}, the fixture linkage): the LEXICAL arm ranks candidates by
    integer tf-idf cosine off the shared ``_tfidf_wv`` vector universe
    (the inverted-index join with the df ≤ {MAXDF} discriminative-token
    cutoff — identical machinery to ``tfidf_cosine_pairs``, un-thresholded
    and query-restricted); the SEMANTIC arm ranks by exact integer L2 over
    micro-grid embeddings (broadcast {NQ}-query sample × one corpus scan —
    linear in the corpus, the audit-exact baseline whose drop-in scale
    replacement is ``ann_ivfpq_topk``'s partition-pruned probe). Fusion is
    pure integer RRF — 1e6 div ({K0} + rank) summed across arms via one
    (q_id, doc_id)-keyed FULL OUTER join of two top-{ARMK} lists (bounded:
    ≤ {NQ}·{ARMK} rows per arm), then one per-query ranking window. No
    floats anywhere; a doc missing from an arm contributes 0, exactly the
    published RRF spec."""
    from postgres_cdc_example_spark.operators import similarity

    NQ = similarity.N_QUERIES
    wv = _tfidf_wv(spark, sf_dir)
    nrm = wv.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2")
    )
    a = wv.filter(
        (F.col("doc_id") < NQ) & (F.col("df") <= TFIDF_PAIR_MAX_DF)
    ).select(F.col("doc_id").alias("q_id"), "tok", F.col("w").alias("wa"))
    b = wv.select("doc_id", "tok", F.col("w").alias("wb"))
    pairs = (
        a.join(b, "tok")
        .filter(F.col("q_id") != F.col("doc_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
        .filter(F.col("dot") > 0)
    )
    na = nrm.select(F.col("doc_id").alias("q_id"), F.col("n2").alias("na2"))
    nb = nrm.select("doc_id", F.col("n2").alias("nb2"))
    cos2 = F.floor(
        F.col("dot").cast("decimal(38,0)")
        * F.col("dot")
        * 1_000_000
        / (F.col("na2").cast("decimal(38,0)") * F.col("nb2"))
    ).cast("long")
    lexs = (
        pairs.join(na, "q_id").join(nb, "doc_id").select(
            "q_id", "doc_id", cos2.alias("cos2")
        )
    )
    wl = Window.partitionBy("q_id").orderBy(F.col("cos2").desc(), "doc_id")
    lexk = (
        lexs.withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= HYBRID_ARM_K)
        .select("q_id", "doc_id", F.col("lex_rank").cast("long").alias("lex_rank"))
    )
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        "vec_id", similarity.micro_vec(F.col("embedding")).alias("vm")
    )
    q = base.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("q_id"), F.col("vm").alias("qv")
    )
    d2 = F.expr(
        "aggregate(zip_with(qv, vm, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    ws = Window.partitionBy("q_id").orderBy("d2", "doc_id")
    semk = (
        F.broadcast(q)
        .join(base, F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("doc_id"), d2.alias("d2"))
        .withColumn("sem_rank", F.row_number().over(ws))
        .filter(F.col("sem_rank") <= HYBRID_ARM_K)
        .select("q_id", "doc_id", F.col("sem_rank").cast("long").alias("sem_rank"))
    )
    fused = lexk.join(semk, ["q_id", "doc_id"], "full_outer")
    rrf = F.expr(
        f"coalesce(1000000 div ({HYBRID_RRF_K0} + lex_rank), 0)"
        f" + coalesce(1000000 div ({HYBRID_RRF_K0} + sem_rank), 0)"
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("rrf_ppm").desc(), "doc_id")
    return (
        fused.withColumn("rrf_ppm", rrf.cast("long"))
        .withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= HYBRID_TOPK)
        .select(
            "q_id",
            "doc_id",
            "lex_rank",
            "sem_rank",
            "rrf_ppm",
            F.col("fused_rank").cast("long").alias("fused_rank"),
        )
    )


hybrid_rank_fusion.__doc__ = hybrid_rank_fusion.__doc__.format(
    NQ=10, MAXDF=TFIDF_PAIR_MAX_DF, K0=HYBRID_RRF_K0, ARMK=HYBRID_ARM_K
)


# ---------------------------------------------------------------------------
# PII detection / redaction with zero-residual compliance audit
# ---------------------------------------------------------------------------

# Detection classes (identical Java-regex / RE2 semantics — character
# classes and bounded quantifiers only, no alternation, no backreferences):
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_UUID_RE = (
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)
PII_DIGITS_RE = r"[0-9]{9,}"  # account-number-grade digit runs

# The fixture text is synthetic word salad with no PII-like spans, so the
# corpus under audit is text PLUS deterministically injected PII derived
# from doc_id — the SAME string construction in both engines (md5-derived
# uuid, doc_id-derived email/account), so the operator is exercised
# non-vacuously and every redacted byte is still pinned end-to-end.
_PII_DIRTY_DUCK = """
      text
      || CASE WHEN doc_id % 3 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END
      || CASE WHEN doc_id % 4 = 0
              THEN ' session ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   || '-' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4)
                   || '-' || substr(md5(CAST(doc_id AS VARCHAR)), 13, 4)
                   || '-' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 4)
                   || '-' || substr(md5(CAST(doc_id AS VARCHAR)), 21, 12)
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' ref ' || CAST(900000000 + doc_id AS VARCHAR)
              ELSE '' END
"""


@register(
    "pii_redaction_audit",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id, ({_PII_DIRTY_DUCK}) AS t FROM documents
    ),
    det AS (
      SELECT doc_id, t,
             CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_email,
             CAST(len(regexp_extract_all(t, '{PII_UUID_RE}')) AS BIGINT)
               AS n_uuid,
             CAST(len(regexp_extract_all(t, '{PII_DIGITS_RE}')) AS BIGINT)
               AS n_digit_run
      FROM dirty
    ),
    red AS (
      SELECT doc_id, n_email, n_uuid, n_digit_run,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PII_UUID_RE}', '<UUID>', 'g'),
               '{PII_DIGITS_RE}', '<NUM>', 'g') AS clean
      FROM det
      WHERE n_email + n_uuid + n_digit_run > 0
    )
    SELECT doc_id, n_email, n_uuid, n_digit_run,
           CAST(length(clean) AS BIGINT) AS clean_chars,
           md5(clean) AS clean_md5,
           CAST(len(regexp_extract_all(clean, '{PII_EMAIL_RE}'))
                + len(regexp_extract_all(clean, '{PII_UUID_RE}'))
                + len(regexp_extract_all(clean, '{PII_DIGITS_RE}'))
                AS BIGINT) AS residual_hits
    FROM red
    """,
)
def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction sweep with the compliance row that
    matters: a re-scan of the REWRITTEN text whose hit count must be
    literally zero (pinned by ``test_pii_redaction_residual_is_zero``; the
    erasure-family shape of ``user_erasure_audit``). Three detector
    classes — email-like, uuid-like, long digit runs — detected with
    ``regexp_extract_all`` counts and erased with chained
    ``regexp_replace`` in a FIXED order (email → uuid → digits, so a
    class's replacement token can never feed a later pattern); every
    rebuilt doc is pinned byte-for-byte by md5 + length, the
    ``boilerplate_segment_removal`` pattern. The patterns use only
    character classes and bounded quantifiers, where Java regex and RE2
    agree; the corpus is the fixture text plus deterministic
    doc_id-derived PII injections (identical construction in both
    engines) because the synthetic fixture contains no organic PII —
    the injection IS the test vector generator. Scale: one corpus scan,
    zero shuffles, zero joins — pure codegen projections + one filter;
    at 100 TB this is the cheapest possible shape (the regex cost is
    the floor any PII sweep pays)."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    uuid = F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.substring(h, 13, 4), F.lit("-"),
        F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12),
    )
    dirty = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit(" session "), uuid))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" ref "), (F.lit(900000000) + F.col("doc_id")).cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    def n_hits(col, pat):
        # idx=0 = whole-match (Spark defaults to group 1; these patterns
        # are groupless by design)
        return F.size(F.regexp_extract_all(col, F.lit(pat), 0)).cast("long")

    det = docs.select(
        "doc_id",
        dirty.alias("t"),
    ).select(
        "doc_id",
        "t",
        n_hits(F.col("t"), PII_EMAIL_RE).alias("n_email"),
        n_hits(F.col("t"), PII_UUID_RE).alias("n_uuid"),
        n_hits(F.col("t"), PII_DIGITS_RE).alias("n_digit_run"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
            PII_UUID_RE,
            "<UUID>",
        ),
        PII_DIGITS_RE,
        "<NUM>",
    )
    red = det.filter(
        F.col("n_email") + F.col("n_uuid") + F.col("n_digit_run") > 0
    ).select("doc_id", "n_email", "n_uuid", "n_digit_run", clean.alias("clean"))
    residual = (
        n_hits(F.col("clean"), PII_EMAIL_RE)
        + n_hits(F.col("clean"), PII_UUID_RE)
        + n_hits(F.col("clean"), PII_DIGITS_RE)
    )
    return red.select(
        "doc_id",
        "n_email",
        "n_uuid",
        "n_digit_run",
        F.length("clean").cast("long").alias("clean_chars"),
        F.md5("clean").alias("clean_md5"),
        residual.alias("residual_hits"),
    )


# ---------------------------------------------------------------------------
# incremental maintenance of the boilerplate segment-count table (IVM)
# ---------------------------------------------------------------------------

BOILER_DELTA_MOD = 10  # delta batch = doc_id % 10 == 0 (~10% of the corpus)


def _seg_hash_rows(docs: DataFrame) -> DataFrame:
    """One (h) row per segment occurrence — md5 of each
    BOILER_SEG_WORDS-word window, the count-table universe of
    ``boilerplate_segment_removal``."""
    W = BOILER_SEG_WORDS
    words = F.split(F.col("text"), " ")
    return docs.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    ((F.size(words) + W - 1).cast("long") / W).cast("long") - 1,
                ),
                lambda i: F.array_join(F.slice(words, i * W + 1, W), " "),
            )
        ).alias("seg")
    ).select(F.md5(F.col("seg")).alias("h"))


@register(
    "boilerplate_incremental",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    s AS (
      SELECT doc_id,
             array_to_string(
               words[(u.i*{BOILER_SEG_WORDS}+1):(u.i*{BOILER_SEG_WORDS}+{BOILER_SEG_WORDS})],
               ' ') AS seg
      FROM w, unnest(generate_series(
               0, CAST(ceil(len(words)/{BOILER_SEG_WORDS}.0) AS BIGINT) - 1)) AS u(i)
    )
    SELECT md5(seg) AS h, CAST(count(*) AS BIGINT) AS c
    FROM s GROUP BY 1 HAVING count(*) >= {BOILER_DF}
    """,
)
def boilerplate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of ``boilerplate_segment_removal``'s
    corpus-wide segment-count table — the ``covariance_incremental``
    merge≡recompute pattern applied to counts: the ENGINE computes the
    base split (doc_id % {MOD} != 0) and the delta split's per-hash counts
    SEPARATELY and merges them by pure addition (counts are additive over
    disjoint doc sets), while the ORACLE recounts the full corpus from
    scratch; the driver's hash equality IS the proof that a delta batch
    updates the boilerplate list without rescanning the base corpus. At
    100 TB this is the difference between an O(batch) nightly refresh and
    an O(corpus) one: yesterday's (h, c) table is state keyed on a fixed
    32-char hash, today's docs contribute one map-side-combined aggregate
    plus a keyed merge, and the c >= {DF} flag set falls out. (Deletes
    subtract the same way; the fixture models the append path.) Output is
    the flagged boilerplate list itself: (h, c) for every segment at or
    over the repetition threshold."""
    docs = load_table(spark, "documents", sf_dir)
    base = (
        _seg_hash_rows(docs.filter(F.col("doc_id") % BOILER_DELTA_MOD != 0))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    delta = (
        _seg_hash_rows(docs.filter(F.col("doc_id") % BOILER_DELTA_MOD == 0))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = (
        base.unionByName(delta)
        .groupBy("h")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    return merged.filter(F.col("c") >= BOILER_DF).select("h", "c")


boilerplate_incremental.__doc__ = boilerplate_incremental.__doc__.format(
    MOD=BOILER_DELTA_MOD, DF=BOILER_DF
)


def _hybrid_recall_oracle() -> str:
    from postgres_cdc_example_spark.operators import similarity

    NQ, DIM, K = similarity.N_QUERIES, similarity.EMB_DIM, HYBRID_TOPK
    d2 = (
        f"list_sum(list_transform(generate_series(1, {DIM}),"
        " d -> (q.vm[d] - e.vm[d]) * (q.vm[d] - e.vm[d])))"
    )
    return f"""
    WITH hyb AS (SELECT * FROM ({_hybrid_oracle()})),
    em AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
      FROM embeddings
    ),
    qm AS (SELECT vec_id AS q_id, vm FROM em WHERE vec_id < {NQ}),
    ext AS (
      SELECT q_id, doc_id FROM (
        SELECT q.q_id, e.vec_id AS doc_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {d2}, e.vec_id) AS r
        FROM qm q JOIN em e ON e.vec_id != q.q_id)
      WHERE r <= {K}
    )
    SELECT h.q_id,
           CAST(count(ext.doc_id) AS BIGINT) AS n_overlap,
           count(ext.doc_id) * 1000000 // {K} AS recall_micro,
           COALESCE(1000000 // min(CASE WHEN ext.doc_id IS NOT NULL
                                        THEN h.fused_rank END), 0) AS mrr_micro
    FROM hyb h LEFT JOIN ext ON ext.q_id = h.q_id AND ext.doc_id = h.doc_id
    GROUP BY h.q_id
    """


@register("hybrid_recall_audit", oracle=_hybrid_recall_oracle())
def hybrid_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality damage report for ``hybrid_rank_fusion`` — the
    row a RAG pipeline publishes beside any fused ranking: per query,
    recall@{K} of the fused list against the EXACT integer-L2 semantic
    ground truth, plus integer MRR (1e6 div the first ground-truth hit's
    fused rank; 0 if the fusion surfaced none) — quantifying exactly how
    much the lexical arm's votes displace true nearest neighbors (the
    recall shortfall IS the fusion's opinion that lexical evidence
    matters). Companion to ``ann_pq_recall_audit``'s quantization study;
    the exact side is audit-sized by construction ({NQ} queries ×
    corpus, broadcast) and every metric is pure integer micro
    arithmetic."""
    from pyspark.sql import Window as W

    from postgres_cdc_example_spark.operators import similarity

    NQ, K = similarity.N_QUERIES, HYBRID_TOPK
    hyb = hybrid_rank_fusion(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        "vec_id", similarity.micro_vec(F.col("embedding")).alias("vm")
    )
    q = base.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("q_id"), F.col("vm").alias("qv")
    )
    d2 = F.expr(
        "aggregate(zip_with(qv, vm, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    ws = W.partitionBy("q_id").orderBy("d2", "doc_id")
    ext = (
        F.broadcast(q)
        .join(base, F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("doc_id"), d2.alias("d2"))
        .withColumn("r", F.row_number().over(ws))
        .filter(F.col("r") <= K)
        .select("q_id", "doc_id", F.lit(1).alias("hit"))
    )
    j = hyb.join(ext, ["q_id", "doc_id"], "left")
    return j.groupBy("q_id").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_overlap"),
        F.expr(f"sum(coalesce(hit, 0)) * 1000000 div {K}").alias("recall_micro"),
        F.expr(
            "coalesce(1000000 div min(CASE WHEN hit IS NOT NULL"
            " THEN fused_rank END), CAST(0 AS BIGINT)) "
        ).alias("mrr_micro"),
    )


hybrid_recall_audit.__doc__ = hybrid_recall_audit.__doc__.format(
    K=HYBRID_TOPK, NQ=10
)


# train-once / serve-many: the GD classifier's weights as a literal scorer

@layer("quality_weights")
def _trained_quality_weights(spark: SparkSession, sf_dir: str) -> tuple:
    """Final-step (b, wa, wb, wc) micro weights of
    ``quality_classifier_train`` — 4 ints of driver state, the
    ``_pca_fit``/``_pq_trio`` class."""
    rows = {
        int(r["step"]): r
        for r in quality_classifier_train(spark, sf_dir).collect()
    }
    r = rows[QCT_STEPS]
    return (
        int(r["bias_micro"]),
        int(r["w_stop_micro"]),
        int(r["w_distinct_micro"]),
        int(r["w_len_micro"]),
    )


def _qca_oracle() -> str:
    """Replays the training CTE chain to the final weight row, then scores
    every doc with the BIGINT-cast weights — the serving arithmetic the
    engine runs with collected literals."""
    ctes = [
        _QC_SCORED_CTES.strip(),
        """f AS (
      SELECT doc_id,
             CAST(1000000 AS BIGINT) AS x0,
             (n_stop * 1000000) // n_tokens AS x1,
             (n_distinct * 1000000) // n_tokens AS x2,
             least(abs(n_tokens - 150) * 1000, 1000000) AS x3,
             quality_micro
      FROM qscored
    )""",
        """w0 AS (
      SELECT CAST(0 AS HUGEINT) AS b, CAST(0 AS HUGEINT) AS wa,
             CAST(0 AS HUGEINT) AS wb, CAST(0 AS HUGEINT) AS wc
    )""",
        """ft AS (
      SELECT doc_id, x0, x1, x2, x3,
             CASE WHEN quality_micro >= 500000
                  THEN CAST(1000000000000 AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END AS y
      FROM f
    )""",
    ]
    for k in range(1, QCT_STEPS + 1):
        ctes.append(
            f"""p{k} AS (
      SELECT ft.*, w.b * x0 + w.wa * x1 + w.wb * x2 + w.wc * x3 AS pred
      FROM ft, w{k - 1} w
    )"""
        )
        ctes.append(
            f"""g{k} AS (
      SELECT count(*) AS n,
             sum((pred - y) * x0) AS g0, sum((pred - y) * x1) AS g1,
             sum((pred - y) * x2) AS g2, sum((pred - y) * x3) AS g3
      FROM p{k}
    )"""
        )
        ctes.append(
            f"""w{k} AS (
      SELECT w.b - g.g0 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS b,
             w.wa - g.g1 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS wa,
             w.wb - g.g2 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS wb,
             w.wc - g.g3 // (CAST(g.n AS HUGEINT) * {QCT_LR_DIV}) AS wc
      FROM g{k} g, w{k - 1} w
    )"""
        )
    W = f"w{QCT_STEPS}"
    score = (
        f"CAST(w.b AS BIGINT) * x0 + CAST(w.wa AS BIGINT) * x1"
        f" + CAST(w.wb AS BIGINT) * x2 + CAST(w.wc AS BIGINT) * x3"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT f.doc_id,
           CAST({score} AS BIGINT) AS score_pico,
           ({score}) >= {QCT_THRESH_PICO} AS admitted,
           f.quality_micro >= 500000 AS teacher_admit,
           (({score}) >= {QCT_THRESH_PICO})
             = (f.quality_micro >= 500000) AS agrees
    FROM f, {W} w"""
    )


@register("quality_classifier_apply", oracle=_qca_oracle())
def quality_classifier_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INFERENCE for the trained quality classifier — the serve half of
    the train-once/serve-many split (``_pca_fit``/``_pq_trio``
    pattern): the final-step GD weights are 4 ints collected once per
    session and broadcast as LITERALS, so scoring the corpus is a
    zero-shuffle codegen projection — per doc, score_pico =
    b·x0 + wa·x1 + wb·x2 + wc·x3 in pure int64 (|w| ~ 1e6 micro × x ≤
    1e6 micro × 4 terms ≈ 4e12, far inside the long range), the admission
    verdict at the {THRESH} pico boundary, and the agreement flag against
    the frozen teacher gate it was distilled from. This is exactly how a
    quality filter runs over 100 TB: training pays its aggregates once,
    the filter itself costs one scan with four multiplies per row. The
    oracle replays the full training chain in HUGEINT and scores with the
    same BIGINT-cast weights — the hash match proves collected literals ≡
    recomputed weights."""
    b, wa, wb, wc = _trained_quality_weights(spark, sf_dir)
    scored = _quality_scored(load_table(spark, "documents", sf_dir))
    f = scored.select(
        "doc_id",
        F.lit(1_000_000).cast("long").alias("x0"),
        F.expr("n_stop * 1000000 div n_tokens").alias("x1"),
        F.expr("n_distinct * 1000000 div n_tokens").alias("x2"),
        F.least(F.abs(F.col("n_tokens") - 150) * 1000, F.lit(1_000_000)).alias(
            "x3"
        ),
        "quality_micro",
    )
    score = (
        F.lit(b) * F.col("x0")
        + F.lit(wa) * F.col("x1")
        + F.lit(wb) * F.col("x2")
        + F.lit(wc) * F.col("x3")
    )
    return f.select(
        "doc_id",
        score.cast("long").alias("score_pico"),
        (score >= QCT_THRESH_PICO).alias("admitted"),
        (F.col("quality_micro") >= 500_000).alias("teacher_admit"),
        (
            (score >= QCT_THRESH_PICO) == (F.col("quality_micro") >= 500_000)
        ).alias("agrees"),
    )


quality_classifier_apply.__doc__ = quality_classifier_apply.__doc__.format(
    THRESH=QCT_THRESH_PICO
)


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style robust document fingerprinting)
# ---------------------------------------------------------------------------

WIN_K = 4  # words per k-gram
WIN_W = 4  # winnowing window (guaranteed gap <= W; density ~ 2/(W+1))


@layer("doc_winnow_fps")
def _doc_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted winnowing layer: one row per doc with its gram-hash count
    and the selected fingerprint array (packed h*2^20+p bigints) — shared
    by ``doc_winnowing_fingerprints`` (per-doc stats) and
    ``dedup_winnowing_pairs`` (the inverted index), which otherwise both
    pay the gram-hash + window-min selection. At 100 TB this is the
    materialized fingerprint table."""
    # NOTE (r12 optimization round): deliberately NOT scan-parallelism-
    # healed — tried and REVERTED with measurements, like
    # _doc_occurrences: the pair consumers explode fingerprints and
    # re-aggregate by fingerprint hash, and a 32-partition cached
    # layer diluted their map-side combining (dedup_winnowing_pairs
    # 0.49 -> 1.00 s, incremental 0.64 -> 1.08 s in the bench's
    # stable-flag compare) for a ~0.5 s one-time build saving that the
    # untimed prebuild absorbs anyway.
    docs = load_table(spark, "documents", sf_dir)
    tk = dedup.word_tokens(F.col("text"))
    K, W = WIN_K, WIN_W
    gram = (
        f"transform(sequence(1, size(t) - {K - 1}),"
        f" i -> conv(substr(md5(concat_ws(' ', slice(t, i, {K}))), 1, 10),"
        f" 16, 10) :: long)"
    )
    hs = F.when(F.size(F.col("t")) >= K, F.expr(gram)).otherwise(
        F.array().cast("array<long>")
    )
    base = docs.select("doc_id", tk.alias("t")).select(
        "doc_id",
        F.explode(F.array(F.struct(hs.alias("hs")))).alias("r"),
    ).select("doc_id", F.col("r.hs").alias("hs"))
    winsel = (
        f"array_distinct(transform(sequence(1, size(hs) - {W - 1}),"
        f" j -> array_min(slice(hs, j, {W})) * 1048576"
        f" + j + array_position(slice(hs, j, {W}),"
        f" array_min(slice(hs, j, {W}))) - 1))"
    )
    fps = F.when(F.size(F.col("hs")) >= W, F.expr(winsel)).otherwise(
        F.expr("array()").cast("array<long>")
    )
    return (
        base.select(
            "doc_id",
            F.size("hs").cast("long").alias("n_grams"),
            F.explode(F.array(F.struct(fps.alias("fps")))).alias("r"),
        )
        .select("doc_id", "n_grams", F.col("r.fps").alias("fps"))
        .persist()
    )


@register(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      FROM documents
    ),
    gr AS (
      SELECT doc_id,
             CASE WHEN len(t) >= {WIN_K}
                  THEN list_transform(
                         generate_series(1, len(t) - {WIN_K - 1}),
                         i -> ('0x' || substr(md5(
                                array_to_string(t[i:i+{WIN_K - 1}], ' ')),
                                1, 10))::BIGINT)
                  ELSE [] END AS hs
      FROM tk
    ),
    win AS (
      SELECT doc_id, hs,
             -- (pos, hash) packed into ONE bigint (h * 2^20 + p): DuckDB's
             -- list_distinct is unimplemented for struct lists, and the
             -- pack is lossless for docs under 2^20 grams
             CASE WHEN len(hs) >= {WIN_W}
                  THEN list_distinct(list_transform(
                         generate_series(1, len(hs) - {WIN_W - 1}),
                         j -> list_min(hs[j:j+{WIN_W - 1}]) * 1048576
                              + j + list_position(hs[j:j+{WIN_W - 1}],
                                    list_min(hs[j:j+{WIN_W - 1}])) - 1))
                  ELSE [] END AS fps
      FROM gr
    )
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_grams,
           CAST(greatest(len(hs) - {WIN_W - 1}, 0) AS BIGINT) AS n_windows,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CASE WHEN len(hs) >= {WIN_W}
                THEN len(fps) * 1000000 // (len(hs) - {WIN_W - 1})
                ELSE CAST(0 AS BIGINT) END AS density_micro,
           CAST(coalesce(list_sum(list_transform(fps, f -> f // 1048576)), 0)
                AS BIGINT) AS fp_checksum
    FROM win
    """,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm: per {K}-word
    gram a 40-bit rolling hash, per {W}-gram window the leftmost-minimum
    (pos, hash) selected, duplicates collapsed) — the copy-detection
    fingerprint family's robust member: unlike MinHash it GUARANTEES any
    shared substring of >= {K}+{W}-1 words yields a shared fingerprint,
    with expected density 2/({W}+1) of the gram count. The entire
    selection runs as per-row ARRAY arithmetic — gram hashes, window
    minima, distinct, checksum are all zero-shuffle codegen projections;
    no explode, no shuffle, no join, which is the 100 TB shape (a
    fingerprint INDEX would be one further explode + hash-keyed write,
    the ``dedup_exact_substring`` inverted-index pattern). 40-bit hashes
    (10 md5 hex chars) keep the per-doc checksum sum inside int64 for
    any real document length; each selected (pos, hash) packs into one
    bigint (h*2^20 + p, lossless under 2^20 grams/doc - DuckDB's
    list_distinct can't take struct lists); ties inside a window break to
    the leftmost position — deterministic in both engines (array_position /
    list_position both return the first occurrence)."""
    W = WIN_W
    win = _doc_winnow_fps(spark, sf_dir)
    return win.select(
        "doc_id",
        F.col("n_grams"),
        F.greatest(F.col("n_grams") - (W - 1), F.lit(0)).cast("long").alias(
            "n_windows"
        ),
        F.size("fps").cast("long").alias("n_fp"),
        F.when(
            F.col("n_grams") >= W,
            F.expr(f"size(fps) * 1000000 div (n_grams - {W - 1})"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("density_micro"),
        F.expr(
            "aggregate(fps, CAST(0 AS BIGINT), (acc, f) -> acc + f div 1048576)"
        ).alias("fp_checksum"),
    )


doc_winnowing_fingerprints.__doc__ = doc_winnowing_fingerprints.__doc__.format(
    K=WIN_K, W=WIN_W
)


WIN_PAIR_MAX_DF = 64  # hot-fingerprint cutoff (the jaccard/tfidf bound)
WIN_PAIR_MIN_SHARED = 3  # pairs sharing >= 3 fingerprints are candidates


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      FROM documents
    ),
    gr AS (
      SELECT doc_id,
             CASE WHEN len(t) >= {WIN_K}
                  THEN list_transform(
                         generate_series(1, len(t) - {WIN_K - 1}),
                         i -> ('0x' || substr(md5(
                                array_to_string(t[i:i+{WIN_K - 1}], ' ')),
                                1, 10))::BIGINT)
                  ELSE [] END AS hs
      FROM tk
    ),
    fp AS (
      SELECT DISTINCT doc_id, u.f // 1048576 AS h
      FROM gr, unnest(CASE WHEN len(hs) >= {WIN_W}
                  THEN list_distinct(list_transform(
                         generate_series(1, len(hs) - {WIN_W - 1}),
                         j -> list_min(hs[j:j+{WIN_W - 1}]) * 1048576
                              + j + list_position(hs[j:j+{WIN_W - 1}],
                                    list_min(hs[j:j+{WIN_W - 1}])) - 1))
                  ELSE [] END) AS u(f)
    ),
    hdf AS (SELECT h, count(*) AS df FROM fp GROUP BY h)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    JOIN hdf ON hdf.h = a.h
    WHERE hdf.df <= {WIN_PAIR_MAX_DF}
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {WIN_PAIR_MIN_SHARED}
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints — the
    INDEX use of ``doc_winnowing_fingerprints`` and the guarantee-backed
    member of the pair family: any two docs sharing a substring of >=
    {KW} words MUST share a fingerprint hash (winnowing's covenant;
    MinHash only shares in expectation), so a pair below the
    {MIN}-shared cutoff provably shares no long verbatim run. Shape is
    the standard inverted-index pair join: explode each doc's selected
    fingerprint array to distinct (doc, h) rows, cut fingerprints living
    in > {MAXDF} docs (a hash in everything generates O(N²) candidates
    and zero discrimination — the df bound every pair op here carries),
    join on the 40-bit h, count shared. One explode + two
    map-side-combined aggregates + one hash-keyed join at any corpus
    size."""
    fp = (
        _doc_winnow_fps(spark, sf_dir)
        .select("doc_id", F.explode("fps").alias("f"))
        .select("doc_id", F.expr("f div 1048576").alias("h"))
        .distinct()
    )
    hdf = fp.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    a = fp.join(hdf, "h").filter(F.col("df") <= WIN_PAIR_MAX_DF).select(
        "h", F.col("doc_id").alias("doc_a")
    )
    b = fp.select("h", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_PAIR_MIN_SHARED)
    )


dedup_winnowing_pairs.__doc__ = dedup_winnowing_pairs.__doc__.format(
    KW=WIN_K + WIN_W - 1, MIN=WIN_PAIR_MIN_SHARED, MAXDF=WIN_PAIR_MAX_DF
)


@register(
    "dedup_winnowing_incremental",
    # the oracle INTERPOLATES the registered full-pairs SQL (the
    # corpus_dedup_summary composition pattern): "incremental == full run
    # filtered to the delta" is stated by construction, drift-proof
    oracle=f"""
    WITH full_pairs AS (
      {REGISTRY["dedup_winnowing_pairs"].oracle}
    ),
    mx AS (SELECT ((max(doc_id) + 1) * 9) // 10 AS t FROM documents)
    SELECT p.doc_a, p.doc_b, p.n_shared
    FROM full_pairs p, mx WHERE p.doc_b >= mx.t
    """,
)
def dedup_winnowing_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL winnowing near-dup — the per-batch arm completing the
    incremental trio (MinHash: ``minhash_lsh_pairs_between``; substring:
    ``dedup_substring_incremental``; winnowing: this). The newest ingest
    slice (top 10% of doc_ids — arrival order on this fixture) is paired
    against the EXISTING corpus and within itself WITHOUT re-pairing
    corpus×corpus: the b-side of the fingerprint join shrinks to the delta
    BEFORE the join, so per-batch work is O(delta fingerprints +
    collisions). The persisted ``_doc_winnow_fps`` layer is exactly what
    production holds between batches (fingerprint the delta, append, join
    delta-vs-all). The df cutoff stays computed over the UNION universe
    (corpus + delta), so the result is EXACTLY the full batch run filtered
    to doc_b >= threshold — the oracle states it that way (it interpolates
    the registered full-pairs SQL), pinning zero drift between the batch
    and incremental answers by construction, not hope. The threshold
    derives from the data (((max_id + 1) * 9) div 10) identically in both
    engines; the collected max id is one long of driver metadata (the FFD
    count-gate class). Winnowing's covenant carries over: a delta doc
    sharing a >= {WIN_K + WIN_W - 1}-word run with ANY corpus doc MUST
    surface here — the incremental pass loses nothing vs the full one."""
    docs = load_table(spark, "documents", sf_dir)
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t = 0 if mx is None else ((int(mx) + 1) * 9) // 10
    fp = (
        _doc_winnow_fps(spark, sf_dir)
        .select("doc_id", F.explode("fps").alias("f"))
        .select("doc_id", F.expr("f div 1048576").alias("h"))
        .distinct()
    )
    # df over the union universe — identical cutoff to the full batch run
    hdf = fp.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    a = fp.join(hdf, "h").filter(F.col("df") <= WIN_PAIR_MAX_DF).select(
        "h", F.col("doc_id").alias("doc_a")
    )
    # the incremental shrink: only delta docs enter the b side of the join
    b = fp.filter(F.col("doc_id") >= t).select("h", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_PAIR_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# mergeable-sketch rollup: hourly HLL registers -> daily estimates
# ---------------------------------------------------------------------------


@register(
    "hll_merge_rollup",
    oracle=f"""
    WITH h AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             strftime(ts, '%H') AS hour,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events
    ),
    t AS (SELECT day, hour, h % {HLL_M} AS j, h // {HLL_M} AS w FROM h),
    regs AS (
      -- the oracle goes STRAIGHT to daily registers (recompute-from-scratch);
      -- the engine folds hourly registers and merges by max — equality IS
      -- the mergeability proof
      SELECT day, j,
             max(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
                      ELSE {HLL_RHO_MAX} - length(bin(w)) END) AS mj
      FROM t GROUP BY day, j
    ),
    grid AS (SELECT DISTINCT day FROM h),
    gs AS (SELECT unnest(generate_series(0, {HLL_M - 1})) AS j),
    allr AS (
      SELECT g.day, gs.j, COALESCE(r.mj, 0) AS mj
      FROM grid g CROSS JOIN gs
      LEFT JOIN regs r ON r.day = g.day AND r.j = gs.j
    ),
    s AS (
      SELECT day,
             sum(1::BIGINT << ({HLL_RHO_MAX} - mj)) AS S,
             sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS V
      FROM allr GROUP BY day
    ),
    e AS (
      SELECT day, V,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0 / CAST(S AS DOUBLE) <= 640.0
                       AND V > 0
                  THEN ({_HLL_LC_DUCK})[CAST(V AS BIGINT)]
                  ELSE CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                       * 9007199254740992.0 / CAST(S AS DOUBLE)) AS BIGINT)
                  END AS est
      FROM s
    ),
    nh AS (SELECT day, CAST(count(DISTINCT hour) AS BIGINT) AS n_hours
           FROM h GROUP BY day),
    x AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                 count(DISTINCT user_id) AS nde
          FROM events GROUP BY 1)
    SELECT x.day, nh.n_hours,
           CAST(nde AS BIGINT) AS n_distinct_exact,
           CAST(est AS BIGINT) AS hll_estimate,
           (abs(CAST(est AS BIGINT) - nde) * 1000000) // nde AS err_micro
    FROM x JOIN e ON e.day = x.day JOIN nh ON nh.day = x.day
    """,
)
def hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the reason sketches run 100 TB dashboards:
    the ENGINE builds per-(day, HOUR) HLL register tables and folds them
    into daily registers by register-wise max (the sketch MERGE), while
    the ORACLE computes daily registers straight from the events
    (recompute-from-scratch); the driver's hash equality IS the proof that
    max-merge ≡ direct build (max is associative/commutative over any
    partitioning of the input — the property that lets a pipeline keep
    {HLL_M}-register hourly state and answer daily/weekly/monthly
    distinct-user questions WITHOUT rescanning events). Points and
    estimator are shared with ``vocab_hll_audit`` and the streaming
    ``hll_reach_stream`` (:func:`hll_points`, :func:`hll_estimate`). The exact
    count(DISTINCT) side exists because this is the audit; at scale only
    the register tables run — 24×{HLL_M} ints per day, period."""
    ev = load_table(spark, "events", sf_dir)
    base = hll_points(
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.date_format("ts", "HH").alias("hour"),
            "user_id",
        ),
        F.col("user_id").cast("string"),
        "day",
        "hour",
    )
    hourly = base.groupBy("day", "hour", "j").agg(F.max("rho").alias("mj"))
    daily = hourly.groupBy("day", "j").agg(F.max("mj").alias("mj"))
    grid = (
        base.select("day")
        .distinct()
        .crossJoin(spark.range(HLL_M).select(F.col("id").alias("j")))
    )
    allr = grid.join(daily, ["day", "j"], "left").select(
        "day", "j", F.coalesce("mj", F.lit(0)).alias("mj")
    )
    s = allr.groupBy("day").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RHO_MAX} - mj AS INT))")
        ).alias("S"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).alias("V"),
    )
    e = s.select("day", F.expr(hll_estimate("S", "V")).alias("est"))
    nh = hourly.select("day", "hour").distinct().groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours")
    )
    x = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id")
    x = x.groupBy("day").agg(F.countDistinct("user_id").alias("nde"))
    return (
        x.join(F.broadcast(e), "day")
        .join(F.broadcast(nh), "day")
        .select(
            "day",
            "n_hours",
            F.col("nde").cast("long").alias("n_distinct_exact"),
            F.col("est").cast("long").alias("hll_estimate"),
            F.expr("abs(est - nde) * 1000000 div nde").alias("err_micro"),
        )
    )


hll_merge_rollup.__doc__ = hll_merge_rollup.__doc__.format(HLL_M=HLL_M)


# ---------------------------------------------------------------------------
# span-corruption planning (T5/UL2 denoising objective, deterministic)
# ---------------------------------------------------------------------------

SPAN_START_MOD = 14  # ~1/14 of positions seed a span (~18% masked after union)
SPAN_LEN_BASE = 2  # span length in {2, 3, 4} tokens
SPAN_LEN_MOD = 3


@register(
    "span_corruption_plan",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x != '') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, len(t) AS n,
             list_transform(generate_series(1, len(t)),
               i -> struct_pack(
                 i := i,
                 s := ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                        || CAST(i AS VARCHAR)), 1, 8))::BIGINT % {SPAN_START_MOD}
                      = 0,
                 l := {SPAN_LEN_BASE}
                      + (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                         // {SPAN_START_MOD}) % {SPAN_LEN_MOD})) AS sp
      FROM tk WHERE len(t) > 0
    ),
    mk AS (
      SELECT doc_id, n,
             list_transform(generate_series(1, n),
               j -> len(list_filter(sp[greatest(j - {SPAN_LEN_BASE + SPAN_LEN_MOD - 2}, 1):j],
                        e -> e.s AND e.i + e.l - 1 >= j)) > 0) AS m
      FROM st
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(len(list_filter(generate_series(1, n), j -> m[j]))
                AS BIGINT) AS n_masked,
           CAST(len(list_filter(generate_series(1, n),
                j -> m[j] AND (j = 1 OR NOT m[j - 1])))
                AS BIGINT) AS n_spans,
           len(list_filter(generate_series(1, n), j -> m[j]))
             * 1000000 // n AS mask_ratio_micro,
           CAST(coalesce(list_sum(list_transform(
                  list_filter(generate_series(1, n), j -> m[j]),
                  j -> j * 1000003)), 0) AS BIGINT) AS mask_checksum
    FROM mk
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic span-corruption plan — the data-side half of a
    T5/UL2-style denoising objective: ~1/{MOD} of token positions seed a
    corruption span of {B}–{BL} tokens (seed and length both pure
    functions of md5(doc_id:pos), so the plan is REPRODUCIBLE across
    engines, runs, and partitionings — no RNG state to checkpoint),
    overlapping spans union, and each doc reports masked-token count,
    maximal-span count, the micro mask ratio, and a position checksum
    that pins the exact masked set byte-for-byte. Everything is per-row
    array arithmetic over a bounded lookback window ({BL} positions —
    O(n·{BL}) per doc, never O(n²)): zero shuffles, zero joins, the same
    plan class as the winnowing selection. At 100 TB the mask GENERATION
    is this scan; the rewrite into sentinel-token sequences streams off
    the same arrays."""
    docs = load_table(spark, "documents", sf_dir)
    tk = dedup.word_tokens(F.col("text"))
    L = SPAN_LEN_BASE + SPAN_LEN_MOD - 1  # max span length
    hsql = (
        "conv(substr(md5(concat(cast(doc_id as string), ':',"
        " cast(i as string))), 1, 8), 16, 10) :: long"
    )
    st = (
        f"transform(sequence(1, size(t)), i -> struct(i as i,"
        f" {hsql} % {SPAN_START_MOD} = 0 as s,"
        f" {SPAN_LEN_BASE} + ({hsql} div {SPAN_START_MOD}) % {SPAN_LEN_MOD} as l))"
    )
    base = (
        docs.select("doc_id", tk.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n"),
            F.explode(F.array(F.struct(F.expr(st).alias("st")))).alias("r"),
        )
        .select("doc_id", "n", F.col("r.st").alias("st"))
    )
    mk = (
        f"transform(sequence(1, cast(n as int)),"
        f" j -> size(filter(slice(st, greatest(j - {L - 1}, 1),"
        f" j - greatest(j - {L - 1}, 1) + 1),"
        f" e -> e.s AND e.i + e.l - 1 >= j)) > 0)"
    )
    masked = base.select(
        "doc_id",
        "n",
        F.explode(F.array(F.struct(F.expr(mk).alias("m")))).alias("r"),
    ).select("doc_id", "n", F.col("r.m").alias("m"))
    n_masked = F.expr(
        "size(filter(sequence(1, cast(n as int)), j -> element_at(m, j)))"
    ).cast("long")
    n_spans = F.expr(
        "size(filter(sequence(1, cast(n as int)),"
        " j -> element_at(m, j) AND (j = 1 OR NOT element_at(m, j - 1))))"
    ).cast("long")
    checksum = F.expr(
        "aggregate(filter(sequence(1, cast(n as int)), j -> element_at(m, j)),"
        " CAST(0 AS BIGINT), (acc, j) -> acc + j * 1000003)"
    )
    return masked.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        n_masked.alias("n_masked"),
        n_spans.alias("n_spans"),
        F.expr(
            "size(filter(sequence(1, cast(n as int)), j -> element_at(m, j)))"
            " * 1000000 div n"
        ).alias("mask_ratio_micro"),
        checksum.alias("mask_checksum"),
    )


span_corruption_plan.__doc__ = span_corruption_plan.__doc__.format(
    MOD=SPAN_START_MOD, B=SPAN_LEN_BASE, BL=SPAN_LEN_BASE + SPAN_LEN_MOD - 1
)


# ---------------------------------------------------------------------------
# prefix-filtered set-similarity join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

PREFIX_JACCARD_MIN_MICRO = 900_000  # 3-gram shingle-set Jaccard >= 0.9

_PREFIX_SH_SQL = f"""
    tk0 AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    tk AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS toks
      FROM tk0 WHERE len(tk) >= 1
    )"""


@register(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    WITH {_PREFIX_SH_SQL},
    occ2 AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
    df AS (SELECT tok, count(*) AS df FROM occ2 GROUP BY tok),
    ordered AS (
      SELECT o.doc_id,
             list_transform(
               list_sort(list(struct_pack(d := df.df, t := o.tok))),
               e -> e.t) AS toks_sorted
      FROM occ2 o JOIN df ON df.tok = o.tok
      GROUP BY o.doc_id
    ),
    pre AS (
      -- prefix length for threshold t = 0.9: n - ceil(0.9 n) + 1
      SELECT doc_id,
             unnest(toks_sorted[1:(len(toks_sorted)
                    - (9 * len(toks_sorted) + 9) // 10 + 1)]) AS tok
      FROM ordered
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    v AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS inter,
             CAST(len(ta.toks) AS BIGINT) AS na,
             CAST(len(tb.toks) AS BIGINT) AS nb
      FROM cand c
      JOIN tk ta ON ta.doc_id = c.doc_a
      JOIN tk tb ON tb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, inter,
           inter * 1000000 // (na + nb - inter) AS jaccard_micro
    FROM v
    WHERE inter * 1000000 >= {PREFIX_JACCARD_MIN_MICRO} * (na + nb - inter)
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (the AllPairs/PPJoin
    family) over 3-gram shingle sets — the candidate-pruning technique
    the plain inverted index lacks: order each doc's shingle set by
    ascending global frequency (rarest first; the (df, gram) sort key
    needs NO global rank — it sorts per-row arrays) and index only the
    first |d| - ceil(0.9·|d|) + 1 grams. Two sets with Jaccard >= 0.9
    MUST collide on at least one prefix gram (J >= t implies the
    intersection is >= ceil(t·|d|) grams, which cannot all hide in the
    suffix), so recall at the threshold is exact BY CONSTRUCTION — no
    df cutoff needed, because rarest-first prefixes are cold by choice.
    The set UNIT is the measured part: word-token sets (r6 first cut)
    put every prefix token at df ≈ n/3 on this 31-word vocabulary and
    the candidate join went quadratic — 137.7 s at sf0.1, predicted
    exactly by ``prefix_filter_volume_stats``'s cand_prefix blowup;
    3-gram shingles (the dedup family's shared universe) restore the
    rare-prefix premise and the same join runs in ~2 s with 48k
    candidates for 249 true pairs. Verification joins each candidate
    pair to its two shingle ARRAYS (per-pair work bounded by doc
    length, never corpus size) and closes exact integer Jaccard with
    cleared denominators. Scale shape: one df aggregate + one
    doc-keyed sort-and-slice + a prefix-gram equi-join whose volume
    collision-bounds like LSH, but with a proof instead of a
    probability — and the volume-stats twin PRICES it before it runs."""
    from postgres_cdc_example_spark.queries.extensions import (
        _doc_gram_df,
        _doc_ngrams,
    )

    sh = _doc_ngrams(spark, sf_dir)
    # r13: the persisted df-annotated layer IS `sh join df_` — the
    # rarest-first ordering reads it directly instead of re-running the
    # df aggregate + join-back per invocation
    ordered = (
        _doc_gram_df(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df as d, g as t))),"
                " e -> e.t)"
            ).alias("toks_sorted")
        )
    )
    pre = ordered.select(
        "doc_id",
        F.explode(
            F.expr(
                "slice(toks_sorted, 1,"
                " size(toks_sorted) - (9 * size(toks_sorted) + 9) div 10 + 1)"
            )
        ).alias("tok"),
    )
    a = pre.select(F.col("doc_id").alias("doc_a"), "tok")
    b = pre.select(F.col("doc_id").alias("doc_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    arrs = sh.groupBy("doc_id").agg(F.collect_list("g").alias("toks"))
    ta = arrs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    # r13 (guide §2.3, the positional-filter idea from the same PPJoin
    # family): inter <= least(na, nb), so J >= 0.9 is IMPOSSIBLE unless
    # least*1e6 >= 0.9*(na+nb-least) — a pure size test. Applying it
    # BEFORE array_intersect skips the expensive intersect for the vast
    # majority of the prefix-collision candidates (~48k candidates, ~250
    # survivors at 0.9 on this corpus); dropped rows could never pass the
    # exact filter below, so the output is identical.
    sz_ok = (
        F.least(F.size("ta"), F.size("tb")).cast("long") * 1_000_000
        >= F.lit(PREFIX_JACCARD_MIN_MICRO)
        * (
            F.size("ta").cast("long")
            + F.size("tb").cast("long")
            - F.least(F.size("ta"), F.size("tb")).cast("long")
        )
    )
    v = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(sz_ok)
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("inter"),
            F.size("ta").cast("long").alias("na"),
            F.size("tb").cast("long").alias("nb"),
        )
    )
    return (
        v.filter(
            F.col("inter") * 1_000_000
            >= PREFIX_JACCARD_MIN_MICRO * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.expr("inter * 1000000 div (na + nb - inter)").alias(
                "jaccard_micro"
            ),
        )
    )


@register(
    "prefix_filter_volume_stats",
    oracle=f"""
    WITH {_PREFIX_SH_SQL},
    occ2 AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
    df AS (SELECT tok, count(*) AS c FROM occ2 GROUP BY tok),
    ordered AS (
      SELECT o.doc_id,
             list_transform(
               list_sort(list(struct_pack(d := df.c, t := o.tok))),
               e -> e.t) AS toks_sorted
      FROM occ2 o JOIN df ON df.tok = o.tok
      GROUP BY o.doc_id
    ),
    pre AS (
      SELECT doc_id,
             unnest(toks_sorted[1:(len(toks_sorted)
                    - (9 * len(toks_sorted) + 9) // 10 + 1)]) AS tok
      FROM ordered
    ),
    pdf AS (SELECT tok, count(*) AS c FROM pre GROUP BY tok),
    f AS (SELECT CAST(count(*) AS BIGINT) AS full_index_tokens,
                 CAST(sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT)
                   AS cand_full
          FROM df),
    p AS (SELECT CAST(count(*) AS BIGINT) AS prefix_index_tokens,
                 CAST(sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT)
                   AS cand_prefix
          FROM pdf)
    SELECT f.full_index_tokens, p.prefix_index_tokens,
           f.cand_full, p.cand_prefix,
           p.cand_prefix * 1000000 // f.cand_full AS reduction_micro
    FROM f, p
    """,
)
def prefix_filter_volume_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-volume PREDICTION for the prefix-filtered set-similarity
    join — the ``lsh_band_bucket_stats`` discipline applied to
    ``dedup_prefix_filter_pairs``: Σ c·(c-1)/2 over per-gram posting
    sizes for the FULL shingle index vs the rarest-first PREFIX index,
    plus the reduction ratio. Two keyed aggregates off the shared
    shingle layer — the join itself never runs. This table is the
    evidence that caught the r6 word-token regression before the bench
    window did: cand_prefix on word sets exploded into the millions at
    sf0.1 (every prefix token hot on a 31-word vocabulary) while the
    shingle formulation holds at 48k — read this BEFORE committing the
    pair join at a new scale, exactly like the LSH b/r tables."""
    from postgres_cdc_example_spark.queries.extensions import _doc_ngrams

    sh = _doc_ngrams(spark, sf_dir)
    df_ = sh.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    ordered = (
        sh.withColumnRenamed("g", "tok")
        .join(df_.withColumnRenamed("g", "tok").withColumnRenamed("c", "df"), "tok")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df as d, tok as t))),"
                " e -> e.t)"
            ).alias("toks_sorted")
        )
    )
    pre = ordered.select(
        "doc_id",
        F.explode(
            F.expr(
                "slice(toks_sorted, 1,"
                " size(toks_sorted) - (9 * size(toks_sorted) + 9) div 10 + 1)"
            )
        ).alias("tok"),
    )
    pdf = pre.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    pairs = F.sum(
        F.expr("CAST(c AS DECIMAL(38,0)) * (c - 1) div 2")
    ).cast("long")
    f = df_.agg(
        F.count(F.lit(1)).cast("long").alias("full_index_tokens"),
        pairs.alias("cand_full"),
    )
    p = pdf.agg(
        F.count(F.lit(1)).cast("long").alias("prefix_index_tokens"),
        pairs.alias("cand_prefix"),
    )
    return f.crossJoin(F.broadcast(p)).select(
        "full_index_tokens",
        "prefix_index_tokens",
        "cand_full",
        "cand_prefix",
        F.expr("cand_prefix * 1000000 div cand_full").alias("reduction_micro"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (deterministic mergeable counter summary)
# ---------------------------------------------------------------------------

MG_K = 8  # counters per summary; guarantees every token with count > bound


@register(
    "heavy_hitters_misra_gries",
    oracle=f"""
    WITH tk AS (
      SELECT source, {_TOKS} AS toks FROM documents
    ),
    occ AS (SELECT source, unnest(toks) AS tok FROM tk),
    cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
            FROM occ GROUP BY source, tok),
    rk AS (SELECT source, tok, c,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY c DESC, tok) AS rn
           FROM cnt),
    ts AS (SELECT source, c AS t FROM rk WHERE rn = {MG_K + 1}),
    toff AS (SELECT s.source, COALESCE(ts.t, 0) AS t
             FROM (SELECT DISTINCT source FROM cnt) s
             LEFT JOIN ts ON ts.source = s.source),
    srv AS (SELECT c.tok, c.c - t.t AS d
            FROM cnt c JOIN toff t ON t.source = c.source
            WHERE c.c > t.t),
    mg AS (SELECT tok, CAST(sum(d) AS BIGINT) AS m FROM srv GROUP BY tok),
    rkm AS (SELECT tok, m, row_number() OVER (ORDER BY m DESC, tok) AS rn
            FROM mg),
    tm AS (SELECT COALESCE(max(CASE WHEN rn = {MG_K + 1} THEN m END), 0) AS tm
           FROM rkm),
    bs AS (SELECT CAST(COALESCE(sum(t), 0) AS BIGINT) AS bs FROM toff),
    bound AS (SELECT bs.bs + tm.tm AS bound FROM bs, tm),
    summ AS (SELECT tok, m - tm.tm AS est FROM mg, tm WHERE m > tm.tm),
    ex AS (SELECT tok, CAST(sum(c) AS BIGINT) AS exact FROM cnt GROUP BY tok),
    miss AS (SELECT CAST(count(*) AS BIGINT) AS heavy_missed
             FROM ex, bound
             WHERE ex.exact > bound.bound
               AND ex.tok NOT IN (SELECT tok FROM summ))
    SELECT s.tok, s.est, e.exact, e.exact - s.est AS slack, b.bound,
           CAST(CASE WHEN e.exact - s.est BETWEEN 0 AND b.bound
                THEN 1 ELSE 0 END AS BIGINT) AS within_bound,
           m.heavy_missed
    FROM summ s
    JOIN ex e ON e.tok = s.tok
    CROSS JOIN bound b
    CROSS JOIN miss m
    """,
)
def heavy_hitters_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters as a MERGEABLE summary (Agarwal et al.,
    "Mergeable Summaries", PODS'12) — the deterministic counter-based
    sibling of the CMS (``token_count_min_sketch``) and HLL
    (``hll_merge_rollup``) sketch rows.  Each source's exact token-count
    table is reduced to a {MG_K}-counter MG summary by the order-free
    count-table formulation: subtract the ({MG_K}+1)-th largest count
    t_s (a VALUE, so tie-breaking cannot move it) from every counter and
    keep the positive ones — at most {MG_K} survive by construction.
    Summaries then MERGE exactly as the paper prescribes: add counters
    tokenwise, subtract the ({MG_K}+1)-th largest combined value t_m,
    drop non-positives.  The output carries the proof obligations as
    columns: est <= exact (underestimates only), slack <= bound where
    bound = SUM(t_s) + t_m (the paper's merged error bound), and
    heavy_missed == 0 — every token whose true count exceeds the bound
    MUST survive the merge (exact > bound implies m >= exact - SUM(t_s)
    > t_m).  The oracle replays the identical algebra in DuckDB, so the
    driver hash pins both the summary contents and the guarantee flags.
    Scale shape: one map-side-combined (source, tok) count shuffle is
    the only corpus-sized stage; everything downstream touches at most
    {MG_K} rows per source (the global row_number window runs on <=
    {MG_K} x n_sources rows, bounded by construction), and the scalar
    t_m / bound / heavy_missed sides are broadcast 1-row cross joins.
    At 100 TB only the per-shard summaries ship — {MG_K} (tok, count)
    pairs per shard, merged associatively at any fan-in — while the
    exact side here exists because this is the audit of that contract."""
    docs = load_table(spark, "documents", sf_dir)
    cnt = (
        docs.select(
            "source", F.explode(dedup.word_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_src = Window.partitionBy("source").orderBy(F.desc("c"), "tok")
    rk = cnt.withColumn("rn", F.row_number().over(w_src))
    ts = rk.filter(F.col("rn") == MG_K + 1).select(
        "source", F.col("c").alias("t")
    )
    toff = (
        cnt.select("source")
        .distinct()
        .join(ts, "source", "left")
        .select("source", F.coalesce("t", F.lit(0)).cast("long").alias("t"))
    )
    srv = (
        cnt.join(toff, "source")
        .filter(F.col("c") > F.col("t"))
        .select("tok", (F.col("c") - F.col("t")).alias("d"))
    )
    mg = srv.groupBy("tok").agg(F.sum("d").cast("long").alias("m"))
    rkm = mg.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("m"), "tok"))
    )
    tm = rkm.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == MG_K + 1, F.col("m"))), F.lit(0)
        )
        .cast("long")
        .alias("tm")
    )
    bs = toff.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("bs"))
    bound = bs.crossJoin(F.broadcast(tm)).select(
        (F.col("bs") + F.col("tm")).alias("bound")
    )
    summ = (
        mg.crossJoin(F.broadcast(tm))
        .filter(F.col("m") > F.col("tm"))
        .select("tok", (F.col("m") - F.col("tm")).alias("est"))
    )
    ex = cnt.groupBy("tok").agg(F.sum("c").cast("long").alias("exact"))
    miss = (
        ex.crossJoin(F.broadcast(bound))
        .filter(F.col("exact") > F.col("bound"))
        .join(summ.select("tok"), "tok", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("heavy_missed"))
    )
    return (
        summ.join(ex, "tok")
        .crossJoin(F.broadcast(bound))
        .crossJoin(F.broadcast(miss))
        .select(
            "tok",
            "est",
            "exact",
            (F.col("exact") - F.col("est")).alias("slack"),
            "bound",
            F.when(
                (F.col("exact") - F.col("est") >= 0)
                & (F.col("exact") - F.col("est") <= F.col("bound")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("within_bound"),
            "heavy_missed",
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation: document length vs quality score
# ---------------------------------------------------------------------------


@register(
    "length_quality_spearman",
    oracle=f"""
    WITH {_QC_SCORED_CTES},
    s AS (SELECT doc_id, n_tokens AS t, quality_micro AS q FROM qscored),
    ht AS (SELECT t, CAST(count(*) AS BIGINT) AS ct FROM s GROUP BY t),
    wt AS (SELECT t, 2 * sum(ct) OVER (ORDER BY t) - ct + 1 AS mr2 FROM ht),
    hq AS (SELECT q, CAST(count(*) AS BIGINT) AS cq FROM s GROUP BY q),
    wq AS (SELECT q, 2 * sum(cq) OVER (ORDER BY q) - cq + 1 AS mr2 FROM hq),
    r AS (
      SELECT CAST(wt.mr2 AS BIGINT) AS rx, CAST(wq.mr2 AS BIGINT) AS ry
      FROM s JOIN wt ON wt.t = s.t JOIN wq ON wq.q = s.q
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sxx,
             CAST(sum(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS syy,
             CAST(sum(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy
      FROM r
    )
    SELECT n AS n_docs,
           CAST(floor(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                       * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
                * 1000000 + 0.5) AS BIGINT) AS spearman_micro
    FROM mo
    """,
)
def length_quality_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation between document length and the frozen
    quality score — the number that answers the question
    ``quality_curriculum``'s docstring raises ('is high quality also
    short documents?') as one statistic instead of a table to eyeball.
    Ranks come from the two bounded VALUE-KEYED histograms (the Gini
    discipline): ties get exact midranks on the doubled grid
    (2·midrank = 2·cum - count + 1, an integer — no .5s ever
    materialize), every moment is an exact HUGEINT/DECIMAL(38,0) sum
    over those integer ranks, and the closing Pearson-on-ranks formula
    runs as IEEE double ops on exact integers (mul/div/sqrt are all
    correctly rounded, so both engines produce the identical double)
    rounded half-up onto the micro grid — sign-safe for the negative
    correlation this corpus actually has (the quality scorer penalizes
    |len - 150|, so length and quality anti-correlate beyond the
    sweet spot). Scale shape: one zero-shuffle scoring scan, two
    value-domain-bounded histograms with windows over histogram rows
    only, two keyed joins to attach midranks, one moment aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    s = _quality_scored(docs).select(
        F.col("n_tokens").alias("t"), F.col("quality_micro").alias("q")
    )
    ht = s.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    wot = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wt = ht.select(
        "t", (2 * F.sum("ct").over(wot) - F.col("ct") + 1).alias("mr2")
    )
    hq = s.groupBy("q").agg(F.count(F.lit(1)).cast("long").alias("cq"))
    woq = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wq = hq.select(
        "q", (2 * F.sum("cq").over(woq) - F.col("cq") + 1).alias("mr2")
    )
    r = (
        s.join(F.broadcast(wt), "t")
        .join(F.broadcast(wq), "q")
        .select(
            wt["mr2"].cast("long").alias("rx"),
            wq["mr2"].cast("long").alias("ry"),
        )
    )
    mo = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.expr("CAST(rx AS DECIMAL(38,0)) * rx")).alias("sxx"),
        F.sum(F.expr("CAST(ry AS DECIMAL(38,0)) * ry")).alias("syy"),
        F.sum(F.expr("CAST(rx AS DECIMAL(38,0)) * ry")).alias("sxy"),
    )
    return mo.select(
        F.col("n").alias("n_docs"),
        F.expr(
            "CAST(floor(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
            "        * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("spearman_micro"),
    )


# Kendall tau-b quality bucket width: the percent grid (micro div 10⁴),
# fixed domain 0..100 — bounds the dense dominance grid at any corpus size
KT_QB = 10_000


@register(
    "length_quality_kendall",
    oracle=f"""
    WITH {_QC_SCORED_CTES},
    s AS (SELECT n_tokens AS t, quality_micro // {KT_QB} AS qb FROM qscored),
    cell AS (SELECT t, qb, CAST(count(*) AS BIGINT) AS nc FROM s GROUP BY t, qb),
    tg AS (SELECT DISTINCT t FROM cell),
    grid AS (
      SELECT tg.t, g.qb, COALESCE(cell.nc, 0) AS nc
      FROM tg CROSS JOIN (SELECT unnest(generate_series(0, 100)) AS qb) g
      LEFT JOIN cell ON cell.t = tg.t AND cell.qb = g.qb
    ),
    cl AS (
      SELECT t, qb, nc,
             COALESCE(sum(nc) OVER (PARTITION BY qb ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ct_lt
      FROM grid
    ),
    dom AS (
      SELECT t, qb, nc,
             COALESCE(sum(ct_lt) OVER (PARTITION BY t ORDER BY qb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_ll,
             sum(ct_lt) OVER (PARTITION BY t)
               - sum(ct_lt) OVER (PARTITION BY t ORDER BY qb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_lg
      FROM cl
    ),
    cd AS (
      SELECT CAST(sum(CAST(nc AS HUGEINT) * s_ll) AS BIGINT) AS c_pairs,
             CAST(sum(CAST(nc AS HUGEINT) * s_lg) AS BIGINT) AS d_pairs
      FROM dom
    ),
    ht AS (SELECT CAST(count(*) AS BIGINT) AS ct FROM s GROUP BY t),
    hq AS (SELECT CAST(count(*) AS BIGINT) AS cq FROM s GROUP BY qb),
    ties AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n,
             (SELECT CAST(sum(ct * (ct - 1) // 2) AS BIGINT) FROM ht) AS tie_t,
             (SELECT CAST(sum(cq * (cq - 1) // 2) AS BIGINT) FROM hq) AS tie_q
    )
    SELECT ties.n AS n_docs, cd.c_pairs, cd.d_pairs, ties.tie_t AS tie_t_pairs,
           ties.tie_q AS tie_q_pairs,
           CAST(CASE WHEN (CAST(ties.n AS HUGEINT) * (ties.n - 1) // 2 - ties.tie_t) = 0
                       OR (CAST(ties.n AS HUGEINT) * (ties.n - 1) // 2 - ties.tie_q) = 0
                THEN NULL ELSE
                floor(CAST(cd.c_pairs - cd.d_pairs AS DOUBLE)
                      / sqrt(CAST(CAST(ties.n AS HUGEINT) * (ties.n - 1) // 2
                                  - ties.tie_t AS DOUBLE)
                             * CAST(CAST(ties.n AS HUGEINT) * (ties.n - 1) // 2
                                    - ties.tie_q AS DOUBLE))
                      * 1000000 + 0.5) END AS BIGINT) AS tau_b_micro
    FROM cd, ties
    """,
)
def length_quality_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL tau-b between document length and the quality score on the
    percent grid — Spearman's robust sibling (pairwise concordance instead
    of rank moments; less sensitive to a heavy monotone tail, the number a
    curation report quotes beside spearman_micro). Exact by construction:
    quality buckets onto the FIXED percent grid (micro div 10⁴, domain
    0..100 forever), so the dense (length × percent) dominance grid is
    bounded by VALUE DOMAINS, never the corpus; concordant pairs count via
    two cumulative windows over that grid (per-quality running count over
    length, then per-length prefix over quality — the classic 2D prefix
    sum, each window over grid rows only), discordant via the complement
    suffix, and tie pairs from the two 1D histograms. tau-b =
    (C−D)/√((P−T_t)(P−T_q)) closes as IEEE double ops on exact integers
    (the Spearman recipe; degenerate all-tied margins yield NULL
    identically in both engines). The statistic is DEFINED on the bucketed
    quality — stated, not approximated: concordance against a 10⁻² quality
    step is the resolution a curation threshold actually uses. Scale
    shape: one zero-shuffle scoring scan, one (t, qb)-keyed count, a
    bounded ≤ |length-domain|·101 grid (the HLL-grid BNLJ class), windows
    over grid rows, one moment row. Magnitude note: C, D ≤ n²/2 stay
    double-exact (< 2⁵³) through ~10⁸ docs; beyond that emit C−D and the
    two denominators and close the ratio downstream — documented, not
    silent."""
    docs = load_table(spark, "documents", sf_dir)
    s = _quality_scored(docs).select(
        F.col("n_tokens").alias("t"),
        F.expr(f"quality_micro div {KT_QB}").alias("qb"),
    )
    cell = s.groupBy("t", "qb").agg(F.count(F.lit(1)).cast("long").alias("nc"))
    tg = cell.select("t").distinct()
    qg = s.sparkSession.range(0, 101).select(F.col("id").alias("qb"))
    grid = (
        tg.crossJoin(F.broadcast(qg))
        .join(cell, ["t", "qb"], "left")
        .select("t", "qb", F.coalesce(F.col("nc"), F.lit(0)).alias("nc"))
    )
    w_t = (
        Window.partitionBy("qb")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cl = grid.select(
        "t", "qb", "nc", F.coalesce(F.sum("nc").over(w_t), F.lit(0)).alias("ct_lt")
    )
    w_q_lt = (
        Window.partitionBy("t")
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_q_le = (
        Window.partitionBy("t")
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("t")
    dom = cl.select(
        "nc",
        F.coalesce(F.sum("ct_lt").over(w_q_lt), F.lit(0)).alias("s_ll"),
        (F.sum("ct_lt").over(w_all) - F.sum("ct_lt").over(w_q_le)).alias("s_lg"),
    )
    cd = dom.agg(
        F.sum(F.expr("CAST(nc AS DECIMAL(38,0)) * s_ll")).cast("long").alias("c_pairs"),
        F.sum(F.expr("CAST(nc AS DECIMAL(38,0)) * s_lg")).cast("long").alias("d_pairs"),
    )
    ht = s.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    hq = s.groupBy("qb").agg(F.count(F.lit(1)).cast("long").alias("cq"))
    ties = (
        s.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(
            F.broadcast(
                ht.agg(
                    F.sum(F.expr("ct * (ct - 1) div 2")).cast("long").alias("tie_t")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                hq.agg(
                    F.sum(F.expr("cq * (cq - 1) div 2")).cast("long").alias("tie_q")
                )
            )
        )
    )
    return cd.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_docs"),
        "c_pairs",
        "d_pairs",
        F.col("tie_t").alias("tie_t_pairs"),
        F.col("tie_q").alias("tie_q_pairs"),
        F.expr(
            "CAST(CASE WHEN (CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_t) = 0"
            " OR (CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_q) = 0"
            " THEN NULL ELSE"
            " floor(CAST(c_pairs - d_pairs AS DOUBLE)"
            " / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_t AS DOUBLE)"
            "        * CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_q AS DOUBLE))"
            " * 1000000 + 0.5) END AS BIGINT)"
        ).alias("tau_b_micro"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity partition + fixed-window chunk plan (round 9)
# ---------------------------------------------------------------------------

PPL_RANGE_BUCKET = 65_536  # monotone NLL coarsening for the two-pass rank


@register(
    "perplexity_bucket_plan",
    oracle=f"""
    WITH nll AS ({REGISTRY["text_unigram_nll"].oracle}),
    r AS (
      SELECT d.lang, nll.n_tokens, nll.mean_nll_micro,
             row_number() OVER (PARTITION BY d.lang
                                ORDER BY nll.mean_nll_micro, nll.doc_id) AS rn,
             count(*) OVER (PARTITION BY d.lang) AS n
      FROM nll JOIN documents d ON d.doc_id = nll.doc_id
    ),
    b AS (SELECT lang, (rn - 1) * 3 // n AS b3, n_tokens, mean_nll_micro FROM r)
    SELECT lang,
           CASE b3 WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END
             AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(mean_nll_micro) AS BIGINT) AS min_nll_micro,
           CAST(max(mean_nll_micro) AS BIGINT) AS max_nll_micro
    FROM b GROUP BY lang, b3
    """,
)
def perplexity_bucket_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style PERPLEXITY PARTITION: per language, rank documents by
    their LM score (``text_unigram_nll``'s mean NLL — perplexity is
    monotone in it, so the split is identical) and cut each language into
    equal-population head/middle/tail terciles — the standard
    quality-stratification a web-scale curation run performs before
    choosing how much of each stratum to keep. The engine composes the
    REGISTERED scorer (sharing its occurrence layer) and computes the
    per-language rank with the two-pass distributed shape proven by
    ``quality_curriculum`` — per-(lang, NLL-range-bucket) row_number plus
    broadcast cumulative offsets, a monotone coarsening of the sort key,
    so no language's documents cross one reducer — while the oracle
    states the spec as the plain per-lang global row_number. Tercile
    arithmetic is pure integers ((rank−1)·3 div n — Spark ``div`` ≡
    DuckDB ``//`` on the non-negative operands). Output: per (lang,
    bucket) population, token mass, and the NLL range — the table that
    tells you what 'head quality' costs in tokens per language."""
    nll = REGISTRY["text_unigram_nll"].fn(spark, sf_dir)
    lang = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    # three consumers (ranked, offsets, nlang) — the checkpoint stops the
    # whole unigram scorer (with its audited 1-row-total broadcast) from
    # running three times (the dedup_graph_shape_audit lesson)
    t = (
        nll.join(lang, "doc_id")
        .withColumn("qb", F.floor(F.col("mean_nll_micro") / F.lit(PPL_RANGE_BUCKET)))
        .localCheckpoint(eager=False)
    )
    wb = Window.partitionBy("lang", "qb").orderBy("mean_nll_micro", "doc_id")
    ranked = t.withColumn("rk", F.row_number().over(wb))
    counts = t.groupBy("lang", "qb").agg(F.count(F.lit(1)).alias("n_b"))
    wo = (
        Window.partitionBy("lang")
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.select(
        "lang", "qb", (F.sum("n_b").over(wo) - F.col("n_b")).alias("offset")
    )
    nlang = counts.groupBy("lang").agg(F.sum("n_b").cast("long").alias("n"))
    return (
        ranked.join(F.broadcast(offsets), ["lang", "qb"])
        .join(F.broadcast(nlang), "lang")
        .select(
            "lang",
            F.expr("(offset + rk - 1) * 3 div n").alias("b3"),
            "n_tokens",
            "mean_nll_micro",
        )
        .groupBy("lang", "b3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("mean_nll_micro").cast("long").alias("min_nll_micro"),
            F.max("mean_nll_micro").cast("long").alias("max_nll_micro"),
        )
        .select(
            "lang",
            F.expr(
                "CASE b3 WHEN 0 THEN 'head' WHEN 1 THEN 'middle'"
                " ELSE 'tail' END"
            ).alias("bucket"),
            "n_docs",
            "total_tokens",
            "min_nll_micro",
            "max_nll_micro",
        )
    )


CHUNK_TOKENS = 64  # tokens per chunk window
CHUNK_STRIDE = 48  # window start stride (64-48 = 16 tokens of overlap)


@register(
    "doc_chunk_plan",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    c AS (
      SELECT doc_id, tk,
             unnest(generate_series(0, (len(tk) - 1) // {CHUNK_STRIDE})) AS i
      FROM t WHERE len(tk) >= 1
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(tk[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}])
                AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
               tk[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
               ' ')) AS chunk_md5
    FROM c
    """,
)
def doc_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window TOKEN CHUNKING with overlap — the context-window prep
    step every pretraining/RAG pipeline runs (documents → {W}-token
    windows starting every {S} tokens, so consecutive chunks share
    {W}-{S} tokens of context): per chunk, its index, token count (short
    tail windows keep their natural length — the downstream packer's
    concern, as in ``pack_documents``), and the md5 of the
    space-rejoined window (the chunk-level dedup/provenance key — chunk
    hashes are what a RAG index or a chunk-level near-dup pass consumes).
    Zero-token documents yield no chunks (the ``ngram_rows`` convention).
    Scale shape: ONE scan, one Generate (sequence explode) — no shuffle
    anywhere; output volume is the intrinsic ~n/{S} chunks per doc, and
    the slice/hash run inside codegen on both engines with identical
    string semantics (whitespace tokens, single-space rejoin)."""
    from postgres_cdc_example_spark.operators.dedup import word_tokens

    t = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", word_tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 1)
    )
    c = t.select(
        "doc_id",
        "tk",
        F.explode(
            F.expr(f"sequence(CAST(0 AS BIGINT), (size(tk) - 1) div {CHUNK_STRIDE})")
        ).alias("i"),
    )
    chunk = f"slice(tk, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})"
    return c.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_idx"),
        F.expr(f"CAST(size({chunk}) AS BIGINT)").alias("n_chunk_tokens"),
        F.expr(f"md5(concat_ws(' ', {chunk}))").alias("chunk_md5"),
    )


doc_chunk_plan.__doc__ = doc_chunk_plan.__doc__.replace(
    "{W}", str(CHUNK_TOKENS)
).replace("{S}", str(CHUNK_STRIDE))


MAD_K = 3  # flag docs with |len - median| > MAD_K * MAD (the robust z-gate)


@register(
    "length_mad_gate",
    oracle=f"""
    WITH h AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
    cw AS (
      SELECT source, v, c,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cum
      FROM h
    ),
    mlo AS (SELECT cw.source, min(v) AS vlo FROM cw JOIN t ON t.source = cw.source
            WHERE cum >= (n + 1) // 2 GROUP BY 1),
    mhi AS (SELECT cw.source, min(v) AS vhi FROM cw JOIN t ON t.source = cw.source
            WHERE cum >= (n + 2) // 2 GROUP BY 1),
    m2 AS (SELECT mlo.source, vlo + vhi AS med2
           FROM mlo JOIN mhi ON mhi.source = mlo.source),
    dh AS (
      SELECT h.source, abs(2 * h.v - m2.med2) AS d2, CAST(sum(c) AS BIGINT) AS c
      FROM h JOIN m2 ON m2.source = h.source GROUP BY 1, 2
    ),
    dw AS (
      SELECT source, d2, c,
             sum(c) OVER (PARTITION BY source ORDER BY d2) AS cum
      FROM dh
    ),
    alo AS (SELECT dw.source, min(d2) AS dlo FROM dw JOIN t ON t.source = dw.source
            WHERE cum >= (n + 1) // 2 GROUP BY 1),
    ahi AS (SELECT dw.source, min(d2) AS dhi FROM dw JOIN t ON t.source = dw.source
            WHERE cum >= (n + 2) // 2 GROUP BY 1),
    mad AS (SELECT alo.source, dlo + dhi AS mad4
            FROM alo JOIN ahi ON ahi.source = alo.source)
    SELECT t.source, t.n AS n_docs,
           CAST(m2.med2 AS BIGINT) AS med2_chars,
           CAST(mad.mad4 AS BIGINT) AS mad4_chars,
           CAST(sum(CASE WHEN 2 * abs(2 * h.v - m2.med2) > {MAD_K} * mad.mad4
                    THEN h.c ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(max(abs(2 * h.v - m2.med2)) AS BIGINT) AS max_dev2
    FROM h JOIN m2 ON m2.source = h.source
           JOIN mad ON mad.source = h.source
           JOIN t ON t.source = h.source
    GROUP BY 1, 2, 3, 4
    """,
)
def length_mad_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST length-outlier gate per source — median + MAD instead of
    mean + sigma, the screen that survives the heavy-tailed length
    distributions real crawls have (one 10 MB page would drag a
    mean/sigma gate's threshold; the median doesn't move). EXACT integer
    arithmetic end to end via doubled order statistics: med2 = lower +
    upper median of n_chars (always integer, no float midpoint), per-value
    doubled deviations d2 = |2v − med2|, mad4 = doubled median of d2
    (= 4·MAD), and the gate |v − med| > {K}·MAD clears to the integer
    comparison 2·d2 > {K}·mad4 — no division, no float, identical in both
    engines. Degenerate sources (>half identical lengths → MAD 0) flag
    every deviating doc, the textbook MAD behavior, identically on both
    sides. Scale shape: order statistics come from the per-source VALUE
    HISTOGRAM (one map-side-combined aggregate; cumulative windows run
    over histogram rows — the value-domain-bounded class, never a
    per-doc global sort), then one re-aggregation of the same histogram
    against the two broadcast-size scalars per source."""
    docs = load_table(spark, "documents", sf_dir)
    h = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    t = h.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    wv = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cw = h.select("source", "v", "c", F.sum("c").over(wv).alias("cum")).join(
        F.broadcast(t), "source"
    )
    mlo = (
        cw.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("source")
        .agg(F.min("v").alias("vlo"))
    )
    mhi = (
        cw.filter(F.expr("cum >= (n + 2) div 2"))
        .groupBy("source")
        .agg(F.min("v").alias("vhi"))
    )
    m2 = mlo.join(mhi, "source").select(
        "source", (F.col("vlo") + F.col("vhi")).alias("med2")
    )
    dh = (
        h.join(F.broadcast(m2), "source")
        .groupBy("source", F.abs(F.lit(2) * F.col("v") - F.col("med2")).alias("d2"))
        .agg(F.sum("c").cast("long").alias("c"))
    )
    wd = (
        Window.partitionBy("source")
        .orderBy("d2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dw = dh.select("source", "d2", "c", F.sum("c").over(wd).alias("cum")).join(
        F.broadcast(t), "source"
    )
    alo = (
        dw.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("source")
        .agg(F.min("d2").alias("dlo"))
    )
    ahi = (
        dw.filter(F.expr("cum >= (n + 2) div 2"))
        .groupBy("source")
        .agg(F.min("d2").alias("dhi"))
    )
    mad = alo.join(ahi, "source").select(
        "source", (F.col("dlo") + F.col("dhi")).alias("mad4")
    )
    return (
        h.join(F.broadcast(m2), "source")
        .join(F.broadcast(mad), "source")
        .join(F.broadcast(t), "source")
        .groupBy("source", "n", "med2", "mad4")
        .agg(
            F.sum(
                F.when(
                    F.lit(2) * F.abs(F.lit(2) * F.col("v") - F.col("med2"))
                    > F.lit(MAD_K) * F.col("mad4"),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
            F.max(F.abs(F.lit(2) * F.col("v") - F.col("med2")))
            .cast("long")
            .alias("max_dev2"),
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("med2").cast("long").alias("med2_chars"),
            F.col("mad4").cast("long").alias("mad4_chars"),
            "n_outliers",
            "max_dev2",
        )
    )


length_mad_gate.__doc__ = length_mad_gate.__doc__.replace("{K}", str(MAD_K))


# ---------------------------------------------------------------------------
# Good-Turing count-of-counts smoothing + per-source lexical diversity
# ---------------------------------------------------------------------------

GT_MAX_R = 10  # Good-Turing only adjusts low counts; bounded output rows


@register(
    "token_good_turing",
    oracle=f"""
    WITH {_OCC_SQL},
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY tok),
    coc AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS nr
            FROM cnt GROUP BY c),
    tot AS (SELECT CAST(sum(CAST(r AS HUGEINT) * nr) AS BIGINT) AS n_tokens,
                   CAST(sum(nr) AS BIGINT) AS vocab
            FROM coc),
    n1 AS (SELECT COALESCE(CAST(sum(nr) AS BIGINT), 0) AS n1
           FROM coc WHERE r = 1),
    low AS (SELECT r, nr FROM
              (SELECT r, nr, row_number() OVER (ORDER BY r) AS rk FROM coc)
            WHERE rk <= {GT_MAX_R})
    SELECT a.r, a.nr,
           b.nr AS nr_next,
           CAST(CASE WHEN b.nr IS NULL THEN NULL
                ELSE ((a.r + 1) * b.nr * 1000000) // a.nr END AS BIGINT)
             AS r_star_micro,
           tot.n_tokens, tot.vocab,
           CAST((n1.n1 * 1000000) // tot.n_tokens AS BIGINT) AS p0_micro
    FROM low a LEFT JOIN coc b ON b.r = a.r + 1, tot, n1
    """,
)
def token_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD-TURING count-of-counts smoothing over the corpus unigram
    distribution — the estimator behind Katz backoff and the standard
    answer to "how much probability mass belongs to tokens we have NOT
    seen" (p0 = N₁/N, the missing-mass estimate a tokenizer-coverage
    monitor alerts on when a new data drop spikes it). The adjusted count
    r* = (r+1)·N_(r+1)/N_r is reported on the micro grid for the
    {GT_MAX_R} SMALLEST observed counts r (row_number on the bounded
    count-of-counts table — Good-Turing only ever adjusts the low-count
    end, and rank-of-r stays non-vacuous on dense synthetic vocabularies
    where a fixed r ≤ 10 cutoff selects nothing), with an honest NULL
    where N_(r+1) = 0 (undefined, never a silent 0 — the same reporting
    contract as the chi²-table guard). Exactness: the
    count-of-counts table is integers end-to-end; r*·10⁶ = (r+1)·N_(r+1)·
    10⁶ // N_r floor-divides non-negative operands only (Spark ``div`` ≡
    DuckDB ``//``). Scale shape: one map-side-combined token count (the
    shared persisted occurrence layer), one tiny count-of-counts aggregate
    (|distinct r| rows), a self-equi-join on r+1 on that bounded table,
    two 1-row scalar broadcasts. Nothing past the first aggregate is
    corpus-proportional."""
    occ = _doc_occurrences(spark, sf_dir)
    cnt = occ.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    coc = cnt.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("nr")
    )
    tot = coc.agg(
        F.sum(F.expr("CAST(r AS DECIMAL(38,0)) * nr")).cast("long").alias("n_tokens"),
        F.sum("nr").cast("long").alias("vocab"),
    )
    n1 = coc.filter(F.col("r") == 1).agg(
        F.coalesce(F.sum("nr"), F.lit(0)).cast("long").alias("n1")
    )
    a = (
        coc.select(
            "r", "nr", F.row_number().over(Window.orderBy("r")).alias("rk")
        )
        .filter(F.col("rk") <= GT_MAX_R)
        .select("r", "nr")
    )
    b = coc.select(F.col("r").alias("r_next"), F.col("nr").alias("nr_next"))
    return (
        a.join(F.broadcast(b), F.col("r_next") == F.col("r") + 1, "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "nr",
            "nr_next",
            F.expr(
                "CAST(CASE WHEN nr_next IS NULL THEN NULL"
                " ELSE ((r + 1) * nr_next * 1000000) div nr END AS BIGINT)"
            ).alias("r_star_micro"),
            "n_tokens",
            "vocab",
            F.expr("CAST((n1 * 1000000) div n_tokens AS BIGINT)").alias(
                "p0_micro"
            ),
        )
    )


@register(
    "source_lexical_diversity",
    oracle=f"""
    WITH {_OCC_SQL},
    os AS (SELECT d.source, o.tok
           FROM occ o JOIN documents d ON o.doc_id = d.doc_id),
    cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
            FROM os GROUP BY source, tok),
    agg AS (SELECT source,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab,
                   CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS rep2
            FROM cnt GROUP BY source)
    SELECT source, n_tokens, vocab,
           CAST((vocab * 1000000) // n_tokens AS BIGINT) AS ttr_micro,
           CAST(CASE WHEN n_tokens <= 1 THEN 0
                ELSE (rep2 * 1000000)
                     // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                END AS BIGINT) AS simpson_micro
    FROM agg
    """,
)
def source_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LEXICAL DIVERSITY: type-token ratio and SIMPSON
    concentration Σc(c-1)/(N(N-1)) — the repeat-probability that separates
    'templated/boilerplate source' (high concentration, low TTR) from
    'diverse prose' BEFORE any dedup runs; mixture planners weigh sources
    by exactly this kind of signal (complements `source_fertility_stats`
    and `vocab_zipf_slope`, which are corpus-global). Both ratios are
    cleared-denominator integer floors on the micro grid — Σc(c-1) is the
    unnormalized 2nd factorial moment, exact in HUGEINT/DECIMAL(38,0) (at
    10¹² tokens/source the product is ~10²⁴ — inside 38 digits), and all
    floor-divisions have non-negative operands (Spark ``div`` ≡ DuckDB
    ``//``). Scale shape: the doc_id→source join broadcasts the document
    dimension's 2 needed columns (or shuffles keyed at 100 TB — either
    way keyed), then ONE map-side-combined (source, tok) count and a
    |sources|-bounded rollup. No window, no pair join."""
    occ = _doc_occurrences(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    cnt = (
        occ.join(docs, "doc_id")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).alias("rep2"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        F.expr("CAST((vocab * 1000000) div n_tokens AS BIGINT)").alias(
            "ttr_micro"
        ),
        F.expr(
            "CAST(CASE WHEN n_tokens <= 1 THEN 0"
            " ELSE (CAST(rep2 AS DECIMAL(38,0)) * 1000000)"
            " div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))"
            " END AS BIGINT)"
        ).alias("simpson_micro"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon source drift + PMI collocations + Poisson bootstrap
# ---------------------------------------------------------------------------


@register(
    "source_token_js",
    oracle=f"""
    WITH {_OCC_SQL},
    src AS (SELECT doc_id, source FROM documents),
    cs AS (
      SELECT s.source, o.tok, CAST(count(*) AS BIGINT) AS c_s
      FROM occ o JOIN src s ON o.doc_id = s.doc_id
      GROUP BY s.source, o.tok
    ),
    ts AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS t_s
           FROM cs GROUP BY source),
    ct AS (SELECT tok, CAST(sum(c_s) AS BIGINT) AS c FROM cs GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ct),
    terms AS (
      SELECT cs.source, cs.c_s,
             ct.c - cs.c_s AS c_r, tot.t - ts.t_s AS t_r, ts.t_s,
             CAST(CASE WHEN tot.t - ts.t_s = 0 THEN 0
                  ELSE floor(ln((2.0 * cs.c_s * (tot.t - ts.t_s))
                           / (CAST(cs.c_s AS DOUBLE) * (tot.t - ts.t_s)
                              + CAST(ct.c - cs.c_s AS DOUBLE) * ts.t_s))
                        * 1000000 + 0.5) END AS BIGINT) AS lp_micro,
             CAST(CASE WHEN ct.c - cs.c_s = 0 THEN 0
                  ELSE floor(ln((2.0 * (ct.c - cs.c_s) * ts.t_s)
                                / (CAST(cs.c_s AS DOUBLE) * (tot.t - ts.t_s)
                                   + CAST(ct.c - cs.c_s AS DOUBLE) * ts.t_s))
                             * 1000000 + 0.5) END AS BIGINT) AS lq_micro
      FROM cs JOIN ct ON cs.tok = ct.tok
              JOIN ts ON cs.source = ts.source, tot
    ),
    qonly AS (
      SELECT ts.source, ct.c AS c_r, tot.t - ts.t_s AS t_r, ts.t_s,
             CAST(floor(ln(2.0) * 1000000 + 0.5) AS BIGINT) AS lq_micro
      FROM ts CROSS JOIN tot JOIN ct ON true
      LEFT JOIN cs ON cs.source = ts.source AND cs.tok = ct.tok
      WHERE cs.tok IS NULL
    )
    SELECT j.source, ts.t_s AS n_tokens,
           CAST(j.p_part + j.q_part + COALESCE(q.q_extra, 0) AS BIGINT)
             AS js_micro
    FROM (
      SELECT source,
             CAST(CASE WHEN sum(CAST(c_s AS HUGEINT) * lp_micro) >= 0
                  THEN sum(CAST(c_s AS HUGEINT) * lp_micro) // (2 * max(t_s))
                  ELSE -((-sum(CAST(c_s AS HUGEINT) * lp_micro))
                         // (2 * max(t_s))) END AS BIGINT) AS p_part,
             CAST(CASE WHEN max(t_r) = 0 THEN 0
                  WHEN sum(CAST(c_r AS HUGEINT) * lq_micro) >= 0
                  THEN sum(CAST(c_r AS HUGEINT) * lq_micro) // (2 * max(t_r))
                  ELSE -((-sum(CAST(c_r AS HUGEINT) * lq_micro))
                         // (2 * max(t_r))) END AS BIGINT) AS q_part
      FROM terms GROUP BY source
    ) j
    LEFT JOIN (
      SELECT source,
             CAST(sum(CAST(c_r AS HUGEINT) * lq_micro) // (2 * max(t_r))
                  AS BIGINT) AS q_extra
      FROM qonly GROUP BY source
    ) q ON q.source = j.source
    JOIN ts ON ts.source = j.source
    """,
)
def source_token_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON divergence between each source's unigram distribution
    and the REST of the corpus — the bounded, symmetric drift metric
    (`source_token_kl` diverges to ∞ when a token exists only in one side;
    JS is capped at ln 2, so a dashboard can threshold it). Decomposition:
    JS = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)) with p = source, q = rest;
    the ln argument reduces to the INTEGER ratio 2·c_s·t_r /
    (c_s·t_r + c_r·t_s), so both engines take the same double log of the
    same exact integers, micro-round per token (the `source_token_kl`
    policy: round BEFORE the weighted sum), and the weighted sums are
    HUGEINT integer aggregates divided once per source at the end in
    the TRUNCATION-SYMMETRIC form (the per-arm sums CAN be negative —
    the q-side KL splits across the seen and unseen arms — and DuckDB
    `//` floors while Spark `div` truncates; negating to non-negative
    operands first makes both engines truncate identically).
    Tokens the source never saw still contribute to the q-side: for them
    2q/(p+q) = 2 exactly, so the whole q-only mass contributes at the
    single literal ln(2) — computed as a separate anti-join arm, weighted
    by the token's rest-count (no per-token log needed). Scale shape: one
    doc_id-keyed join, one (source, tok) map-side-combined count, the
    tok-keyed margin join, and the anti-join arm on the (sources ×
    distinct-token) grid — at 100 TB the vocab-bounded tables dominate,
    never the corpus. A source equal to the whole corpus (t_r = 0) is
    fully degenerate: BOTH log arms are guarded (lq by the c_r = 0 CASE,
    lp by the t_r = 0 CASE — without it lp's ln-argument is 0/0 = NaN and
    the engines diverge, DuckDB erroring on CAST(NaN) while Spark casts
    to 0), and the per-source q-side division carries a max(t_r) = 0 → 0
    arm so a single-source corpus reports js_micro = 0 identically in
    both engines instead of an engine-dependent NULL (r9 ADVICE)."""
    occ = _doc_occurrences(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    cs = (
        occ.join(src, "doc_id")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_s"))
    )
    ts = cs.groupBy("source").agg(F.sum("c_s").cast("long").alias("t_s"))
    ct = cs.groupBy("tok").agg(F.sum("c_s").cast("long").alias("c"))
    tot = ct.agg(F.sum("c").cast("long").alias("t"))
    terms = (
        cs.join(ct, "tok")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "c_s",
            (F.col("c") - F.col("c_s")).alias("c_r"),
            (F.col("t") - F.col("t_s")).alias("t_r"),
            "t_s",
            F.expr(
                "CAST(CASE WHEN t - t_s = 0 THEN 0"
                " ELSE floor(ln((2.0 * c_s * (t - t_s))"
                " / (CAST(c_s AS DOUBLE) * (t - t_s)"
                " + CAST(c - c_s AS DOUBLE) * t_s))"
                " * 1000000 + 0.5) END AS BIGINT)"
            ).alias("lp_micro"),
            F.expr(
                "CAST(CASE WHEN c - c_s = 0 THEN 0"
                " ELSE floor(ln((2.0 * (c - c_s) * t_s)"
                " / (CAST(c_s AS DOUBLE) * (t - t_s)"
                " + CAST(c - c_s AS DOUBLE) * t_s))"
                " * 1000000 + 0.5) END AS BIGINT)"
            ).alias("lq_micro"),
        )
    )
    ln2_micro = 693147  # floor(ln(2)*1e6 + 0.5), fixed literal both sides
    qonly = (
        ct.crossJoin(F.broadcast(ts))
        .crossJoin(F.broadcast(tot))
        .join(
            cs.select("source", "tok", F.lit(1).alias("seen")),
            ["source", "tok"],
            "left",
        )
        .filter(F.col("seen").isNull())
        .select(
            "source",
            F.col("c").alias("c_r"),
            (F.col("t") - F.col("t_s")).alias("t_r"),
            "t_s",
            F.lit(ln2_micro).cast("long").alias("lq_micro"),
        )
    )
    j = terms.groupBy("source").agg(
        F.expr(
            "CAST(CASE WHEN sum(CAST(c_s AS DECIMAL(38,0)) * lp_micro) >= 0"
            " THEN sum(CAST(c_s AS DECIMAL(38,0)) * lp_micro)"
            " div (2 * max(t_s))"
            " ELSE -((-sum(CAST(c_s AS DECIMAL(38,0)) * lp_micro))"
            " div (2 * max(t_s))) END AS BIGINT)"
        ).alias("p_part"),
        F.expr(
            "CAST(CASE WHEN max(t_r) = 0 THEN 0"
            " WHEN sum(CAST(c_r AS DECIMAL(38,0)) * lq_micro) >= 0"
            " THEN sum(CAST(c_r AS DECIMAL(38,0)) * lq_micro)"
            " div (2 * max(t_r))"
            " ELSE -((-sum(CAST(c_r AS DECIMAL(38,0)) * lq_micro))"
            " div (2 * max(t_r))) END AS BIGINT)"
        ).alias("q_part"),
    )
    qx = qonly.groupBy("source").agg(
        F.expr(
            "CAST(sum(CAST(c_r AS DECIMAL(38,0)) * lq_micro)"
            " div (2 * max(t_r)) AS BIGINT)"
        ).alias("q_extra")
    )
    return (
        j.join(F.broadcast(qx), "source", "left")
        .join(F.broadcast(ts), "source")
        .select(
            "source",
            F.col("t_s").alias("n_tokens"),
            F.expr(
                "CAST(p_part + q_part + COALESCE(q_extra, 0) AS BIGINT)"
            ).alias("js_micro"),
        )
    )


PMI_MIN_COUNT = 5  # collocation support floor
PMI_TOP = 20


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH {_BG_SQL},
    cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY b),
    m1 AS (SELECT split_part(b, ' ', 1) AS w, CAST(sum(c_ab) AS BIGINT) AS c_a
           FROM cb GROUP BY 1),
    m2 AS (SELECT split_part(b, ' ', 2) AS w, CAST(sum(c_ab) AS BIGINT) AS c_b
           FROM cb GROUP BY 1),
    nn AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cb),
    pmi AS (
      SELECT cb.b AS bigram, cb.c_ab,
             CAST(floor(ln((CAST(cb.c_ab AS DOUBLE) * nn.n)
                           / (CAST(m1.c_a AS DOUBLE) * m2.c_b))
                        * 1000000 + 0.5) AS BIGINT) AS pmi_micro
      FROM cb JOIN m1 ON m1.w = split_part(cb.b, ' ', 1)
              JOIN m2 ON m2.w = split_part(cb.b, ' ', 2), nn
      WHERE cb.c_ab >= {PMI_MIN_COUNT}
    )
    SELECT bigram, c_ab, pmi_micro,
           CAST(row_number() OVER (ORDER BY pmi_micro DESC, bigram)
                AS BIGINT) AS rank
    FROM pmi
    ORDER BY pmi_micro DESC, bigram
    LIMIT {PMI_TOP}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI COLLOCATION extraction — the top-{PMI_TOP} word bigrams whose
    co-occurrence most exceeds independence, ln(c_ab·N / (c_a·c_b)): the
    classic multiword-expression detector a corpus-analysis pass runs to
    find templated phrases and named entities before tokenizer training
    (high-PMI phrases are merge candidates; `bpe_merge_steps` picks by raw
    frequency, PMI picks by ASSOCIATION — the two lists disagreeing is
    itself a signal). Margins c_a (as first word) and c_b (as second) come
    from the bigram table itself — positional unigram marginals, the
    convention that makes Σp(a,·) = 1 exact. The support floor c_ab ≥
    {PMI_MIN_COUNT} kills the PMI-loves-rare-pairs pathology. The ln runs
    on one exact integer ratio and micro-rounds per bigram (house policy);
    ranking is deterministic with the bigram text tie-break. Scale shape:
    one bigram explode (map-side-combined count), two vocab-bounded margin
    aggregates, margin joins keyed on the words, and a global top-{PMI_TOP}
    that plans as TakeOrdered (per-partition heaps — never a full sort)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.posexplode(dedup.word_tokens(F.col("text"))).alias("pos", "tok")
    )
    bg = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias("b"),
            F.lead("tok", 1).over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .select("b")
    )
    cb = bg.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    m1 = cb.groupBy(F.split_part(F.col("b"), F.lit(" "), F.lit(1)).alias("w")).agg(
        F.sum("c_ab").cast("long").alias("c_a")
    )
    m2 = cb.groupBy(F.split_part(F.col("b"), F.lit(" "), F.lit(2)).alias("w")).agg(
        F.sum("c_ab").cast("long").alias("c_b")
    )
    nn = cb.agg(F.sum("c_ab").cast("long").alias("n"))
    pmi = (
        cb.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(m1, F.split_part(F.col("b"), F.lit(" "), F.lit(1)) == F.col("w"))
        .drop("w")
        .join(m2, F.split_part(F.col("b"), F.lit(" "), F.lit(2)) == F.col("w"))
        .drop("w")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("b").alias("bigram"),
            "c_ab",
            F.expr(
                "CAST(floor(ln((CAST(c_ab AS DOUBLE) * n)"
                " / (CAST(c_a AS DOUBLE) * c_b)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("pmi_micro"),
        )
    )
    top = pmi.orderBy(F.col("pmi_micro").desc(), "bigram").limit(PMI_TOP)
    return top.select(
        "bigram",
        "c_ab",
        "pmi_micro",
        F.row_number()
        .over(Window.orderBy(F.col("pmi_micro").desc(), "bigram"))
        .cast("long")
        .alias("rank"),
    )


OOV_VOCAB_K = 256  # reference vocabulary size for the per-source OOV audit


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH {_OCC_SQL},
    os AS (SELECT d.source, o.tok
           FROM occ o JOIN documents d ON o.doc_id = d.doc_id),
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM os GROUP BY tok),
    vocab AS (
      SELECT tok FROM
        (SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rnk
         FROM cnt)
      WHERE rnk <= {OOV_VOCAB_K}
    ),
    per AS (
      SELECT os.source,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM os LEFT JOIN vocab v ON os.tok = v.tok
      GROUP BY os.source
    )
    SELECT source, n_tokens, n_oov,
           CAST((n_oov * 1000000) // n_tokens AS BIGINT) AS oov_micro
    FROM per
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OUT-OF-VOCABULARY rate against the corpus top-{OOV_VOCAB_K}
    vocabulary — the per-source granularity `vocab_coverage` (corpus-global
    coverage curve) lacks: a source whose OOV spikes against the shared
    vocab will tokenize into long byte-fallback sequences and silently eat
    the token budget (`source_fertility_stats` measures that cost AFTER
    tokenization; this predicts it BEFORE). Vocabulary selection is
    deterministic (count desc, token tie-break, row_number — never a
    ties-ambiguous LIMIT); membership is one LEFT join against the
    {OOV_VOCAB_K}-row vocab (broadcast at any corpus size) and the rate is
    an exact micro-grid integer. Scale shape: one token count (map-side
    combined), a vocab-bounded window for the top-K, one broadcast
    membership join, one |sources|-bounded rollup."""
    occ = _doc_occurrences(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    os_ = occ.join(docs, "doc_id").select("source", "tok")
    cnt = os_.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    vocab = (
        cnt.select(
            "tok",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "tok"))
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    per = (
        os_.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per.select(
        "source",
        "n_tokens",
        "n_oov",
        F.expr("CAST((n_oov * 1000000) div n_tokens AS BIGINT)").alias(
            "oov_micro"
        ),
    )


BURST_TOP = 20
BURST_MIN_DOCS = 10  # support floor: tokens seen in >= this many docs


@register(
    "token_burstiness",
    oracle=f"""
    WITH {_OCC_SQL},
    dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
           FROM occ GROUP BY doc_id, tok),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
           FROM documents WHERE length(trim(text)) > 0),
    st AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(c) AS BIGINT) AS total,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sum2
      FROM dt GROUP BY tok
    ),
    f AS (
      SELECT st.tok, st.n_docs, st.total,
             CAST((nd.n * st.sum2 - CAST(st.total AS HUGEINT) * st.total)
                  * 1000000
                  // (CAST(nd.n AS HUGEINT) * st.total) AS BIGINT)
               AS fano_micro
      FROM st, nd WHERE st.n_docs >= {BURST_MIN_DOCS}
    )
    SELECT tok, n_docs, total, fano_micro,
           CAST(row_number() OVER (ORDER BY fano_micro DESC, tok)
                AS BIGINT) AS rank
    FROM f
    ORDER BY fano_micro DESC, tok
    LIMIT {BURST_TOP}
    """,
)
def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN BURSTINESS ranking — the corpus-wide Fano factor (variance /
    mean of per-document counts, unseen docs counted as zero) per token,
    top-{BURST_TOP}: bursty tokens cluster in few documents (topical
    content words, boilerplate markers, template artifacts) while
    Fano ≈ 1 means Poisson-like background (function words). Dedup and
    boilerplate pipelines use exactly this signal to pick shingle
    stop-lists — a high-Fano token is a document-identity marker, a
    low-Fano token is noise in a fingerprint. The zero-inflated moments
    need no zero rows: over n docs, mean = T/n and E[c²] = S2/n with T, S2
    from occurrence rows only, so Fano·10⁶ clears to (n·S2 - T²)·10⁶ //
    (n·T) — non-negative (Cauchy-Schwarz on the zero-padded vector), all
    HUGEINT/DECIMAL(38,0). Support floor n_docs ≥ {BURST_MIN_DOCS} kills
    the rare-token pathology; ties break on token text. Scale shape: one
    (doc, tok) map-side-combined count, one tok-keyed moment rollup, a
    1-row doc-count broadcast, TakeOrdered top-{BURST_TOP}."""
    occ = _doc_occurrences(spark, sf_dir)
    dt = occ.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    docs = load_table(spark, "documents", sf_dir)
    nd = docs.filter(F.length(F.trim(F.col("text"))) > 0).agg(
        F.countDistinct("doc_id").cast("long").alias("n")
    )
    st = dt.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("sum2"),
    )
    f = (
        st.filter(F.col("n_docs") >= BURST_MIN_DOCS)
        .crossJoin(F.broadcast(nd))
        .select(
            "tok",
            "n_docs",
            "total",
            F.expr(
                "CAST((n * CAST(sum2 AS DECIMAL(38,0))"
                " - CAST(total AS DECIMAL(38,0)) * total) * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * total) AS BIGINT)"
            ).alias("fano_micro"),
        )
    )
    top = f.orderBy(F.col("fano_micro").desc(), "tok").limit(BURST_TOP)
    return top.select(
        "tok",
        "n_docs",
        "total",
        "fano_micro",
        F.row_number()
        .over(Window.orderBy(F.col("fano_micro").desc(), "tok"))
        .cast("long")
        .alias("rank"),
    )


HEAPS_CHECKPOINTS = 10  # vocabulary-growth curve sampled at doc-id deciles


@register(
    "vocab_heaps_law",
    oracle=f"""
    WITH {_OCC_SQL},
    mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mid FROM occ),
    tokb AS (
      SELECT CAST(((min(doc_id) - 1) * {HEAPS_CHECKPOINTS}) // mx.mid + 1
                  AS BIGINT) AS decile
      FROM occ, mx GROUP BY occ.tok, mx.mid
    ),
    vh AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_vocab
           FROM tokb GROUP BY decile),
    occb AS (
      SELECT CAST(((doc_id - 1) * {HEAPS_CHECKPOINTS}) // mx.mid + 1
                  AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS toks
      FROM occ, mx GROUP BY 1
    ),
    grid AS (SELECT unnest(generate_series(1, {HEAPS_CHECKPOINTS}))
               AS decile),
    cumul AS (
      SELECT g.decile,
             CAST(sum(COALESCE(vh.new_vocab, 0)) OVER (ORDER BY g.decile)
                  AS BIGINT) AS vocab,
             CAST(sum(COALESCE(ob.toks, 0)) OVER (ORDER BY g.decile)
                  AS BIGINT) AS n_tokens
      FROM grid g LEFT JOIN vh ON vh.decile = g.decile
                  LEFT JOIN occb ob ON ob.decile = g.decile
    ),
    pts AS (
      SELECT decile, n_tokens, vocab,
             CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS x_micro,
             CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS y_micro
      FROM cumul WHERE n_tokens > 0 AND vocab > 0
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(x_micro) AS HUGEINT) AS sx,
             CAST(sum(y_micro) AS HUGEINT) AS sy,
             CAST(sum(CAST(x_micro AS HUGEINT) * y_micro) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x_micro AS HUGEINT) * x_micro) AS HUGEINT) AS sxx
      FROM pts
    )
    SELECT pts.decile, pts.n_tokens, pts.vocab, pts.x_micro, pts.y_micro,
           CAST(CASE WHEN fit.k * fit.sxx - fit.sx * fit.sx = 0 THEN NULL
                WHEN (fit.k * fit.sxy - fit.sx * fit.sy) >= 0
                THEN ((fit.k * fit.sxy - fit.sx * fit.sy) * 1000000)
                     // (fit.k * fit.sxx - fit.sx * fit.sx)
                ELSE -((-(fit.k * fit.sxy - fit.sx * fit.sy)) * 1000000
                       // (fit.k * fit.sxx - fit.sx * fit.sx))
                END AS BIGINT) AS beta_micro
    FROM pts, fit
    """,
)
def vocab_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW vocabulary-growth fit — V(N) ≈ K·N^β sampled at
    {HEAPS_CHECKPOINTS} doc-id deciles with β from OLS on the log-log
    points: the planning number behind "how big is the vocabulary at
    100 TB" (β ≈ 0.4-0.6 for natural text; β drifting toward 1 flags
    id-heavy/synthetic content whose vocab grows linearly, resizing every
    hash structure downstream; `vocab_zipf_slope` is the frequency-side
    dual). NO per-checkpoint rescan and NO global rank: each token
    contributes exactly once at the decile of its FIRST document
    ((fdoc-1)·{HEAPS_CHECKPOINTS} // max_id + 1 — integer bucketing off a
    1-row max broadcast), token occurrences bucket the same way, and both
    curves are cumulative sums over the {HEAPS_CHECKPOINTS}-row decile
    grid. The ln points micro-round per checkpoint (house policy); the
    OLS slope clears to integer cross-products with truncation-symmetric
    division (the numerator CAN be negative on a degenerate corpus, and
    DuckDB `//` floors where Spark `div` truncates). Doc-id deciles are
    the natural ingest-order checkpoints when ids are assigned
    sequentially (ours are) — a corpus with sparse ids should checkpoint
    on ingest sequence instead. Scale shape: one (tok, min-doc)
    aggregate, one bucketed occurrence count (both map-side combined),
    then everything on the bounded grid."""
    occ = _doc_occurrences(spark, sf_dir)
    K = HEAPS_CHECKPOINTS
    mx = occ.agg(F.max("doc_id").cast("long").alias("mid"))
    tokb = (
        occ.groupBy("tok")
        .agg(F.min("doc_id").cast("long").alias("fdoc"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"CAST(((fdoc - 1) * {K}) div mid + 1 AS BIGINT)").alias(
                "decile"
            )
        )
    )
    vh = tokb.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("new_vocab")
    )
    occb = (
        occ.crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"CAST(((doc_id - 1) * {K}) div mid + 1 AS BIGINT)").alias(
                "decile"
            )
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("toks"))
    )
    grid = spark.range(1, K + 1).select(F.col("id").cast("long").alias("decile"))
    wc = Window.orderBy("decile")
    cumul = (
        grid.join(F.broadcast(vh), "decile", "left")
        .join(F.broadcast(occb), "decile", "left")
        .select(
            "decile",
            F.sum(F.coalesce(F.col("new_vocab"), F.lit(0)))
            .over(wc)
            .cast("long")
            .alias("vocab"),
            F.sum(F.coalesce(F.col("toks"), F.lit(0)))
            .over(wc)
            .cast("long")
            .alias("n_tokens"),
        )
    )
    pts = cumul.filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0)).select(
        "decile",
        "n_tokens",
        "vocab",
        F.expr(
            "CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("x_micro"),
        F.expr(
            "CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("y_micro"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x_micro").cast("decimal(38,0)").alias("sx"),
        F.sum("y_micro").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(x_micro AS DECIMAL(38,0)) * y_micro")).alias("sxy"),
        F.sum(F.expr("CAST(x_micro AS DECIMAL(38,0)) * x_micro")).alias("sxx"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "decile",
        "n_tokens",
        "vocab",
        "x_micro",
        "y_micro",
        F.expr(
            "CAST(CASE WHEN k * sxx - sx * sx = 0 THEN NULL"
            " WHEN (k * sxy - sx * sy) >= 0"
            " THEN ((k * sxy - sx * sy) * 1000000) div (k * sxx - sx * sx)"
            " ELSE -((-(k * sxy - sx * sy)) * 1000000"
            " div (k * sxx - sx * sx)) END AS BIGINT)"
        ).alias("beta_micro"),
    )


# ---------------------------------------------------------------------------
# round-10: filter funnel, Dirichlet QL ranking, gram novelty, packing waste
# ---------------------------------------------------------------------------

# Gopher-style hard-filter rules in integer form (threshold comments give
# the ratio form). Chosen so the fixture exercises the funnel: rules 1/2/3/5
# fire on the synthetic corpus; rule 4 is the punctuation gate real crawls
# need (the word-soup fixture has zero punctuation — an honest 0 row).
FUNNEL_RULES = (
    (1, "too_short", "nt < 25"),
    (2, "too_long", "nt > 80"),
    (3, "low_diversity", "2 * dt < nt"),  # distinct-token ratio < 0.5
    (4, "high_punct", "25 * punct > nc"),  # punctuation ratio > 4%
    (5, "no_stopwords", "sh = 0"),
)


def _funnel_flags_sql() -> str:
    conds = ", ".join(
        f"CASE WHEN {cond} THEN 1 ELSE 0 END AS f{no}"
        for no, _n, cond in FUNNEL_RULES
    )
    return f"""
    t AS (
      SELECT doc_id, {_TOKS} AS tk,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS punct,
             length(text) AS nc
      FROM documents
    ),
    m AS (
      SELECT doc_id, len(tk) AS nt, len(list_distinct(tk)) AS dt, punct, nc,
             len(list_intersect(tk, ['the','a','and','of','to','in','is','it',
                                     'for','on'])) AS sh
      FROM t
    ),
    fl AS (SELECT doc_id, nt, {conds} FROM m)
    """


@register(
    "quality_filter_funnel",
    oracle=f"""
    WITH {_funnel_flags_sql()},
    agg AS (
      SELECT
        {", ".join(
            f"CAST(sum(f{no}) AS BIGINT) AS fail{no},"
            f" CAST(sum(CASE WHEN f{no} = 1 AND "
            + " + ".join(f"f{o}" for o, _n, _c in FUNNEL_RULES)
            + f" = 1 THEN 1 ELSE 0 END) AS BIGINT) AS excl{no},"
            f" CAST(sum(f{no} * nt) AS BIGINT) AS tok{no}"
            for no, _n, _c in FUNNEL_RULES
        )},
        CAST(sum(CASE WHEN {" + ".join(f"f{o}" for o, _n, _c in FUNNEL_RULES)}
                 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS surv,
        CAST(sum(CASE WHEN {" + ".join(f"f{o}" for o, _n, _c in FUNNEL_RULES)}
                 = 0 THEN nt ELSE 0 END) AS BIGINT) AS survtok
      FROM fl
    )
    {" UNION ALL ".join(
        f"SELECT CAST({no} AS BIGINT) AS rule_no, '{name}' AS rule,"
        f" fail{no} AS n_docs, excl{no} AS n_docs_exclusive,"
        f" tok{no} AS n_tokens FROM agg"
        for no, name, _c in FUNNEL_RULES
    )}
    UNION ALL
    SELECT CAST(0 AS BIGINT), 'survivors', surv, surv, survtok FROM agg
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-filter FUNNEL audit — the per-rule rejection table a curation
    run prints before committing to thresholds (the Gopher/C4 rule-list
    shape): for each named rule, how many docs fail it, how many fail
    ONLY it (the rule's exclusive kill — the number that changes if you
    drop the rule), and the token mass touched; plus the survivors row.
    Exclusive counts are what `text_quality`'s blended score cannot give:
    a weighted composite hides WHICH constraint binds. All rules are
    integer predicates (ratio thresholds cleared to products), computed
    in ONE scan: a single conditional aggregate produces every count as
    one wide row, then a bounded literal pivot lays it out as rows —
    the funnel never rescans per rule. Scale shape: one scan + one 1-row
    aggregate + a 6-row projection; at 100 TB this is the cheapest audit
    in the family."""
    docs = load_table(spark, "documents", sf_dir)
    tk = dedup.word_tokens(F.col("text"))
    m = docs.select(
        "doc_id",
        F.size(tk).alias("nt"),
        F.size(F.array_distinct(tk)).alias("dt"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
        ).alias("punct"),
        F.length("text").alias("nc"),
        F.size(
            F.array_intersect(
                tk,
                F.array(
                    *[
                        F.lit(w)
                        for w in (
                            "the", "a", "and", "of", "to",
                            "in", "is", "it", "for", "on",
                        )
                    ]
                ),
            )
        ).alias("sh"),
    )
    fl = m.select(
        "nt",
        *[
            F.expr(f"CASE WHEN {cond} THEN 1 ELSE 0 END").alias(f"f{no}")
            for no, _n, cond in FUNNEL_RULES
        ],
    )
    fsum = " + ".join(f"f{no}" for no, _n, _c in FUNNEL_RULES)
    aggs = []
    for no, _name, _c in FUNNEL_RULES:
        aggs += [
            F.sum(f"f{no}").cast("long").alias(f"fail{no}"),
            F.sum(
                F.expr(f"CASE WHEN f{no} = 1 AND {fsum} = 1 THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias(f"excl{no}"),
            F.sum(F.expr(f"f{no} * nt")).cast("long").alias(f"tok{no}"),
        ]
    aggs += [
        F.sum(F.expr(f"CASE WHEN {fsum} = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("surv"),
        F.sum(F.expr(f"CASE WHEN {fsum} = 0 THEN nt ELSE 0 END"))
        .cast("long")
        .alias("survtok"),
    ]
    one = fl.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(no).cast("long").alias("rule_no"),
                F.lit(name).alias("rule"),
                F.col(f"fail{no}").alias("n_docs"),
                F.col(f"excl{no}").alias("n_docs_exclusive"),
                F.col(f"tok{no}").alias("n_tokens"),
            )
            for no, name, _c in FUNNEL_RULES
        ],
        F.struct(
            F.lit(0).cast("long").alias("rule_no"),
            F.lit("survivors").alias("rule"),
            F.col("surv").alias("n_docs"),
            F.col("surv").alias("n_docs_exclusive"),
            F.col("survtok").alias("n_tokens"),
        ),
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.rule_no", "r.rule", "r.n_docs", "r.n_docs_exclusive", "r.n_tokens"
    )


LM_MU = 2000  # Dirichlet smoothing mass (classic web-retrieval setting)


@register(
    "lm_dirichlet_ranking",
    oracle=f"""
    WITH {_OCC_SQL},
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM occ GROUP BY doc_id, tok),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM occ GROUP BY doc_id),
    ctot AS (SELECT CAST(count(*) AS BIGINT) AS ct FROM occ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
                  CAST(sum(tf) AS BIGINT) AS cf
           FROM tf GROUP BY tok),
    ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM dl),
    terms AS (
      SELECT tok, cf FROM df, ndocs WHERE df * 4 <= n_docs
      ORDER BY df DESC, tok LIMIT {BM25_N_TERMS}
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, dl.dl, terms.cf,
             CAST(floor(ln(CAST(tf.tf * ctot.ct + {LM_MU} * terms.cf
                                AS DOUBLE)
                           / (CAST(ctot.ct AS DOUBLE) * (dl.dl + {LM_MU})))
                        * 1000000 + 0.5) AS BIGINT) AS score_micro
      FROM tf JOIN terms ON tf.tok = terms.tok
              JOIN dl ON dl.doc_id = tf.doc_id, ctot
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY tok
                                   ORDER BY score_micro DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT tok, doc_id, tf, dl, cf, score_micro, rnk AS rank
    FROM ranked WHERE rnk <= {BM25_TOPK}
    """,
)
def lm_dirichlet_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRICHLET-smoothed query-likelihood ranking — the language-model
    retrieval baseline beside `bm25_doc_ranking` (the two classical
    lexical rankers; where their top-10 lists disagree is exactly where
    hybrid fusion earns its keep): score(t, d) =
    ln((tf + μ·cf_t/|C|) / (dl + μ)) with μ = {MU}. Same deterministic
    query-term selection as BM25 (top-{NT} by df among tokens in ≤ a
    quarter of docs), same shared occurrence layer, and candidates are
    docs CONTAINING the term (the standard inverted-index restriction —
    zero-tf docs score strictly below any same-length doc with the term,
    and retrieval never materializes the full doc × term grid). The ln
    argument reduces to the exact integer ratio
    (tf·|C| + μ·cf) / (|C|·(dl + μ)), so both engines take one double log
    of identical integers and micro-round once per (doc, term) — the
    `source_token_kl` policy; no other float arithmetic exists. Scale
    shape: tf/dl/df off the shared map-side-combined layer, the
    {NT}-term table broadcasts into the tf filter-join, one per-term
    top-{K} window planned as TakeOrdered-per-key over the filtered
    slice — never a global sort."""
    occ = _doc_occurrences(spark, sf_dir)
    tf = occ.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = occ.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    ctot = occ.agg(F.count(F.lit(1)).cast("long").alias("ct"))
    df_ = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    ndocs = dl.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    terms = (
        df_.crossJoin(F.broadcast(ndocs))
        .filter(F.col("df") * 4 <= F.col("n_docs"))
        .orderBy(F.col("df").desc(), "tok")
        .limit(BM25_N_TERMS)
        .select("tok", "cf")
    )
    scored = (
        tf.join(F.broadcast(terms), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(ctot))
        .select(
            "tok",
            "doc_id",
            "tf",
            "dl",
            "cf",
            F.expr(
                f"CAST(floor(ln(CAST(tf * ct + {LM_MU} * cf AS DOUBLE)"
                f" / (CAST(ct AS DOUBLE) * (dl + {LM_MU})))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("score_micro"),
        )
    )
    w = Window.partitionBy("tok").orderBy(F.col("score_micro").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("tok", "doc_id", "tf", "dl", "cf", "score_micro", "rank")
    )


lm_dirichlet_ranking.__doc__ = (
    lm_dirichlet_ranking.__doc__.replace("{MU}", str(LM_MU))
    .replace("{NT}", str(BM25_N_TERMS))
    .replace("{K}", str(BM25_TOPK))
)


NOVELTY_BUCKETS = 10  # corpus-order deciles


@register(
    "gram_novelty_curve",
    oracle=f"""
    WITH {_bloom_gram_sql()},
    mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mid FROM documents),
    db AS (SELECT g8.doc_id, g8.g,
                  CAST((g8.doc_id * {NOVELTY_BUCKETS}) // (mx.mid + 1) + 1
                       AS BIGINT) AS b
           FROM g8, mx),
    fo AS (SELECT g, CAST(min(b) AS BIGINT) AS fb FROM db GROUP BY g),
    newb AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS n_new
             FROM fo GROUP BY fb),
    occb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_occ,
                    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
             FROM db GROUP BY b),
    grid AS (SELECT unnest(generate_series(1, {NOVELTY_BUCKETS})) AS b)
    SELECT grid.b AS bucket,
           COALESCE(occb.n_occ, 0) AS n_gram_rows,
           COALESCE(occb.n_distinct, 0) AS n_distinct_grams,
           COALESCE(newb.n_new, 0) AS n_new_grams,
           CAST(sum(COALESCE(newb.n_new, 0)) OVER (ORDER BY grid.b)
                AS BIGINT) AS cum_new_grams,
           CAST(CASE WHEN COALESCE(occb.n_distinct, 0) = 0 THEN NULL
                ELSE (COALESCE(newb.n_new, 0) * 1000000)
                     // occb.n_distinct END AS BIGINT) AS novelty_micro
    FROM grid LEFT JOIN occb ON occb.b = grid.b
              LEFT JOIN newb ON newb.b = grid.b
    """,
)
def gram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-GRAM NOVELTY CURVE over corpus order — the data-valuation
    diminishing-returns diagnostic: for each corpus decile (doc_id order,
    the ingest order), what fraction of its distinct 8-grams was never
    seen in any earlier decile? `vocab_heaps_law` fits vocabulary growth
    at the TOKEN level; this measures it at the CONTENT level (8-grams
    are the dedup family's substring currency), which is what answers
    "is the tail of this crawl still contributing novel text, or are we
    paying to re-ingest boilerplate?" — the curve a mixture planner reads
    before buying more of a source. First-occurrence attribution uses the
    min-BUCKET convention (no global first-occurrence rank, no rescan —
    the Heaps-law recipe): one pass over the shared persisted gram layer
    assigns each row its bucket by pure doc_id arithmetic (non-negative
    operands, both engines truncate identically), a gram-keyed min
    aggregate finds each gram's first bucket, and everything after lives
    on the {B}-row grid. Scale shape: two map-side-combined aggregates
    over the gram layer, a bounded-grid window — no joins at corpus
    cardinality."""
    g8 = _doc_grams8(spark, sf_dir)
    mx = load_table(spark, "documents", sf_dir).agg(
        F.max("doc_id").cast("long").alias("mid")
    )
    db = g8.crossJoin(F.broadcast(mx)).select(
        "g",
        F.expr(
            f"CAST((doc_id * {NOVELTY_BUCKETS}) div (mid + 1) + 1 AS BIGINT)"
        ).alias("b"),
    )
    fo = db.groupBy("g").agg(F.min("b").alias("fb"))
    newb = fo.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    occb = db.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.countDistinct("g").cast("long").alias("n_distinct"),
    )
    grid = spark.range(1, NOVELTY_BUCKETS + 1).select(
        F.col("id").cast("long").alias("b")
    )
    wcum = Window.orderBy("b")
    return (
        grid.join(F.broadcast(occb), "b", "left")
        .join(F.broadcast(newb), "b", "left")
        .select(
            F.col("b").alias("bucket"),
            F.coalesce("n_occ", F.lit(0)).cast("long").alias("n_gram_rows"),
            F.coalesce("n_distinct", F.lit(0))
            .cast("long")
            .alias("n_distinct_grams"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new_grams"),
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("cum_new_grams"),
            F.expr(
                "CAST(CASE WHEN COALESCE(n_distinct, 0) = 0 THEN NULL"
                " ELSE (COALESCE(n_new, 0) * 1000000) div n_distinct"
                " END AS BIGINT)"
            ).alias("novelty_micro"),
        )
    )


gram_novelty_curve.__doc__ = gram_novelty_curve.__doc__.replace(
    "{B}", str(NOVELTY_BUCKETS)
)


PACK_SEQ_LEN = 2048  # target sequence length for the packing study
PACK_GRANULARITIES = (1, 2, 4, 8, 16)  # boundaries per sequence


@register(
    "packing_waste_curve",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS nt FROM documents
    ),
    grid AS (SELECT unnest(ARRAY{list(PACK_GRANULARITIES)}) AS nb),
    x AS (
      SELECT grid.nb, CAST({PACK_SEQ_LEN} / grid.nb AS BIGINT) AS g,
             CAST(least(dl.nt, {PACK_SEQ_LEN}) AS BIGINT) AS kept,
             CAST(greatest(dl.nt - {PACK_SEQ_LEN}, 0) AS BIGINT) AS trunc
      FROM dl, grid
    )
    SELECT CAST(nb AS BIGINT) AS n_buckets, g AS granularity,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS kept_tokens,
           CAST(sum(((kept + g - 1) // g) * g) AS BIGINT) AS padded_tokens,
           CAST(sum(((kept + g - 1) // g) * g) - sum(kept) AS BIGINT)
             AS pad_waste_tokens,
           CAST(sum(trunc) AS BIGINT) AS truncated_tokens,
           CAST(CASE WHEN sum(((kept + g - 1) // g) * g) = 0 THEN 0
                ELSE ((sum(((kept + g - 1) // g) * g) - sum(kept)) * 1000000)
                     // sum(((kept + g - 1) // g) * g) END AS BIGINT)
             AS waste_micro
    FROM x GROUP BY nb, g
    """,
)
def packing_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH-PACKING WASTE CURVE — padding overhead as a function of
    length-bucket granularity, the study a training-infra team runs
    before choosing between pad-to-max and fine-grained length bucketing:
    with {NB} boundaries per {S}-token sequence (granularity g = {S}/nb),
    each doc pads to the next multiple of g (integer ceil:
    (len + g − 1) div g · g) and docs beyond {S} truncate. One row per
    granularity with kept/padded/truncated token mass and the padding
    share in micro-units — `pack_documents_ffd` PLACES docs into bins;
    this prices the PADDING POLICY itself, and the two together bound
    the achievable batch efficiency. Pure integer arithmetic (ceil via
    div on non-negative operands — identical truncation both engines).
    Scale shape: ONE scan of doc lengths crossed with the
    {NB_COUNT}-row literal granularity grid (the audited bounded-literal
    BNLJ shape of `sample_poisson_bootstrap`), one map-side-combined
    aggregate per granularity — no shuffle at doc cardinality."""
    dl = load_table(spark, "documents", sf_dir).select(
        F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("nt")
    )
    grid = spark.createDataFrame(
        [(nb, PACK_SEQ_LEN // nb) for nb in PACK_GRANULARITIES],
        "nb long, g long",
    )
    x = dl.crossJoin(F.broadcast(grid)).select(
        "nb",
        "g",
        F.least(F.col("nt"), F.lit(PACK_SEQ_LEN)).alias("kept"),
        F.greatest(F.col("nt") - PACK_SEQ_LEN, F.lit(0)).alias("trunc"),
    )
    return (
        x.groupBy("nb", "g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("kept_tokens"),
            F.sum(F.expr("((kept + g - 1) div g) * g"))
            .cast("long")
            .alias("padded_tokens"),
            F.sum("trunc").cast("long").alias("truncated_tokens"),
        )
        .select(
            F.col("nb").alias("n_buckets"),
            F.col("g").alias("granularity"),
            "n_docs",
            "kept_tokens",
            "padded_tokens",
            (F.col("padded_tokens") - F.col("kept_tokens")).alias(
                "pad_waste_tokens"
            ),
            "truncated_tokens",
            F.expr(
                "CAST(CASE WHEN padded_tokens = 0 THEN 0"
                " ELSE ((padded_tokens - kept_tokens) * 1000000)"
                " div padded_tokens END AS BIGINT)"
            ).alias("waste_micro"),
        )
    )


packing_waste_curve.__doc__ = (
    packing_waste_curve.__doc__.replace("{NB_COUNT}", str(len(PACK_GRANULARITIES)))
    .replace("{NB}", "/".join(str(x) for x in PACK_GRANULARITIES))
    .replace("{S}", str(PACK_SEQ_LEN))
)


MATTR_WINDOW = 25  # moving-average TTR window (tokens)


@register(
    "text_mattr",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    m AS (
      SELECT doc_id, len(tk) AS nt,
             CASE WHEN len(tk) >= {MATTR_WINDOW} THEN
               list_sum(list_transform(
                 generate_series(1, len(tk) - {MATTR_WINDOW} + 1),
                 i -> len(list_distinct(tk[i:i+{MATTR_WINDOW - 1}]))))
             ELSE len(list_distinct(tk)) END AS dsum,
             CASE WHEN len(tk) >= {MATTR_WINDOW}
                  THEN len(tk) - {MATTR_WINDOW} + 1 ELSE 1 END AS n_windows
      FROM t WHERE len(tk) >= 1
    )
    SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(CASE WHEN nt >= {MATTR_WINDOW}
                THEN (dsum * 1000000) // (n_windows * {MATTR_WINDOW})
                ELSE (dsum * 1000000) // nt END AS BIGINT) AS mattr_micro,
           CAST(CASE WHEN nt < {MATTR_WINDOW} THEN 1 ELSE 0 END AS BIGINT)
             AS short_doc
    FROM m
    """,
)
def text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVING-AVERAGE TYPE-TOKEN RATIO (MATTR, Covington-McFall) per
    document — the LENGTH-INDEPENDENT lexical-diversity score: raw TTR
    falls mechanically with document length (Heaps' law), so comparing
    raw TTRs across lengths ranks short docs as "diverse" for free;
    MATTR averages the TTR of every {W}-token sliding window, making
    scores comparable corpus-wide (the per-document complement to the
    per-source `source_lexical_diversity`). Docs shorter than {W} tokens
    fall back to plain TTR and carry the `short_doc` flag — an honest
    degenerate arm, not a silent mix of incomparable scores. Exact
    integers end to end: the window distinct-counts sum exactly in both
    engines, and one truncating division closes each row (micro grid,
    non-negative operands). Scale shape: ZERO shuffles — the windows
    live inside each row's token array (per-row array arithmetic in one
    projection), output is one row per doc; cost is O(len·{W}) per doc
    inside the scan, the same in-row budget as the winnowing
    fingerprint pass."""
    tk = dedup.word_tokens(F.col("text"))
    W = MATTR_WINDOW
    m = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 1)
        .select(
            "doc_id",
            F.size("tk").alias("nt"),
            F.when(
                F.size("tk") >= W,
                F.aggregate(
                    F.transform(
                        F.sequence(F.lit(1), F.size("tk") - F.lit(W - 1)),
                        lambda i: F.size(
                            F.array_distinct(F.slice(F.col("tk"), i, W))
                        ),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ),
            )
            .otherwise(F.size(F.array_distinct("tk")))
            .alias("dsum"),
            F.when(F.size("tk") >= W, F.size("tk") - F.lit(W - 1))
            .otherwise(F.lit(1))
            .alias("n_windows"),
        )
    )
    return m.select(
        "doc_id",
        F.col("nt").cast("long").alias("n_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.expr(
            f"CAST(CASE WHEN nt >= {W}"
            f" THEN (dsum * 1000000) div (n_windows * {W})"
            " ELSE (dsum * 1000000) div nt END AS BIGINT)"
        ).alias("mattr_micro"),
        F.expr(
            f"CAST(CASE WHEN nt < {W} THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("short_doc"),
    )


text_mattr.__doc__ = text_mattr.__doc__.replace("{W}", str(MATTR_WINDOW))


@register(
    "benchmark_coverage_report",
    oracle=f"""
    WITH {_bloom_gram_sql()},
    bg AS (SELECT doc_id, g FROM g8 WHERE doc_id % {BENCH_MOD} = 0),
    cg AS (SELECT DISTINCT g FROM g8 WHERE doc_id % {BENCH_MOD} != 0),
    hit AS (
      SELECT bg.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN cg.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM bg LEFT JOIN cg ON cg.g = bg.g
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_grams, n_covered,
           CAST(n_covered * 1000000 // n_grams AS BIGINT) AS coverage_micro,
           CAST(CASE WHEN n_covered * 2 >= n_grams THEN 1 ELSE 0 END
                AS BIGINT) AS majority_covered
    FROM hit
    """,
)
def benchmark_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-document 8-GRAM COVERAGE by the training corpus — the
    POSITIVE complement of `benchmark_contamination`: contamination asks
    "which CORPUS docs leak benchmark text" (and drops them); coverage
    asks "how much of each BENCHMARK doc's content exists in the corpus
    at all" — the eval-validity signal (a benchmark whose grams are 90%
    covered measures memorization even after perfect decontamination,
    and one at 0% coverage tests pure generalization). One row per
    benchmark doc with its gram count, covered-gram count, the micro
    coverage share, and a majority flag. Same split convention and the
    same shared persisted gram layer as the whole decontamination
    family. Scale shape: the benchmark slice is a doc_id filter over the
    gram layer (tiny), the corpus distinct-gram side joins it on the
    gram key — at 100 TB the join is inverted-index-keyed, benchmark
    side broadcast, identical economics to the contamination sweep."""
    grams = _doc_grams8(spark, sf_dir)
    bg = grams.filter(F.col("doc_id") % BENCH_MOD == 0)
    cg = (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hit = (
        bg.join(cg, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_covered"),
        )
    )
    return hit.select(
        "doc_id",
        "n_grams",
        "n_covered",
        F.expr("CAST(n_covered * 1000000 div n_grams AS BIGINT)").alias(
            "coverage_micro"
        ),
        F.expr(
            "CAST(CASE WHEN n_covered * 2 >= n_grams THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("majority_covered"),
    )


# ---------------------------------------------------------------------------
# hapax profile — lexical-richness / noise diagnostics per source
# ---------------------------------------------------------------------------


@register(
    "source_hapax_profile",
    oracle=f"""
    WITH {_OCC_SQL},
    src AS (SELECT doc_id, source FROM documents),
    so AS (SELECT s.source, o.doc_id, o.tok FROM occ o
           JOIN src s ON s.doc_id = o.doc_id),
    tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY tok),
    loc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS lc
      FROM so GROUP BY source, tok
    ),
    per AS (
      SELECT l.source,
             CAST(sum(l.lc) AS BIGINT) AS n_occurrences,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CASE WHEN t.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corpus_hapax,
             CAST(sum(CASE WHEN l.lc = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_local_hapax
      FROM loc l JOIN tf t ON t.tok = l.tok
      GROUP BY l.source
    )
    SELECT source, n_occurrences, n_distinct, n_corpus_hapax, n_local_hapax,
           CAST(n_corpus_hapax * 1000000 // n_distinct AS BIGINT)
             AS corpus_hapax_micro,
           CAST(n_local_hapax * 1000000 // n_distinct AS BIGINT)
             AS local_hapax_micro
    FROM per
    """,
)
def source_hapax_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX-LEGOMENA PROFILE per source — the cheap lexical-noise
    diagnostic a corpus triage runs before the expensive LM statistics: a
    source whose corpus-hapax share spikes is contributing tokens nothing
    else ever says (OCR garbage, random ids, genuinely novel vocabulary —
    `gram_novelty_curve` tells WHICH by position, this tells WHERE by
    source), while the local-vs-corpus hapax GAP separates "rare here,
    common elsewhere" (topical skew) from "rare everywhere" (noise).
    Both ratios are over the source's distinct vocabulary, the standard
    hapax normalization (`vocab_heaps_law` owns the growth curve).
    Scale shape: the shared persisted occurrence layer feeds one
    token-keyed corpus count and one (source, token)-keyed local count —
    both map-side combined; the join back is token-keyed onto the local
    aggregate (distinct tokens x sources, far below occurrences); the
    final rollup lands on ~sources rows. No windows, no driver data."""
    occ = _doc_occurrences(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    so = occ.join(src, "doc_id")
    tf = occ.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    loc = so.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("lc")
    )
    per = (
        loc.join(tf, "tok")
        .groupBy("source")
        .agg(
            F.sum("lc").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_corpus_hapax"),
            F.sum(F.expr("CASE WHEN lc = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_local_hapax"),
        )
    )
    return per.select(
        "source",
        "n_occurrences",
        "n_distinct",
        "n_corpus_hapax",
        "n_local_hapax",
        F.expr("CAST(n_corpus_hapax * 1000000 div n_distinct AS BIGINT)").alias(
            "corpus_hapax_micro"
        ),
        F.expr("CAST(n_local_hapax * 1000000 div n_distinct AS BIGINT)").alias(
            "local_hapax_micro"
        ),
    )


# ---------------------------------------------------------------------------
# token-budget frontier — what the best-first corpus buys at each budget
# ---------------------------------------------------------------------------

FRONTIER_PCTS = (1, 5, 10, 25, 50)  # budgets as % of total corpus tokens


@register(
    "token_budget_frontier",
    oracle=f"""
    WITH {_QC_SCORED_CTES},
    c AS (
      SELECT q.doc_id, d.source, q.n_tokens, q.quality_micro,
             CAST(sum(q.n_tokens) OVER (
               ORDER BY q.quality_micro DESC, q.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM qscored q JOIN documents d ON d.doc_id = q.doc_id
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM c),
    g AS (SELECT * FROM (VALUES {", ".join(f"({p})" for p in FRONTIER_PCTS)})
          gg(pct)),
    j AS (
      SELECT g.pct, tot.t, c.n_tokens, c.source, c.quality_micro,
             c.cum <= tot.t * g.pct // 100 AS adm
      FROM c, tot, g
    )
    SELECT CAST(pct AS BIGINT) AS budget_pct,
           CAST(t * pct // 100 AS BIGINT) AS budget_tokens,
           CAST(sum(CASE WHEN adm THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN adm THEN n_tokens END), 0) AS BIGINT)
             AS n_tokens,
           CAST(count(DISTINCT CASE WHEN adm THEN source END) AS BIGINT)
             AS n_sources,
           CAST(CASE WHEN sum(CASE WHEN adm THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE sum(CASE WHEN adm THEN quality_micro END)
                     // sum(CASE WHEN adm THEN 1 ELSE 0 END) END AS BIGINT)
             AS mean_quality_micro,
           CAST(min(CASE WHEN adm THEN quality_micro END) AS BIGINT)
             AS frontier_quality_micro
    FROM j GROUP BY pct, t
    """,
)
def token_budget_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET FRONTIER — the planning curve a compute-bound run
    reads before `quality_curriculum` schedules batches: if only B tokens
    can be trained on, fill best-quality-first and report what each
    budget buys (docs, tokens, source diversity, mean quality) and what
    it COSTS at the margin (`frontier_quality_micro` — the worst score
    admitted; where that drops off a cliff is where extra budget stops
    paying). Budgets are {PCTS}% of total corpus tokens — self-scaling,
    so the curve bites at every SF instead of saturating. Collapsing
    source diversity at small budgets is the classic quality-filter
    failure (one clean source crowds out the rest) — `n_sources` makes it
    visible per budget. The oracle states the spec as one global token
    cumsum in (quality DESC, doc_id) order; the ENGINE computes the
    identical cumsum with the curriculum's two-pass distributed shape:
    per-bucket token cumsums keyed on the monotone range bucket
    floor(q/4096), plus broadcast per-bucket token offsets from the
    ≤245-row histogram — the corpus never crosses one reducer. The grid
    join is a broadcast of a 5-row literal × 1-row total (BNLJ-allowlist
    shape); every budget ALWAYS emits its row — a budget too small for
    even one document reports n_docs 0 with NULL quality stats (honest
    accounting), never a silently missing row."""
    scored = _quality_scored(load_table(spark, "documents", sf_dir))
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    t = scored.join(src, "doc_id").withColumn(
        "qb", F.floor(F.col("quality_micro") / F.lit(QC_RANGE_BUCKET))
    )
    wb = (
        Window.partitionBy("qb")
        .orderBy(F.col("quality_micro").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = t.withColumn("cum_b", F.sum("n_tokens").over(wb))
    btoks = t.groupBy("qb").agg(F.sum("n_tokens").alias("t_b"))
    wo = Window.orderBy(F.col("qb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = btoks.select(
        "qb", (F.sum("t_b").over(wo) - F.col("t_b")).alias("offset")
    ).crossJoin(F.broadcast(btoks.agg(F.sum("t_b").cast("long").alias("t"))))
    c = ranked.join(F.broadcast(offsets), "qb").select(
        "source",
        "n_tokens",
        "quality_micro",
        (F.col("offset") + F.col("cum_b")).cast("long").alias("cum"),
        "t",
    )
    grid = spark.createDataFrame(
        [(p,) for p in FRONTIER_PCTS], "pct long"
    )
    return (
        c.crossJoin(F.broadcast(grid))
        .withColumn("adm", F.expr("cum <= t * pct div 100"))
        .groupBy("pct", "t")
        .agg(
            F.sum(F.expr("CASE WHEN adm THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_docs"),
            F.coalesce(
                F.sum(F.expr("CASE WHEN adm THEN n_tokens END")), F.lit(0)
            )
            .cast("long")
            .alias("n_tokens"),
            F.countDistinct(F.expr("CASE WHEN adm THEN source END"))
            .cast("long")
            .alias("n_sources"),
            F.expr(
                "CAST(CASE WHEN sum(CASE WHEN adm THEN 1 ELSE 0 END) = 0"
                " THEN NULL"
                " ELSE sum(CASE WHEN adm THEN quality_micro END)"
                " div sum(CASE WHEN adm THEN 1 ELSE 0 END) END AS BIGINT)"
            ).alias("mean_quality_micro"),
            F.min(F.expr("CASE WHEN adm THEN quality_micro END"))
            .cast("long")
            .alias("frontier_quality_micro"),
        )
        .select(
            F.col("pct").alias("budget_pct"),
            F.expr("CAST(t * pct div 100 AS BIGINT)").alias("budget_tokens"),
            "n_docs",
            "n_tokens",
            "n_sources",
            "mean_quality_micro",
            "frontier_quality_micro",
        )
    )


token_budget_frontier.__doc__ = token_budget_frontier.__doc__.replace(
    "{PCTS}", "/".join(str(p) for p in FRONTIER_PCTS)
)


# ---------------------------------------------------------------------------
# contamination by source — WHICH source leaks eval data
# ---------------------------------------------------------------------------


def _contam_by_source_oracle() -> str:
    return f"""
    WITH contam AS (SELECT doc_id FROM ({REGISTRY["benchmark_contamination"].oracle})),
    corpus AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_toks
      FROM documents WHERE doc_id % {BENCH_MOD} != 0
    )
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(sum(c.n_toks) AS BIGINT) AS total_tokens,
           CAST(coalesce(sum(c.n_toks)
                         FILTER (WHERE k.doc_id IS NOT NULL), 0) AS BIGINT)
             AS contaminated_tokens,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS doc_rate_micro,
           CAST(coalesce(sum(c.n_toks)
                         FILTER (WHERE k.doc_id IS NOT NULL), 0)
                * 1000000 // sum(c.n_toks) AS BIGINT) AS token_rate_micro
    FROM corpus c LEFT JOIN contam k ON k.doc_id = c.doc_id
    GROUP BY c.source
    """


@register("contamination_by_source", oracle=_contam_by_source_oracle())
def contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAMINATION ATTRIBUTION — `benchmark_contamination` lists the
    leaked docs; this answers the procurement question: WHICH source is
    doing the leaking, by doc rate and (the one that matters for training
    mix) token rate. A source with a high token rate is scraping the eval
    suites' provenance — the fix is upstream (drop or re-filter the
    source), not per-doc; a uniform low rate is benchmark text diffusing
    everywhere and argues for the n-gram gate staying on the ingest path
    (`contamination_bloom_prefilter` / the capstone's decontam stage).
    Benchmark docs themselves (the {MOD}-modulo split) are excluded from
    every denominator — a source hosting the benchmark is not
    "contaminated by" it. Composes the registered member (engine calls
    it off the shared gram layer, oracle interpolates its SQL). Scale
    shape: one doc-keyed LEFT join of the corpus projection onto the
    member's matched-doc set, one source rollup; rates are multiply-
    before-one-floor-division micros."""
    from postgres_cdc_example_spark.operators.dedup import word_tokens

    corpus = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % BENCH_MOD != 0)
        .select(
            "doc_id",
            "source",
            F.size(word_tokens(F.col("text"))).cast("long").alias("n_toks"),
        )
    )
    contam = (
        REGISTRY["benchmark_contamination"]
        .fn(spark, sf_dir)
        .select("doc_id", F.lit(1).alias("ct"))
    )
    return (
        corpus.join(contam, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.expr("CASE WHEN ct IS NOT NULL THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_contaminated"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.coalesce(
                F.sum(F.expr("CASE WHEN ct IS NOT NULL THEN n_toks END")),
                F.lit(0),
            )
            .cast("long")
            .alias("contaminated_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN ct IS NOT NULL THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("doc_rate_micro"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN ct IS NOT NULL THEN n_toks END),"
                " 0) * 1000000 div sum(n_toks) AS BIGINT)"
            ).alias("token_rate_micro"),
        )
    )


contamination_by_source.__doc__ = contamination_by_source.__doc__.replace(
    "{MOD}", str(BENCH_MOD)
)


# ---------------------------------------------------------------------------
# Jelinek-Mercer lambda grid — held-out smoothing selection
# ---------------------------------------------------------------------------

JM_HELD_MOD = 5  # doc_id % 5 == 0 -> held-out split for lambda selection
JM_LAMBDAS = ((100000, "0.1"), (300000, "0.3"), (500000, "0.5"),
              (700000, "0.7"), (900000, "0.9"))


@register(
    "text_jm_lambda_grid",
    oracle=f"""
    WITH occ_all AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM occ_all),
    cu AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM occ_all
           WHERE doc_id % {JM_HELD_MOD} != 0 GROUP BY tok),
    tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM cu),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents),
           unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS u(i)
    ),
    cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM bg
            WHERE doc_id % {JM_HELD_MOD} != 0 GROUP BY w1, w2),
    ca AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY w1),
    g AS (SELECT * FROM (VALUES {", ".join(
        f"(CAST({m} AS BIGINT), CAST({lit} AS DOUBLE))"
        for m, lit in JM_LAMBDAS)}) gg(lam_micro, lam)),
    held AS (
      SELECT b.w1, b.w2,
             CASE WHEN ca.c_a IS NULL THEN CAST(0 AS DOUBLE)
                  ELSE CAST(coalesce(cab.c_ab, 0) AS DOUBLE) / ca.c_a
             END AS pb,
             CAST(coalesce(cu.c, 0) + 1 AS DOUBLE) / (tt.t + v.v) AS pu
      FROM bg b
      LEFT JOIN cab ON cab.w1 = b.w1 AND cab.w2 = b.w2
      LEFT JOIN ca ON ca.w1 = b.w1
      LEFT JOIN cu ON cu.tok = b.w2
      CROSS JOIN tt CROSS JOIN v
      WHERE b.doc_id % {JM_HELD_MOD} = 0
    ),
    scored AS (
      SELECT g.lam_micro,
             CAST(floor(ln(1.0 / (g.lam * h.pb + (1.0 - g.lam) * h.pu))
                        * 1000000 + 0.5) AS BIGINT) AS lp_micro
      FROM held h, g
    ),
    per AS (
      SELECT lam_micro,
             CAST(count(*) AS BIGINT) AS n_held_bigrams,
             CAST(sum(lp_micro) AS BIGINT) AS nll_micro_sum,
             CAST(floor(CAST(sum(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
               AS mean_nll_micro
      FROM scored GROUP BY lam_micro
    )
    SELECT lam_micro AS lambda_micro, n_held_bigrams, nll_micro_sum,
           mean_nll_micro,
           CAST(CASE WHEN row_number() OVER (ORDER BY mean_nll_micro,
                                             lam_micro) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM per
    """,
)
def text_jm_lambda_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JELINEK-MERCER SMOOTHING SELECTION on a held-out split — completes
    the LM-smoothing family (add-one unigram/bigram, Kneser-Ney,
    Dirichlet QL are all FIXED policies; JM's interpolation weight is the
    one knob that must be FIT, and fitting it on training perplexity
    silently picks λ=1): per λ in the {NL}-point grid, the held-out
    (doc_id % {HM} == 0) bigram NLL under λ·P_bigram + (1−λ)·P_unigram
    trained on the REST, with `is_best` marking the argmin — the number a
    retrieval/filter stack should copy instead of defaulting to 0.5.
    P_bigram is the train MLE (0 for unseen histories — exactly what
    interpolation exists to rescue); P_unigram is add-one over the full
    vocabulary so every target token has mass. The interpolated
    probability is evaluated in IEEE doubles identically in both engines
    and the log micro-rounds BEFORE the sums (the `text_unigram_nll`
    recipe). Scale shape: two (token[-pair])-keyed map-side-combined
    train counts (vocab-bounded — they broadcast), the held bigrams join
    them keyed, a 5-row literal λ grid fanout, a 5-row rollup + rank
    window. Never a self-join."""
    docs = load_table(spark, "documents", sf_dir)
    occ_all = _doc_occurrences(spark, sf_dir)
    v = occ_all.agg(F.countDistinct("tok").cast("long").alias("v"))
    cu = (
        occ_all.filter(F.col("doc_id") % JM_HELD_MOD != 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tt = cu.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("t"))
    bg = (
        docs.select("doc_id", dedup.word_tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i-1] AS w1, tk[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    cab = (
        bg.filter(F.col("doc_id") % JM_HELD_MOD != 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    ca = cab.groupBy("w1").agg(F.sum("c_ab").cast("long").alias("c_a"))
    held = (
        bg.filter(F.col("doc_id") % JM_HELD_MOD == 0)
        .join(cab, ["w1", "w2"], "left")
        .join(ca, "w1", "left")
        .join(cu.withColumnRenamed("tok", "w2").withColumnRenamed("c", "cu_c"),
              "w2", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(v))
        .select(
            F.expr(
                "CASE WHEN c_a IS NULL THEN CAST(0.0 AS DOUBLE)"
                " ELSE CAST(coalesce(c_ab, 0) AS DOUBLE) / c_a END"
            ).alias("pb"),
            F.expr(
                "CAST(coalesce(cu_c, 0) + 1 AS DOUBLE) / (t + v)"
            ).alias("pu"),
        )
    )
    grid = spark.createDataFrame(
        [(m, float(lit)) for m, lit in JM_LAMBDAS],
        "lam_micro long, lam double",
    )
    scored = held.crossJoin(F.broadcast(grid)).select(
        "lam_micro",
        F.floor(
            F.log(1.0 / (F.col("lam") * F.col("pb")
                         + (F.lit(1.0) - F.col("lam")) * F.col("pu")))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lp_micro"),
    )
    per = scored.groupBy("lam_micro").agg(
        F.count(F.lit(1)).cast("long").alias("n_held_bigrams"),
        F.sum("lp_micro").cast("long").alias("nll_micro_sum"),
    ).select(
        "lam_micro",
        "n_held_bigrams",
        "nll_micro_sum",
        F.floor(
            F.col("nll_micro_sum").cast("double") / F.col("n_held_bigrams")
        )
        .cast("long")
        .alias("mean_nll_micro"),
    )
    wr = Window.orderBy("mean_nll_micro", "lam_micro")
    return (
        per.withColumn("rn", F.row_number().over(wr))
        .select(
            F.col("lam_micro").alias("lambda_micro"),
            "n_held_bigrams",
            "nll_micro_sum",
            "mean_nll_micro",
            F.expr("CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT)").alias(
                "is_best"
            ),
        )
    )


text_jm_lambda_grid.__doc__ = text_jm_lambda_grid.__doc__.replace(
    "{NL}", str(len(JM_LAMBDAS))
).replace("{HM}", str(JM_HELD_MOD))


# ---------------------------------------------------------------------------
# LM-perplexity outlier fences (r12)
# ---------------------------------------------------------------------------


@register(
    "doc_nll_outlier_fences",
    oracle=f"""
    WITH nll AS ({{NLL}}),
    s AS (
      SELECT d.source, nll.mean_nll_micro AS v
      FROM nll JOIN documents d ON d.doc_id = nll.doc_id
    ),
    h AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
          FROM s GROUP BY source, v),
    cumh AS (
      SELECT source, v, c,
             sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
      FROM h
    ),
    q1 AS (SELECT source, CAST(min(v) AS BIGINT) AS q1
           FROM cumh WHERE cum * 4 >= n GROUP BY source),
    q3 AS (SELECT source, CAST(min(v) AS BIGINT) AS q3
           FROM cumh WHERE cum * 4 >= 3 * n GROUP BY source),
    f AS (
      SELECT q1.source, q1.q1, q3.q3,
             5 * q1.q1 - 3 * q3.q3 AS lo_x2,
             5 * q3.q3 - 3 * q1.q1 AS hi_x2
      FROM q1 JOIN q3 ON q1.source = q3.source
    )
    SELECT f.source, CAST(max(cumh.n) AS BIGINT) AS n_docs,
           f.q1 AS q1_nll_micro, f.q3 AS q3_nll_micro, f.lo_x2, f.hi_x2,
           CAST(sum(CASE WHEN 2 * cumh.v < f.lo_x2
                         THEN cumh.c ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN 2 * cumh.v > f.hi_x2
                         THEN cumh.c ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN 2 * cumh.v > f.hi_x2
                         THEN cumh.c ELSE 0 END) * 1000000
                // max(cumh.n) AS BIGINT) AS high_share_micro
    FROM cumh JOIN f ON f.source = cumh.source
    GROUP BY f.source, f.q1, f.q3, f.lo_x2, f.hi_x2
    """.replace("{NLL}", REGISTRY["text_unigram_nll"].oracle),
)
def doc_nll_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-PERPLEXITY OUTLIER FENCES per source — the robust companion to
    ``perplexity_bucket_plan`` (CCNet partitions the middle of the NLL
    distribution; production filters also want the TAILS: docs whose
    unigram NLL sits above the Tukey upper fence are the
    gibberish/boilerplate candidates, below the lower fence the
    suspiciously-templated ones). Composes the REGISTERED
    ``text_unigram_nll`` member (engine calls the fn off the shared
    occurrence layer; oracle interpolates its SQL — the capstone
    discipline, so the two can never drift) and applies the
    ``supplier_acctbal_outlier_fences`` integer recipe keyed by source:
    quartiles from a per-source cumulative histogram (q = min value with
    4·cum ≥ k·n — exact order statistics, no interpolation), fences
    DOUBLED so 1.5·IQR stays integer (lo_x2 = 5q1−3q3, hi_x2 = 5q3−3q1),
    tail counts by histogram weight, share micro-floored (non-negative,
    ``div`` ≡ ``//``). Scale shape: the member's two corpus passes, then
    everything on the per-source distinct-NLL histogram (≤ docs rows);
    one source-keyed window pair sharing a single exchange."""
    nll = REGISTRY["text_unigram_nll"].fn(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    s = nll.join(docs, "doc_id").select(
        "source", F.col("mean_nll_micro").alias("v")
    )
    h = s.groupBy("source", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.partitionBy("source").orderBy("v")
    wn = Window.partitionBy("source")
    cumh = h.select(
        "source", "v", "c",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    q1 = cumh.filter(F.col("cum") * 4 >= F.col("n")).groupBy("source").agg(
        F.min("v").cast("long").alias("q1")
    )
    q3 = (
        cumh.filter(F.col("cum") * 4 >= 3 * F.col("n"))
        .groupBy("source")
        .agg(F.min("v").cast("long").alias("q3"))
    )
    f = q1.join(q3, "source").select(
        "source", "q1", "q3",
        (5 * F.col("q1") - 3 * F.col("q3")).alias("lo_x2"),
        (5 * F.col("q3") - 3 * F.col("q1")).alias("hi_x2"),
    )
    return (
        cumh.join(F.broadcast(f), "source")
        .groupBy("source", "q1", "q3", "lo_x2", "hi_x2")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.sum(
                F.when(2 * F.col("v") < F.col("lo_x2"), F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(2 * F.col("v") > F.col("hi_x2"), F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("n_high"),
        )
        .select(
            "source",
            "n_docs",
            F.col("q1").alias("q1_nll_micro"),
            F.col("q3").alias("q3_nll_micro"),
            "lo_x2",
            "hi_x2",
            "n_low",
            "n_high",
            F.expr(
                "CAST(n_high * 1000000 div n_docs AS BIGINT)"
            ).alias("high_share_micro"),
        )
    )


# ---------------------------------------------------------------------------
# lexical-ranker agreement audit (r12)
# ---------------------------------------------------------------------------


def _rank_agreement_oracle() -> str:
    return f"""
    WITH b AS (SELECT tok, doc_id, rank AS rb
               FROM ({REGISTRY["bm25_doc_ranking"].oracle})),
    q AS (SELECT tok, doc_id, rank AS rq
          FROM ({REGISTRY["lm_dirichlet_ranking"].oracle})),
    common AS (
      SELECT b.tok, b.doc_id, b.rb, q.rq
      FROM b JOIN q ON q.tok = b.tok AND q.doc_id = b.doc_id
    ),
    m AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_common
          FROM common GROUP BY tok),
    pairs AS (
      SELECT x.tok,
             CAST(sum(CASE WHEN (x.rb - y.rb) * (x.rq - y.rq) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c_pairs,
             CAST(sum(CASE WHEN (x.rb - y.rb) * (x.rq - y.rq) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d_pairs
      FROM common x JOIN common y
        ON y.tok = x.tok AND x.doc_id < y.doc_id
      GROUP BY x.tok
    ),
    toks AS (SELECT DISTINCT tok FROM b)
    SELECT toks.tok,
           COALESCE(m.n_common, 0) AS n_common,
           CAST(COALESCE(m.n_common, 0) * 100000 AS BIGINT)
             AS overlap_micro,
           COALESCE(p.c_pairs, 0) AS c_pairs,
           COALESCE(p.d_pairs, 0) AS d_pairs,
           CAST(CASE WHEN COALESCE(m.n_common, 0) < 2 THEN NULL
                ELSE floor(CAST(p.c_pairs - p.d_pairs AS DOUBLE)
                           / (m.n_common * (m.n_common - 1) / 2)
                           * 1000000 + 0.5) END AS BIGINT) AS tau_micro
    FROM toks LEFT JOIN m ON m.tok = toks.tok
              LEFT JOIN pairs p ON p.tok = toks.tok
    ORDER BY toks.tok
    """


@register("retrieval_rank_agreement", oracle=_rank_agreement_oracle())
def retrieval_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL-RANKER AGREEMENT audit — per query term, how much do the
    two classical rankers (BM25 and Dirichlet query likelihood) agree on
    the head? Top-10 overlap plus Kendall τ over the docs BOTH rank
    (τ from the common set's two rank columns: row_number ranks are
    tie-free, so τ = (C−D)/(m(m−1)/2) exactly) — the measurement that
    decides whether hybrid fusion (``hybrid_rank_fusion``) can add
    anything: τ → 1 means the rankers are redundant, low τ with decent
    overlap is exactly where RRF earns its keep. Composes the two
    REGISTERED members (engine calls the fns, oracle interpolates their
    SQL — zero drift possible); the pair enumeration is bounded by
    construction (m ≤ 10 ⇒ ≤ 45 pairs per term, an equi-join on tok).
    τ uses the sign-safe one-IEEE-division micro rounding (C−D may be
    negative; ``div``/``//`` diverge on negatives — the
    ``value_location_mannwhitney`` recipe), and m < 2 reports an honest
    NULL. Overlap is exact micro (n_common/10). Scale shape: the
    members' shared-layer cost dominates; the audit adds one bounded
    join + one ≤45-row-per-term pair rollup."""
    # r12: cut both bounded intermediates ONCE (lazy localCheckpoint —
    # materialized on first use, then shared by every later consumer;
    # ≤ 10 docs × |terms| rows each). ``b`` feeds two consumers and
    # ``common`` three; without the cut each consumer re-executed the full
    # BM25/QL member DAGs — the profiler measured 94 AQE stage jobs per
    # run and up to ~2× run-to-run swings from the re-executed members.
    b = (
        REGISTRY["bm25_doc_ranking"]
        .fn(spark, sf_dir)
        .select("tok", "doc_id", F.col("rank").alias("rb"))
        .localCheckpoint(eager=False)
    )
    qq = REGISTRY["lm_dirichlet_ranking"].fn(spark, sf_dir).select(
        "tok", "doc_id", F.col("rank").alias("rq")
    )
    common = (
        b.join(
            qq.withColumnRenamed("tok", "q_tok").withColumnRenamed(
                "doc_id", "q_doc"
            ),
            (F.col("tok") == F.col("q_tok"))
            & (F.col("doc_id") == F.col("q_doc")),
        )
        .select("tok", "doc_id", "rb", "rq")
        .localCheckpoint(eager=False)
    )
    m = common.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    x = common.select(
        F.col("tok").alias("p_tok"), F.col("doc_id").alias("da"),
        F.col("rb").alias("rba"), F.col("rq").alias("rqa"),
    )
    y = common.select(
        F.col("tok").alias("p_tok"), F.col("doc_id").alias("db"),
        F.col("rb").alias("rbb"), F.col("rq").alias("rqb"),
    )
    pairs = (
        x.join(y, "p_tok")
        .filter(F.col("da") < F.col("db"))
        .groupBy("p_tok")
        .agg(
            F.sum(
                F.when(
                    (F.col("rba") - F.col("rbb"))
                    * (F.col("rqa") - F.col("rqb"))
                    > 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("c_pairs"),
            F.sum(
                F.when(
                    (F.col("rba") - F.col("rbb"))
                    * (F.col("rqa") - F.col("rqb"))
                    < 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("d_pairs"),
        )
    )
    toks = b.select("tok").distinct()
    return (
        toks.join(m, "tok", "left")
        .join(pairs, F.col("tok") == F.col("p_tok"), "left")
        .select(
            "tok",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (F.coalesce("n_common", F.lit(0)) * 100_000)
            .cast("long")
            .alias("overlap_micro"),
            F.coalesce("c_pairs", F.lit(0)).cast("long").alias("c_pairs"),
            F.coalesce("d_pairs", F.lit(0)).cast("long").alias("d_pairs"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_common, 0) < 2 THEN NULL"
                " ELSE floor(CAST(c_pairs - d_pairs AS DOUBLE)"
                " / (n_common * (n_common - 1) / 2)"
                " * 1000000 + 0.5) END AS BIGINT)"
            ).alias("tau_micro"),
        )
        .orderBy("tok")
    )
