"""Large-scale training-data extension queries (SURVEY.md §7.2 step 7).

Dedup / similarity-search / text-analysis / multimodal operators over the
``documents`` and ``embeddings`` fixtures, each with a DuckDB oracle that
reproduces the Spark values bit-for-bit (hashes are md5 hex; ratios are
either integer micro-units or 6-dp-rounded doubles computed in the same
operation order).

The reference has no extension surface (SURVEY.md §2.8) — these are the
capabilities a 100 TB training-data pipeline needs on top of CDC parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.layers import layer
from postgres_cdc_example_spark.operators import (
    dedup,
    hints,
    multimodal,
    similarity,
    skew,
    text,
)
from postgres_cdc_example_spark.queries import register
from postgres_cdc_example_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared oracle fragments
# ---------------------------------------------------------------------------

_TOKS = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')"
_NORM = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"


def _occ(padded: str, phrase: str) -> str:
    """Occurrence count via the replace-length trick (text.occurrence_count)."""
    return (
        f"CAST((length({padded}) - length(replace({padded}, '{phrase}', '')))"
        f" / {len(phrase)} AS INT)"
    )


def _nib(h: str, k: int) -> str:
    """Hex-nibble value via ascii arithmetic (dedup._hex_nibble)."""
    a = f"ascii(substr({h}, {k}, 1))"
    return f"({a} - 48 - CASE WHEN {a} >= 97 THEN 39 ELSE 0 END)"


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS tk, length(text) AS nc,
             length(regexp_replace(text, '\\s+', '', 'g')) AS ns
      FROM documents
    )
    SELECT doc_id, len(tk) AS n_tokens, nc AS n_chars_measured,
           ns AS n_nonspace_chars,
           CAST(ceil(ns / 4) AS BIGINT) AS n_subword_est,
           round(ns / greatest(len(tk), 1), 4) AS avg_token_len
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword estimate — narrow
    projection, zero shuffles, all inside whole-stage codegen."""
    return text.token_stats(load_table(spark, "documents", sf_dir))


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS tk,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
      FROM documents
    ), r AS (
      SELECT doc_id, length(text) AS nc,
             punct / greatest(length(text), 1) AS punct_ratio,
             len(list_distinct(tk)) / greatest(len(tk), 1) AS distinct_ratio,
             len(list_intersect(tk, ['the','a','and','of','to','in','is','it','for','on'])) AS stop_hits,
             least(length(text) / 400.0::DOUBLE, 1.0::DOUBLE) AS length_score
      FROM t
    )
    SELECT doc_id, nc AS n_chars_measured,
           round(punct_ratio, 6) AS punct_ratio,
           round(distinct_ratio, 6) AS distinct_token_ratio,
           stop_hits AS stopword_hits,
           round(0.4::DOUBLE * length_score + 0.3::DOUBLE * distinct_ratio
                 + 0.2::DOUBLE * (1.0::DOUBLE - least(punct_ratio * 10, 1.0::DOUBLE))
                 + 0.1::DOUBLE * least(stop_hits / 5.0::DOUBLE, 1.0::DOUBLE), 6) AS quality
    FROM r
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length / punctuation / stopword / repetition) — the
    cheap corpus pre-filter, pure column arithmetic."""
    return text.quality_score(load_table(spark, "documents", sf_dir))


def _lang_oracle(src: str = "documents") -> str:
    pads = "(' ' || lower(text) || ' ')"
    cols = []
    for lang, markers in text.LANG_MARKERS.items():
        total = " + ".join(_occ(pads, m) for m in markers)
        cols.append(f"({total}) AS hits_{lang}")
    return f"""
    WITH c AS (SELECT doc_id, {", ".join(cols)} FROM {src})
    SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
           CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
                WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
                WHEN hits_fr >= hits_es THEN 'fr'
                ELSE 'es' END AS detected_lang
    FROM c
    """


@register("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-phrase counting (n-gram-profile shape, built-ins
    only; the when-chain tie-break order matches the oracle CASE exactly)."""
    return text.lang_id(load_table(spark, "documents", sf_dir))


# --- deterministic foreign-text injection (language eval test vectors) -------
#
# The fixture's text is English-ish under EVERY lang label, so the language
# eval surface was vacuous (all-'en' confusion matrix, zero code-switch
# flags). The fix is the ``pii_redaction_audit`` pattern applied to
# language: doc_id-keyed slices get deterministic marker blocks — built
# from the DETECTOR'S OWN vocabulary (``text.LANG_MARKERS``) so eval and
# detector cannot drift — PREPENDED (whole-doc language flips, labeled
# ground truth by construction) or APPENDED (the tail flips -> genuine
# code-switching for the half-split detector). Identical string
# construction is interpolated into both engines.

_INJ_MOD = 17
_INJ_PREPEND = {3: "de", 5: "fr", 7: "es"}  # doc_id % _INJ_MOD -> language
_INJ_APPEND_SLOT = 9  # doc_id % _INJ_MOD == 9 -> foreign tail (code-switch)
_INJ_APPEND_LANG = "de"
_INJ_REPS = 40  # marker-block repetitions: dominates any <=100-token doc


def _inj_block(lang: str) -> str:
    words = " ".join(m.strip() for m in text.LANG_MARKERS[lang])
    return " ".join([words] * _INJ_REPS)


def _injected_docs(docs: DataFrame) -> DataFrame:
    """The injected eval corpus: (doc_id, text, lang) with the prepend
    slices' text foreign-dominated and their lang OVERRIDDEN to the
    injected language (ground truth by construction), plus the append
    slice's foreign tail (label unchanged — the doc genuinely starts
    English and ends foreign)."""
    mod = F.col("doc_id") % _INJ_MOD
    t = F.col("text")
    lang = F.col("lang")
    for slot, lg in _INJ_PREPEND.items():
        t = F.when(mod == slot, F.concat(F.lit(_inj_block(lg) + " "), F.col("text"))).otherwise(t)
        lang = F.when(mod == slot, F.lit(lg)).otherwise(lang)
    t = F.when(
        mod == _INJ_APPEND_SLOT,
        F.concat(F.col("text"), F.lit(" " + _inj_block(_INJ_APPEND_LANG))),
    ).otherwise(t)
    return docs.select("doc_id", t.alias("text"), lang.alias("lang"))


def _injected_docs_sql() -> str:
    """`docs_inj` CTE body — the oracle twin of :func:`_injected_docs`.
    Interpolating it as ``WITH docs_inj AS (...)`` lets the registered
    detector SQL run over the injected corpus by passing ``src='docs_inj'``
    to the oracle builders (CTE shadows compose, definitions stay single-
    sourced). The marker blocks are interpolated into single-quoted SQL
    literals, so they must stay quote-free — asserted here, because a
    natural French/Spanish marker with an apostrophe (" l'") would
    silently break the oracle."""
    for _lg in list(_INJ_PREPEND.values()) + [_INJ_APPEND_LANG]:
        assert "'" not in _inj_block(_lg), (
            f"LANG_MARKERS[{_lg!r}] contains a single quote; escape it "
            "(replace \"'\" with \"''\") before interpolating into SQL"
        )
    pre_txt = " ".join(
        f"WHEN doc_id % {_INJ_MOD} = {slot} THEN '{_inj_block(lg)} ' || text"
        for slot, lg in _INJ_PREPEND.items()
    )
    pre_lang = " ".join(
        f"WHEN doc_id % {_INJ_MOD} = {slot} THEN '{lg}'"
        for slot, lg in _INJ_PREPEND.items()
    )
    tail = _inj_block(_INJ_APPEND_LANG)
    return f"""
      SELECT doc_id,
             CASE {pre_txt}
                  WHEN doc_id % {_INJ_MOD} = {_INJ_APPEND_SLOT}
                    THEN text || ' {tail}'
                  ELSE text END AS text,
             CASE {pre_lang} ELSE lang END AS lang
      FROM documents
    """


def _mixed_lang_oracle(src: str = "documents") -> str:
    halves = {
        "a": "substr(text, 1, CAST(floor(length(text) / 2) AS INT))",
        "b": "substr(text, CAST(floor(length(text) / 2) AS INT) + 1, length(text))",
    }
    cols = []
    for side, half in halves.items():
        pads = f"(' ' || lower({half}) || ' ')"
        for lang, markers in text.LANG_MARKERS.items():
            total = " + ".join(_occ(pads, m) for m in markers)
            cols.append(f"({total}) AS {side}_{lang}")

    def case(side: str) -> str:
        s = side
        return f"""CASE WHEN {s}_en >= {s}_de AND {s}_en >= {s}_fr AND {s}_en >= {s}_es THEN 'en'
                WHEN {s}_de >= {s}_fr AND {s}_de >= {s}_es THEN 'de'
                WHEN {s}_fr >= {s}_es THEN 'fr'
                ELSE 'es' END"""

    return f"""
    WITH c AS (SELECT doc_id, {", ".join(cols)} FROM {src}),
    d AS (SELECT doc_id, {case("a")} AS lang_first, {case("b")} AS lang_second FROM c)
    SELECT doc_id, lang_first, lang_second,
           lang_first != lang_second AS is_mixed
    FROM d
    """


def _half_split_langs(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_first, lang_second, is_mixed): language-ID each HALF
    of the document (char midpoint split) with the same marker-phrase
    counter and tie-break as ``text_lang_id`` — the shared core of the
    ``text_mixed_language`` gate and the injection audit."""
    h1 = F.expr("substring(text, 1, CAST(floor(length(text) / 2) AS INT))")
    h2 = F.expr(
        "substring(text, CAST(floor(length(text) / 2) AS INT) + 1, length(text))"
    )
    # 1-element explode = a Generate barrier: the half substrings become
    # ATTRIBUTES instead of being re-inlined into all 24 marker counts by
    # projection collapse (the inlined form blows the janino method limit
    # and de-codegens the whole gate). Still zero shuffle, still one pass.
    halved = docs.select(
        "doc_id",
        F.explode(F.array(F.struct(h1.alias("ha"), h2.alias("hb")))).alias("h"),
    ).select("doc_id", F.col("h.ha").alias("ha"), F.col("h.hb").alias("hb"))

    def detect(half: F.Column) -> F.Column:
        padded = F.concat(F.lit(" "), F.lower(half), F.lit(" "))
        counts = {
            lang: sum(
                (text.occurrence_count(padded, m) for m in markers[1:]),
                text.occurrence_count(padded, markers[0]),
            )
            for lang, markers in text.LANG_MARKERS.items()
        }
        en, de, fr, es = counts["en"], counts["de"], counts["fr"], counts["es"]
        return (
            F.when((en >= de) & (en >= fr) & (en >= es), "en")
            .when((de >= fr) & (de >= es), "de")
            .when(fr >= es, "fr")
            .otherwise("es")
        )

    return halved.select(
        "doc_id",
        detect(F.col("ha")).alias("lang_first"),
        detect(F.col("hb")).alias("lang_second"),
    ).select(
        "doc_id",
        "lang_first",
        "lang_second",
        (F.col("lang_first") != F.col("lang_second")).alias("is_mixed"),
    )


@register("text_mixed_language", oracle=_mixed_lang_oracle())
def text_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language / code-switching detection: language-ID each HALF of
    the document (char midpoint split) with the same marker-phrase counter
    and tie-break as ``text_lang_id``; halves disagreeing flags the doc —
    the cheap detector for concatenation artifacts, translated boilerplate,
    and code-switched text that a whole-doc language ID averages away.
    Same cost class as the parent: pure per-row string arithmetic, zero
    shuffle, pushdown-safe — stackable into the scan-front gate battery.
    On the raw fixture the flag count is zero (English-ish text under
    every label) — ``mixed_language_injection_audit`` proves the gate
    FIRES on deterministic injected code-switching."""
    return _half_split_langs(load_table(spark, "documents", sf_dir))


@register(
    "mixed_language_injection_audit",
    oracle=f"""
    WITH docs_inj AS ({_injected_docs_sql()}),
    d AS ({_mixed_lang_oracle("docs_inj")})
    SELECT (doc_id % {_INJ_MOD} = {_INJ_APPEND_SLOT}) AS injected,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_mixed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(CASE WHEN is_mixed THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS flag_share_micro
    FROM d GROUP BY 1
    """,
)
def mixed_language_injection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch gate EFFECTIVENESS audit — the test-vector pattern
    (``pii_redaction_audit``) applied to ``text_mixed_language``: the raw
    fixture never code-switches (English-ish text under every label), so
    the gate's zero flags were unfalsifiable. The injected corpus
    (:func:`_injected_docs`) gives the doc_id % {_INJ_MOD} ==
    {_INJ_APPEND_SLOT} slice a deterministic foreign TAIL — the document
    genuinely starts English and ends '{_INJ_APPEND_LANG}' — and this
    audit rolls up the gate's flag rate for the injected vs untouched
    slices: injected docs must flag (short docs' second halves are
    foreign-dominated), untouched-slice flags measure the false-positive
    floor. Composes the REGISTERED gate core on both sides
    (:func:`_half_split_langs` / the interpolated oracle builder over the
    shared ``docs_inj`` CTE) so audit and gate cannot drift. Scale shape:
    injection is a per-row CASE in the gate's zero-shuffle scan; the
    rollup is a 2-group aggregate."""
    flags = _half_split_langs(
        _injected_docs(load_table(spark, "documents", sf_dir))
    )
    return (
        flags.groupBy(
            (F.col("doc_id") % _INJ_MOD == _INJ_APPEND_SLOT).alias("injected")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("is_mixed"), 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
        )
        .select(
            "injected",
            "n_docs",
            "n_flagged",
            F.expr("n_flagged * 1000000 div n_docs").alias("flag_share_micro"),
        )
    )


mixed_language_injection_audit.__doc__ = (
    mixed_language_injection_audit.__doc__.replace("{_INJ_MOD}", str(_INJ_MOD))
    .replace("{_INJ_APPEND_SLOT}", str(_INJ_APPEND_SLOT))
    .replace("{_INJ_APPEND_LANG}", _INJ_APPEND_LANG)
)


@register(
    "text_fingerprint",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_NORM} AS nm FROM documents),
    s AS (
      SELECT doc_id, nm,
             list_transform(generate_series(1, greatest(length(nm) - 7, 1)),
                            i -> md5(substr(nm, i, 8))) AS hs
      FROM d
    )
    SELECT doc_id, md5(nm) AS content_hash,
           list_aggregate(hs, 'min') AS min_shingle_hash,
           list_aggregate(hs, 'max') AS max_shingle_hash
    FROM s
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: content md5 + extremal shingle
    hashes (order-invariant locality signature). Scan parallelism healed
    before the projection (r12, guide §2.5 input skew): ~1 md5 per
    CHARACTER of corpus makes this the heaviest per-row projection in
    the registry, and the single-row-group bench scan is one task —
    measured 2.0 s single-threaded vs ~0.3 s healed; a no-op at scale
    where the scan already splits (``hints.heal_scan_parallelism``)."""
    return text.fingerprint(
        hints.heal_scan_parallelism(load_table(spark, "documents", sf_dir))
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM}) AS content_hash, count(*) AS n_docs, min(doc_id) AS keeper_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-content md5 (uniform key — the
    one groupBy that can never skew); survivor = min doc_id."""
    return dedup.exact_dedup(load_table(spark, "documents", sf_dir))


def _minhash_bands_ctes() -> str:
    """Shared CTE prefix (tokens → shingle sets → minhash signature → LSH
    band keys) used by every minhash-family oracle: pair discovery, the
    incremental delta variant, and the band-bucket tuning audit."""
    mins = ", ".join(
        f"list_aggregate(list_transform(ss, s -> md5('{i}:' || s)), 'min')"
        for i in range(dedup.NUM_HASHES)
    )
    return f"""
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ss
      FROM toks WHERE len(tk) >= 1
    ),
    sig AS (SELECT doc_id, ss, [{mins}] AS sg FROM sh),
    bands AS (
      SELECT doc_id, b AS band_idx,
             md5(concat_ws('|', sg[4*b+1], sg[4*b+2], sg[4*b+3], sg[4*b+4])) AS band_key
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t
    )"""


def _minhash_oracle() -> str:
    jac = "CAST(floor(CAST(common AS DOUBLE) / (size_a + size_b - common) * 1000000.0) AS BIGINT)"
    return f"""
    WITH {_minhash_bands_ctes()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b, len(list_intersect(sa.ss, sb.ss)) AS common,
             len(sa.ss) AS size_a, len(sb.ss) AS size_b
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, common, size_a, size_b, {jac} AS jac_micro
    FROM verified WHERE {jac} >= 500000
    """


@layer("doc_ngrams")
def _doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted word-3-gram shingle rows for ``documents``, shared across
    every shingle-consuming dedup query in a session (minhash pairs,
    clusters, exact-Jaccard). The explode+distinct that produces them is the
    measured floor of the whole dedup bench family; computing it once per
    (session, sf_dir) instead of ~8× (4 consumers inside the minhash plan ×
    3 queries) is the single biggest dedup speedup."""
    return dedup.ngram_rows(load_table(spark, "documents", sf_dir)).persist()


# NOTE (r13, measured, rejected): a persisted ``_minhash_cand`` candidate
# PAIR layer (the simhash_cand pattern — band self-join + distinct built
# once per session, passed into every minhash_lsh_pairs call site) was
# implemented and interleave-A/B'd against the operator's in-plan lazy
# localCheckpoint of the same candidate list: the LAYER was ~0.2 s SLOWER
# per invocation (dedup_minhash_lsh 0.67 vs 0.45 s min-of-6, same session,
# alternating) — two InMemoryRelation scans + the union/distinct over them
# spawn more AQE stage jobs than one checkpoint materialization + local RDD
# reads. Reverted; the checkpoint inside minhash_lsh_pairs stays the shape.


@layer("doc_gram_df")
def _doc_gram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted document-frequency-annotated shingle rows
    ``(doc_id, g, df)`` — the ``_doc_ngrams`` rows joined once to the
    global per-gram doc-frequency count. r13 (guide §2.2): the df
    aggregate + join-back pair was re-derived inline by EVERY
    inverted-index family member (symmetric Jaccard, containment, the
    prefix-filter ordering, the LSH recall audit's truth side — and again
    inside corpus_dedup_summary's composition of three of them), each
    paying one gram-keyed shuffle pair per invocation. Like the other
    layers this is a materialized index table in a real deployment
    (df-annotated postings, refreshed per ingest batch). Consumers apply
    their own cutoffs (``df <= MAX_DOC_FREQ`` or none), so the layer stays
    policy-free; it caches an AGGREGATION-join, not a projection (the
    r12 "cache aggregations, not projections" rule)."""
    sh = _doc_ngrams(spark, sf_dir)
    df_ = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return sh.join(df_, "g").persist()


@layer("doc_bands")
def _doc_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted LSH band table (4 small rows per doc), shared across every
    band consumer in a session — pair discovery, clusters, the leakage
    matrix/splits, and both tuning audits. The 16-salted-md5 min-aggregate
    that produces it is the band layer's dominant cost and was being
    re-executed by each of ~6 consumers per bench run; like ``_doc_ngrams``
    it is a materialized index table in a real deployment (built once per
    ingest batch, read by everything downstream)."""
    return dedup.minhash_bands(
        dedup.minhash_signatures(
            _doc_ngrams(spark, sf_dir).withColumnRenamed("g", "s")
        )
    ).persist()


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 salted-md5 mins over word-3-gram shingles) + LSH (4 bands
    × 4 rows) candidate pairs, exact-Jaccard-verified at ≥ 0.5 — the scale
    path for all-pairs dedup."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir),
        shingles=_doc_ngrams(spark, sf_dir),
        bands=_doc_bands(spark, sf_dir),
    )


@register(
    "lsh_band_bucket_stats",
    oracle=f"""
    WITH {_minhash_bands_ctes()},
    buckets AS (
      SELECT band_idx, band_key, count(*) AS bucket_size
      FROM bands GROUP BY band_idx, band_key
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           count(*) AS n_buckets,
           CAST(sum(CASE WHEN bucket_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_colliding_buckets,
           CAST(max(bucket_size) AS BIGINT) AS max_bucket,
           CAST(sum((bucket_size * (bucket_size - 1)) // 2) AS BIGINT)
             AS candidate_pairs
    FROM buckets GROUP BY band_idx
    """,
)
def lsh_band_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning audit: per band, the bucket-size histogram summary —
    bucket count, colliding buckets, the hottest bucket, and the implied
    candidate-pair volume sum(c·(c-1)/2). This is the query a 100 TB dedup
    runs BEFORE the pair join: candidate_pairs is exactly the row count the
    (band_idx, band_key) self-join will produce, so a hot bucket (boiler-
    plate shingle sets hashing to one key) shows up here as a max_bucket
    spike — at the cost of two keyed aggregates instead of the quadratic
    join blow-up it predicts. Plan: one shuffle on (band_idx, band_key)
    (map-side combined), then a 4-row reduce on band_idx."""
    bands = _doc_bands(spark, sf_dir)
    buckets = bands.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return buckets.groupBy(F.col("band_idx").cast("long").alias("band_idx")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("bucket_size") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_colliding_buckets"),
        F.max("bucket_size").cast("long").alias("max_bucket"),
        F.sum(F.expr("bucket_size * (bucket_size - 1) div 2"))
        .cast("long")
        .alias("candidate_pairs"),
    )


@register(
    "lsh_recall_audit",
    oracle=f"""
    WITH {_minhash_bands_ctes()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    ),
    ex AS (SELECT doc_id, unnest(ss) AS g FROM sh),
    rare AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= {dedup.MAX_DOC_FREQ}),
    kept AS (SELECT ex.doc_id, ex.g FROM ex JOIN rare ON ex.g = rare.g),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
    tp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b, jac_micro FROM (
        SELECT doc_a, doc_b,
               CAST(floor(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)
                          * 1000000.0) AS BIGINT) AS jac_micro
        FROM tp
        JOIN sizes sa ON sa.doc_id = tp.doc_a
        JOIN sizes sb ON sb.doc_id = tp.doc_b)
      WHERE jac_micro >= 200000
    ),
    j AS (
      SELECT CAST(floor(t.jac_micro / 100000) AS BIGINT) AS jac_decile,
             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
      FROM truth t
      LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT jac_decile, count(*) AS n_true_pairs,
           CAST(sum(caught) AS BIGINT) AS n_caught,
           CAST((sum(caught) * 1000000) // count(*) AS BIGINT) AS recall_micro
    FROM j GROUP BY jac_decile
    """,
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall audit — the S-curve, measured: per true-Jaccard decile
    (exact inverted-index pairs at ≥ 0.2, the same df-cutoff universe as
    ``dedup_ngram_jaccard``), the fraction the band-collision candidate
    stage actually caught. Together with ``lsh_band_bucket_stats`` this is
    how b/r is tuned at scale: bands/rows trade this table's low-decile
    recall against that table's candidate volume. The target threshold 0.5
    should read ≈ 1.0 recall in deciles 5+ (16 hashes, 4×4 bands put the
    S-curve midpoint at ~0.55 with steep slope) and decay below — the
    audit makes the theory checkable per corpus. PRODUCTION CONTRACT: the
    exact side (inverted-index true-Jaccard pairs at ≥ 0.2) is
    corpus-proportional BY DESIGN — it is the measurement being audited —
    so at scale this query runs on a SAMPLED STRATUM, never the full
    corpus: fix a deterministic document sample (hash-bucket doc_id, e.g.
    ``pmod(hash(doc_id), 1000) = 0``), compute exact pairs within the
    sample, and evaluate candidate recall on those pairs only — exactly
    how ``ann_recall_audit``/``ann_pq_recall_audit`` bound their
    brute-force sides to a fixed query sample. Recall per decile is a
    ratio, so the stratum estimate is unbiased; the df ≤ 64 cutoff keeps
    even the fixture-scale full run join-bounded (this registered form is
    the tuning-audit shape for fixture scale, not the 100 TB shape)."""
    sh = _doc_ngrams(spark, sf_dir)
    truth = dedup.ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir),
        threshold=0.2,
        # r13: df-annotated layer replaces the in-plan df agg + join-back
        gram_df=_doc_gram_df(spark, sf_dir),
    )
    cand = dedup.lsh_candidate_pairs(
        sh.withColumnRenamed("g", "s"), bands=_doc_bands(spark, sf_dir)
    )
    j = truth.select("doc_a", "doc_b", "jac_micro").join(
        cand.withColumn("caught", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    return (
        j.select(
            F.floor(F.col("jac_micro") / F.lit(100000)).cast("long").alias("jac_decile"),
            F.coalesce(F.col("caught"), F.lit(0)).alias("caught"),
        )
        .groupBy("jac_decile")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("caught").cast("long").alias("n_caught"),
        )
        .select(
            "jac_decile",
            "n_true_pairs",
            "n_caught",
            F.expr("n_caught * 1000000 div n_true_pairs").alias("recall_micro"),
        )
    )


def _clusters_oracle() -> str:
    """Connected components over the minhash pair graph, as a DuckDB
    recursive CTE (min reachable label per node) — an implementation
    genuinely different from the Spark label-propagation loop, so the check
    is independent."""
    return f"""
    WITH RECURSIVE
    pairs AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id)
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS n_docs
    FROM comp
    """


@register("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: connected components over the
    LSH-verified pair graph by min-label propagation; ``component`` doubles
    as the deterministic keeper id. The last step a production dedup actually
    ships — drop all members of each cluster except the keeper."""
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir),
        shingles=_doc_ngrams(spark, sf_dir),
        bands=_doc_bands(spark, sf_dir),
    )
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_docs"))
    return cc.join(sizes, "component").select("doc_id", "component", "n_docs")


def _golden_record_oracle() -> str:
    from postgres_cdc_example_spark.queries import REGISTRY

    return f"""
    WITH cl AS ({REGISTRY["dedup_clusters"].oracle}),
    m AS (
      SELECT cl.doc_id, cl.component, d.lang, d.source, d.n_chars
      FROM cl JOIN documents d ON d.doc_id = cl.doc_id
    ),
    lm AS (
      SELECT component, lang AS lang_golden FROM (
        SELECT component, lang,
               row_number() OVER (PARTITION BY component
                                  ORDER BY count(*) DESC, lang) AS r
        FROM m GROUP BY component, lang) WHERE r = 1
    ),
    sm AS (
      SELECT component, source AS source_golden FROM (
        SELECT component, source,
               row_number() OVER (PARTITION BY component
                                  ORDER BY count(*) DESC, source) AS r
        FROM m GROUP BY component, source) WHERE r = 1
    ),
    agg AS (
      SELECT component, CAST(min(doc_id) AS BIGINT) AS keeper_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(max(n_chars) AS BIGINT) AS n_chars_max
      FROM m GROUP BY component
    )
    SELECT agg.component, agg.keeper_id, agg.n_docs,
           lm.lang_golden, sm.source_golden, agg.n_chars_max
    FROM agg JOIN lm ON lm.component = agg.component
             JOIN sm ON sm.component = agg.component
    """


@register("golden_record_survivorship", oracle=_golden_record_oracle())
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD survivorship — the master-data-management step after
    clustering: per near-dup cluster, build the merged record a
    deduplicated catalog actually ships, with per-field survivorship
    rules instead of blindly taking the keeper's row. Rules here: keeper
    id = lowest doc_id (the cluster convention), lang/source = the
    cluster's MODAL value (most frequent, ties to the lexicographically
    smallest — deterministic in both engines), n_chars = cluster max
    (the longest variant's length — truncation dups survive as their
    fullest form). 22/23 fixture clusters carry field variation, so the
    modal rules genuinely arbitrate. Both sides COMPOSE the registered
    ``dedup_clusters`` definition (oracle interpolates its SQL; engine
    calls the member fn and localCheckpoints the cluster-joined frame —
    four consumers would otherwise re-run the LSH chain four times).
    Scale shape: everything downstream of the member runs on CLUSTER
    rows only (pairs that survived verification), keyed aggregates +
    per-component windows over handfuls of rows."""
    from postgres_cdc_example_spark.queries import REGISTRY

    cl = REGISTRY["dedup_clusters"].fn(spark, sf_dir).select("doc_id", "component")
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )
    m = cl.join(d, "doc_id").localCheckpoint(eager=False)

    def modal(field: str, alias: str) -> DataFrame:
        cnt = m.groupBy("component", field).agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("component").orderBy(F.col("c").desc(), F.col(field))
        return (
            cnt.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("component", F.col(field).alias(alias))
        )

    agg = m.groupBy("component").agg(
        F.min("doc_id").cast("long").alias("keeper_id"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_chars").cast("long").alias("n_chars_max"),
    )
    return (
        agg.join(modal("lang", "lang_golden"), "component")
        .join(modal("source", "source_golden"), "component")
        .select(
            "component",
            "keeper_id",
            "n_docs",
            "lang_golden",
            "source_golden",
            "n_chars_max",
        )
    )


def _incremental_minhash_oracle() -> str:
    mins = ", ".join(
        f"list_aggregate(list_transform(ss, s -> md5('{i}:' || s)), 'min')"
        for i in range(dedup.NUM_HASHES)
    )
    jac = (
        "CAST(floor(CAST(common AS DOUBLE) / (size_new + size_corpus - common)"
        " * 1000000.0) AS BIGINT)"
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ss
      FROM toks WHERE len(tk) >= 1
    ),
    sig AS (SELECT doc_id, ss, [{mins}] AS sg FROM sh),
    bands AS (
      SELECT doc_id, b AS band_idx,
             md5(concat_ws('|', sg[4*b+1], sg[4*b+2], sg[4*b+3], sg[4*b+4])) AS band_key
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) t
    ),
    cand AS (
      SELECT DISTINCT d.doc_id AS new_id, c.doc_id AS corpus_id
      FROM bands d JOIN bands c
        ON d.band_idx = c.band_idx AND d.band_key = c.band_key
      WHERE d.doc_id % {DELTA_MOD} = 0 AND c.doc_id % {DELTA_MOD} != 0
    ),
    verified AS (
      SELECT new_id, corpus_id, len(list_intersect(sd.ss, sc.ss)) AS common,
             len(sd.ss) AS size_new, len(sc.ss) AS size_corpus
      FROM cand
      JOIN sh sd ON sd.doc_id = cand.new_id
      JOIN sh sc ON sc.doc_id = cand.corpus_id
    )
    SELECT new_id, corpus_id, common, size_new, size_corpus, {jac} AS jac_micro
    FROM verified WHERE {jac} >= 500000
    """


DELTA_MOD = 10  # doc_id % 10 == 0 -> the stand-in "new ingest batch"


@register("dedup_incremental", oracle=_incremental_minhash_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new ingest batch (stand-in: ``doc_id %% 10 ==
    0``) checked against the existing corpus via LSH band join — the
    per-batch production shape where corpus×corpus pairs are never
    re-enumerated and the (persisted) corpus band table is all an ingest
    batch touches. Delta bands broadcast; cost is O(delta bands +
    collisions), independent of corpus pair count."""
    sh = _doc_ngrams(spark, sf_dir)
    return dedup.minhash_lsh_pairs_between(
        sh.filter(F.col("doc_id") % DELTA_MOD == 0),
        sh.filter(F.col("doc_id") % DELTA_MOD != 0),
    )


# train/val/test thresholds on the 2-hex-char md5 prefix of the GROUP
# representative: < 'cc' (204/256 ≈ 80%) train, < 'e6' (230/256 ≈ 90%) val,
# else test. Splitting by the near-dup cluster representative — not the
# doc_id — is what makes the split leakage-safe: every member of a
# duplicate cluster lands in the same partition, so a val/test doc can
# never have a near-duplicate twin in train.
_SPLIT_CASE = (
    "CASE WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train' "
    "WHEN substr(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val' "
    "ELSE 'test' END"
)


def _leakage_safe_split_oracle() -> str:
    return f"""
    WITH RECURSIVE
    prs AS (SELECT doc_a, doc_b FROM ({_minhash_oracle()})),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM prs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
    rep AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
    )
    SELECT doc_id, rep_id, {_SPLIT_CASE} AS split FROM rep
    """


@register("split_leakage_safe", oracle=_leakage_safe_split_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — the assignment step every
    benchmark-honest training pipeline needs: hash-split by the near-dup
    CLUSTER representative (LSH-verified pair graph → connected components;
    singletons represent themselves), so near-duplicate documents can never
    straddle the train/eval boundary. The split itself is the deterministic
    md5-prefix threshold of ``sample_hash_10pct`` (80/10/10), making the
    assignment reproducible across runs, engines, and partitionings. Cost
    on top of the (session-shared) pair graph: one left join + a per-row
    projection; the components side is tiny (only clustered docs) and
    broadcasts."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, shingles=_doc_ngrams(spark, sf_dir), bands=_doc_bands(spark, sf_dir)
    )
    cc = dedup.connected_components(pairs).select("doc_id", "component")
    b = sampling.hash_bucket(F.col("rep_id"))
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("rep_id")
        )
        .select(
            "doc_id",
            "rep_id",
            F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test").alias(
                "split"
            ),
        )
    )


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH pairs AS (SELECT doc_a, doc_b, jac_micro FROM ({_minhash_oracle()})),
    tagged AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             p.jac_micro
      FROM pairs p
      JOIN documents da ON p.doc_a = da.doc_id
      JOIN documents db ON p.doc_b = db.doc_id
    )
    SELECT source_a, source_b,
           count(*) AS n_pairs,
           CAST(sum(jac_micro) AS BIGINT) AS sum_jac_micro,
           CAST(floor(CAST(sum(jac_micro) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_jac_micro
    FROM tagged GROUP BY source_a, source_b
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate LEAKAGE matrix: minhash pair counts aggregated by
    (source, source) — the accounting view that tells a curation run which
    domains are copying from which (high off-diagonal mass means one
    source republishes another, so per-source dedup alone under-removes).
    Pure composition: the shared-shingle minhash pairs joined twice against
    the doc→source projection, normalized with least/greatest so each
    unordered source pair lands in one cell. No forced hint on either side:
    the doc dim is corpus-sized (never broadcastable at 100 TB) while the
    pair side is collision-sized — AQE's runtime stats pick the pair side
    as the broadcast build, which is the plan you'd want at any scale.
    Pair volume, not corpus volume, drives the added cost."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir),
        shingles=_doc_ngrams(spark, sf_dir),
        bands=_doc_bands(spark, sf_dir),
    )
    tagged = (
        pairs.join(
            docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jac_micro",
        )
    )
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jac_micro").cast("long").alias("sum_jac_micro"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "sum_jac_micro",
            F.floor(F.col("sum_jac_micro").cast("double") / F.col("n_pairs"))
            .cast("long")
            .alias("mean_jac_micro"),
        )
    )


@register(
    "doc_novelty",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS gs
      FROM toks WHERE len(tk) >= 1
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    first AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g)
    SELECT ex.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(floor(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
                      * 1000000.0 / count(*)) AS BIGINT) AS novelty_micro
    FROM ex JOIN first f ON ex.g = f.g
    GROUP BY ex.doc_id
    """,
)
def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word-3-grams
    whose FIRST corpus occurrence (min doc_id) is this doc — the
    contribution gate curation pipelines use to drop documents that add
    nothing the corpus hasn't already seen (near-dup catches copies; this
    catches recombinations). Reuses the shared shingle layer; one gram-keyed
    min-aggregate (map-side combined) + a 1:1 join back on the gram — the
    inverted-index shape, never doc×doc. Hot grams (stopword trigrams) are
    the usual skew caveat; AQE's skew-join split handles the join-back at
    scale. Integer micro-fraction keeps the output engine-exact."""
    sh = _doc_ngrams(spark, sf_dir)
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        sh.join(first, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), novel.alias("n_novel"))
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.floor(F.col("n_novel") * F.lit(1_000_000.0) / F.col("n_grams"))
            .cast("long")
            .alias("novelty_micro"),
        )
    )


_RUN_W = dedup.SUBSTR_RUN_TOKENS

# shared spans CTE prefix (ends with the `spans` relation): the maximal
# shared-run derivation both substring queries build on
_SPANS_CTE = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(tk, i, i+{_RUN_W - 1}), ' ') AS g
      FROM toks, UNNEST(generate_series(1, len(tk) - {_RUN_W - 1})) AS t(i)
      WHERE len(tk) >= {_RUN_W}
    ),
    rare AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= {dedup.MAX_RUN_DF}),
    kept AS (SELECT grams.* FROM grams JOIN rare USING (g)),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
          FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id),
    isl AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
                 pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
            FROM m),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(min(pa) AS BIGINT) AS a_start, CAST(min(pb) AS BIGINT) AS b_start,
             CAST(count(*) + {_RUN_W - 1} AS BIGINT) AS run_tokens
      FROM isl GROUP BY doc_a, doc_b, diag, grp
    )
"""


# NOTE (measured, rejected): persisting a shared positional-gram layer for
# the substring family — the _doc_ngrams pattern — made BOTH queries SLOWER
# (removal 2.9 s -> 4.6 s, layer build 7.4 s at sf0.1). Positional grams are
# a pure projection (explode + slice + concat_ws, fully fused in whole-stage
# codegen off the parquet scan); reading them back from the block cache
# deserializes ~56 MB of gram strings row-by-row and severs the fusion. The
# shingle layer wins because ngram_rows pays a per-doc DISTINCT — real work
# worth saving. Cache aggregations, not projections. The operators keep a
# ``grams=`` parameter so a caller with an already-materialized gram table
# (e.g. incremental runs) can still inject it.


@register(
    "dedup_exact_substring",
    oracle=_SPANS_CTE
    + "SELECT doc_a, doc_b, a_start, b_start, run_tokens FROM spans",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (suffix-array family): maximal verbatim token
    runs of >= 20 tokens shared between doc pairs — catches long quoted
    passages inside otherwise-different documents, the class document-level
    MinHash misses by design. Relational: positional sliding grams →
    hot-gram df cutoff → inverted-index equi-join → gaps-and-islands merge
    of adjacent matches into maximal spans (see
    ``operators/dedup.exact_substring_spans``)."""
    return dedup.exact_substring_spans(load_table(spark, "documents", sf_dir))


@register(
    "dedup_substring_incremental",
    oracle=_SPANS_CTE
    + """,
    mx AS (SELECT ((max(doc_id) + 1) * 9) // 10 AS t FROM documents)
    SELECT s.doc_a, s.doc_b, s.a_start, s.b_start, s.run_tokens
    FROM spans s, mx WHERE s.doc_b >= mx.t
    """,
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact-substring dedup — the flagship's per-batch shape
    (what ``minhash_lsh_pairs_between`` is to ``dedup_minhash_lsh``,
    applied to the suffix-array family): the newest ingest slice (the top
    10% of doc_ids — arrival order on this fixture) is checked for >=
    20-token verbatim runs against the EXISTING corpus and within itself,
    WITHOUT re-pairing the corpus with itself. The b-side inverted-index
    rows shrink to the delta BEFORE the join
    (``dedup.exact_substring_spans(delta_min_id=...)``), so per-batch
    collision work is O(delta grams + collisions); the a-side positional
    gram table is what production persists between batches. df cutoffs
    stay computed over the union universe, so the result is EXACTLY the
    full batch run's spans filtered to doc_b >= threshold — the oracle
    states it that way, pinning zero drift between the batch and
    incremental answers. The threshold derives from the data
    (((max_id + 1) * 9) div 10) in both engines; the collected max id is
    one long of driver metadata (the FFD count-gate class)."""
    docs = load_table(spark, "documents", sf_dir)
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    if mx is None:  # empty corpus: no docs, no spans
        return dedup.exact_substring_spans(docs)
    t = ((int(mx) + 1) * 9) // 10
    return dedup.exact_substring_spans(docs, delta_min_id=t)


@register(
    "dedup_substring_removal",
    oracle=_SPANS_CTE
    + """,
    covered AS (
      SELECT DISTINCT doc_b AS doc_id, CAST(p AS BIGINT) AS pos
      FROM spans, UNNEST(generate_series(b_start, b_start + run_tokens - 1)) AS u(p)
    ),
    ptoks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[i] AS tok
      FROM toks, UNNEST(generate_series(1, len(tk))) AS t(i)
    ),
    surv AS (
      SELECT p.* FROM ptoks p
      ANTI JOIN covered c ON p.doc_id = c.doc_id AND p.pos = c.pos
    ),
    cln AS (
      SELECT doc_id, count(*) AS n_after,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS h
      FROM surv GROUP BY doc_id
    ),
    ns AS (SELECT doc_b AS doc_id, count(*) AS n_spans FROM spans GROUP BY doc_b),
    base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_before FROM toks)
    SELECT b.doc_id, b.n_before AS n_tokens_before,
           CAST(COALESCE(c.n_after, 0) AS BIGINT) AS n_tokens_after,
           CAST(b.n_before - COALESCE(c.n_after, 0) AS BIGINT) AS n_tokens_removed,
           CAST(COALESCE(ns.n_spans, 0) AS BIGINT) AS n_spans,
           COALESCE(c.h, md5('')) AS cleaned_hash
    FROM base b LEFT JOIN cln c USING (doc_id) LEFT JOIN ns USING (doc_id)
    """,
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The suffix-array family's SHIPPED transformation: cut every
    duplicated >= 20-token span from the later (higher-id) document in one
    pass, keep the first occurrence, and emit per-doc audit columns —
    token counts before/after, spans hit, and the md5 of the cleaned token
    stream so the rewrite itself is value-checked, not just counted.
    Single-pass policy (spans computed against the original corpus, no
    cascade), overlap-safe via a distinct covered-position set; all joins
    keyed on (doc_id, pos). See ``operators/dedup.substring_removal``."""
    return dedup.substring_removal(load_table(spark, "documents", sf_dir))


def _phash_cte() -> str:
    """aHash CTE: byte-sampled 8×8 luma + above-mean bit rule, packed into
    two 32-bit halves — mirrors ``multimodal._sample_luma``/``_ahash``
    nibble-for-nibble (ASCII fixtures: byte k == ascii(char k))."""
    return """
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
    l AS (SELECT doc_id, n,
           list_transform(generate_series(0, 63),
             i -> CASE WHEN n = 0 THEN 0
                  ELSE ascii(substr(text, CAST((i * n) // 64 AS INT) + 1, 1)) END) AS luma
          FROM d),
    t AS (SELECT doc_id, n, luma, CAST(list_sum(luma) AS BIGINT) AS tot FROM l),
    ph AS (
     SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(generate_series(1,32),
         j -> CASE WHEN luma[j+32]*64 > tot THEN (1::BIGINT << (j-1)) ELSE 0 END))
         AS BIGINT) AS phash_hi,
       CAST(list_sum(list_transform(generate_series(1,32),
         j -> CASE WHEN luma[j]*64 > tot THEN (1::BIGINT << (j-1)) ELSE 0 END))
         AS BIGINT) AS phash_lo
     FROM t)
    """


@register(
    "multimodal_phash",
    oracle=_phash_cte() + "SELECT doc_id, n_bytes, phash_hi, phash_lo FROM ph",
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per payload (Arrow ``mapInPandas``): the
    64-bit 8×8-luma above-mean fingerprint image near-dup compares by
    Hamming distance. Decode is the deterministic byte-sampling fake (the
    real PIL path, ``average_hash_decoded``, drops in where the codec
    exists); the bit rule and packing are oracle-checked exactly."""
    return multimodal.average_hash(
        multimodal.with_payload(load_table(spark, "documents", sf_dir))
    )


@register(
    "multimodal_phash_neardup",
    oracle=_phash_cte()
    + f""",
    bands AS (
      SELECT doc_id, phash_hi, phash_lo, u.bi AS band_idx,
         CASE u.bi WHEN 0 THEN phash_lo & 65535 WHEN 1 THEN phash_lo >> 16
                   WHEN 2 THEN phash_hi & 65535 ELSE phash_hi >> 16 END AS band_val
      FROM ph, (SELECT unnest([0,1,2,3]) AS bi) u
    ),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(pa.phash_hi, pb.phash_hi))
              + bit_count(xor(pa.phash_lo, pb.phash_lo)) AS BIGINT) AS hamming
    FROM cand JOIN ph pa ON pa.doc_id = doc_a JOIN ph pb ON pb.doc_id = doc_b
    WHERE bit_count(xor(pa.phash_hi, pb.phash_hi))
        + bit_count(xor(pa.phash_lo, pb.phash_lo)) <= {multimodal.PHASH_MAX_HAMMING}
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual hash: aHash bands (4 × 16 bits)
    bucket the candidates — recall-exact up to Hamming 15 since ≤ 15 flipped
    bits can't touch all four bands — then popcount-of-XOR verifies ≤ 10.
    The pair join is keyed on the band value, never doc×doc (plan-pinned).
    The hash stage re-executes per consumer branch here; a production run
    persists the (tiny) hash table first, like the shared shingle layer."""
    return multimodal.phash_neardup_pairs(
        multimodal.average_hash(
            multimodal.with_payload(load_table(spark, "documents", sf_dir))
        )
    )


@register(
    "multimodal_decoded_parity",
    oracle="""
    WITH l AS (
      SELECT doc_id,
        list_transform(generate_series(0, 63),
          i -> ('0x' || substr(md5(text || ':' || CAST(i // 16 AS VARCHAR)),
                               (i % 16) * 2 + 1, 2))::BIGINT) AS luma,
        list_transform(generate_series(0, 7),
          s -> ((('0x' || substr(md5(text || ':w'), s * 4 + 1, 2))::BIGINT
                 + 256 * ('0x' || substr(md5(text || ':w'), s * 4 + 3, 2))::BIGINT
                 + 32768) % 65536) - 32768) AS samples
      FROM documents),
    t AS (SELECT doc_id, luma, samples,
                 CAST(list_sum(luma) AS BIGINT) AS tot FROM l)
    SELECT doc_id,
      CAST(list_sum(list_transform(generate_series(1, 32),
        j -> CASE WHEN luma[j + 32] * 64 > tot THEN (1::BIGINT << (j - 1)) ELSE 0 END))
        AS BIGINT) AS phash_hi,
      CAST(list_sum(list_transform(generate_series(1, 32),
        j -> CASE WHEN luma[j] * 64 > tot THEN (1::BIGINT << (j - 1)) ELSE 0 END))
        AS BIGINT) AS phash_lo,
      CAST(list_sum(samples) AS BIGINT) AS wav_sum,
      TRUE AS png_ok,
      TRUE AS wav_ok
    FROM t
    """,
)
def multimodal_decoded_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec decode executes HERE, oracle-pinned: per document, derive
    a known 8×8 pixel grid + 8-sample PCM signal from md5 bytes, encode with
    the real stdlib writers, decode through the REAL decode path (zlib
    inflate + the five PNG filter reconstructions; wave/struct PCM), and
    emit the aHash of the DECODED pixels, the DECODED sample sum, and
    round-trip booleans. DuckDB recomputes hash+sum from the md5 derivation
    directly and asserts the booleans TRUE literally (the
    ``event_reach_approx_error`` pattern) — a filter bug, byte-order slip,
    or sign error in either codec half flips a value and fails the driver
    hash. No shuffle: one Arrow mapInPandas stage fused over the scan
    (embarrassingly parallel at any corpus size)."""
    return multimodal.decoded_parity(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )


def _simhash_oracle() -> str:
    sums = []
    for b in range(dedup.SIMHASH_BITS):
        nib = _nib("h", b // 4 + 1)
        sums.append(
            f"sum((CAST(floor({nib} / {2 ** (b % 4)}) AS BIGINT) % 2) * 2 - 1) AS s{b}"
        )
    weights = " + ".join(
        f"CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(dedup.SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    hs AS (SELECT doc_id, md5(tok) AS h FROM toks),
    s AS (SELECT doc_id, {", ".join(sums)} FROM hs GROUP BY doc_id),
    sh AS (SELECT doc_id, ({weights}) AS simhash FROM s)
    SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_bucket FROM sh
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit frequency-weighted SimHash + bucket sizes: one explode + one
    groupBy(doc_id) shuffle; bits from md5 nibbles via ascii arithmetic."""
    from postgres_cdc_example_spark.queries.llmdata import _doc_occurrences

    return dedup.simhash_buckets(
        load_table(spark, "documents", sf_dir),
        tokens=_doc_occurrences(spark, sf_dir),
    )


def _ngram_oracle() -> str:
    jac = "CAST(floor(CAST(common AS DOUBLE) / (size_a + size_b - common) * 1000000.0) AS BIGINT)"
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS gs
      FROM toks WHERE len(tk) >= 1
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    rare AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= {dedup.MAX_DOC_FREQ}),
    kept AS (SELECT ex.doc_id, ex.g FROM ex JOIN rare ON ex.g = rare.g),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT doc_a, doc_b, common, sa.sz AS size_a, sb.sz AS size_b
      FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, common, size_a, size_b, {jac} AS jac_micro
    FROM verified WHERE {jac} >= 500000
    """


@register("dedup_ngram_jaccard", oracle=_ngram_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard ≥ 0.5 via inverted-index self-join with a
    doc-frequency cutoff (prefix-filter analog) guarding against hot-shingle
    quadratic blowup."""
    # r13: the persisted df-annotated layer replaces the in-plan df
    # aggregate + join-back (one gram-keyed shuffle pair per invocation)
    return dedup.ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir),
        gram_df=_doc_gram_df(spark, sf_dir),
    )


_VEC_BASE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
"""


@register(
    "dedup_embedding_cosine",
    oracle=_VEC_BASE
    + """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_r
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs verification shape;
    discovery at scale goes through ivf_assign / sign-LSH bucketing)."""
    return similarity.embedding_near_dup_pairs(load_table(spark, "embeddings", sf_dir))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    oracle=_VEC_BASE
    + """
    , q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
    scored AS (
      SELECT q_id, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM q JOIN n c ON c.vec_id != q.q_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
      FROM scored
    )
    SELECT q_id, nbr_id, rnk AS rank, cos_r FROM ranked WHERE rnk <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors — the ANN exactness
    baseline: broadcast query side, per-query ranking window."""
    return similarity.brute_force_topk(load_table(spark, "embeddings", sf_dir))


@register(
    "ann_ivf_topk",
    oracle=_VEC_BASE
    + """
    , cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
    asg0 AS (
      SELECT n.vec_id, n.v, n.nrm, cid,
             round(list_dot_product(n.v, cv) / (n.nrm * cn), 6) AS ccos
      FROM n, cent
    ),
    asg AS (
      SELECT vec_id, v, nrm, cid AS cluster_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS r
            FROM asg0)
      WHERE r = 1
    ),
    q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cluster_id FROM asg WHERE vec_id < 10),
    scored AS (
      SELECT q_id, q.cluster_id, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM q JOIN asg c ON c.cluster_id = q.cluster_id AND c.vec_id != q.q_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
      FROM scored
    )
    SELECT q_id, cluster_id, nbr_id, rnk AS rank, cos_r FROM ranked WHERE rnk <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (probe=1): nearest-centroid assignment (broadcast against the
    centroid set), then top-5 within the query's own cluster only — the
    bucketed scale path."""
    return similarity.ivf_topk(load_table(spark, "embeddings", sf_dir))


def _hyperplane_oracle() -> str:
    """Sign-LSH oracle: identical weight literals (shortest-roundtrip repr
    parses to the same doubles) and the same round-6 sign guard."""
    terms = []
    for j, row in enumerate(similarity.hyperplane_weights()):
        lits = ", ".join(repr(x) for x in row)
        terms.append(
            f"CASE WHEN round(list_dot_product(v, [{lits}]), 6) >= 0"
            f" THEN {1 << j} ELSE 0 END"
        )
    bucket = " + ".join(terms)
    return (
        _VEC_BASE
        + f"""
    , sig AS (SELECT vec_id, v, nrm, ({bucket}) AS bucket FROM n),
    q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM sig WHERE vec_id < 10),
    scored AS (
      SELECT q_id, q.bucket, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM q JOIN sig c ON c.bucket = q.bucket AND c.vec_id != q.q_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
      FROM scored
    )
    SELECT q_id, bucket, nbr_id, rnk AS rank, cos_r FROM ranked WHERE rnk <= 5
    """
    )


@register("ann_hyperplane_topk", oracle=_hyperplane_oracle())
def ann_hyperplane_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: 8 deterministic hyperplanes pack a 256-bucket signature
    per vector as a pure per-row expression (no centroid table, no learned
    state); candidates = same-bucket vectors only. The third point on the
    ANN cost/recall curve next to brute-force (exact) and IVF (learned)."""
    return similarity.hyperplane_topk(load_table(spark, "embeddings", sf_dir))


def _hyperplane_multiprobe_oracle(base: str | None = None) -> str:
    terms = []
    for j, row in enumerate(similarity.hyperplane_weights()):
        lits = ", ".join(repr(x) for x in row)
        terms.append(
            f"CASE WHEN round(list_dot_product(v, [{lits}]), 6) >= 0"
            f" THEN {1 << j} ELSE 0 END"
        )
    bucket = " + ".join(terms)
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(similarity.N_PLANES)]
    )
    return (
        (base or _VEC_BASE)
        + f"""
    , sig AS (SELECT vec_id, v, nrm, ({bucket}) AS bucket FROM n),
    q AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket AS home_bucket,
             unnest([{probe_list}]) AS probe_bucket
      FROM sig WHERE vec_id < 10
    ),
    scored AS (
      SELECT q_id, q.home_bucket AS bucket, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM q JOIN sig c ON c.bucket = q.probe_bucket AND c.vec_id != q.q_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
      FROM scored
    )
    SELECT q_id, bucket, nbr_id, rnk AS rank, cos_r FROM ranked WHERE rnk <= 5
    """
    )


@register("ann_hyperplane_multiprobe", oracle=_hyperplane_multiprobe_oracle())
def ann_hyperplane_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: each query also searches the 8 buckets one
    sign-flip away (the borderline-hyperplane misses), multiplying recall
    for a ×9 growth of the tiny query side only — the corpus is never
    re-hashed."""
    return similarity.hyperplane_topk_multiprobe(
        load_table(spark, "embeddings", sf_dir)
    )


_VEC_BASE_EN = """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings JOIN documents ON doc_id = vec_id
      WHERE lang = 'en'
    ),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
"""


@register(
    "ann_filtered_topk", oracle=_hyperplane_multiprobe_oracle(_VEC_BASE_EN)
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — top-k within a metadata slice (lang = 'en'), the
    search-with-predicate feature every production vector store ships: the
    metadata filter applies BEFORE bucketing (a broadcast equi-join of the
    pruned two-column doc dim onto vec_id), so buckets, probes and
    candidates all live in the slice and the filter cost is one scan-side
    semi-join — never post-filtering an unfiltered top-k (which silently
    returns < k rows). Same multi-probe machinery and oracle body as
    ``ann_hyperplane_multiprobe``, parameterized by the sliced base."""
    emb = load_table(spark, "embeddings", sf_dir)
    en_ids = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    return similarity.hyperplane_topk_multiprobe(
        emb.join(F.broadcast(en_ids), "vec_id")
    )


def _kmeans_cte(k: int = 8, iterations: int = 3) -> str:
    """Unrolled Lloyd's as a WITH-prefix ending at ``c{iterations}`` (the
    trained centroids): the run is fully deterministic (first-k init, fixed
    iteration count, exact nano-grid means), so each iteration becomes one
    assign + recompute CTE pair. Means replicate the engine's arithmetic
    literally: sum of ``round(x*1e9)`` bigints (exact, order-independent)
    divided once in double — bitwise-identical centroids on both engines;
    cosine uses the same round-6 guard as every ANN oracle. Shared by the
    ``kmeans_centroids`` oracle and the learned-IVF search oracle."""
    parts = [
        _VEC_BASE,
        f"""
    , c0 AS (
      SELECT cluster_id, v AS cv, nrm AS cn FROM (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, v, nrm FROM n)
      WHERE cluster_id < {k}
    )""",
    ]
    for t in range(iterations):
        parts.append(
            f"""
    , s{t} AS (
      SELECT n.vec_id, n.v, c.cluster_id,
             round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS ccos
      FROM n, c{t} c
    ),
    a{t} AS (
      SELECT vec_id, v, cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster_id) AS r
        FROM s{t})
      WHERE r = 1
    ),
    m{t} AS (
      SELECT cluster_id, list(mu ORDER BY pos) AS cv
      FROM (
        SELECT cluster_id, pos,
               CAST(sum(xi) AS DOUBLE) / (count(*)::DOUBLE * 1e9) AS mu
        FROM (
          SELECT cluster_id, CAST(round(x * 1e9) AS BIGINT) AS xi, pos
          FROM (SELECT cluster_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM a{t})
        )
        GROUP BY cluster_id, pos
      )
      GROUP BY cluster_id
    ),
    c{t + 1} AS (SELECT cluster_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM m{t})"""
        )
    return "".join(parts)


def _kmeans_oracle(k: int = 8, iterations: int = 3) -> str:
    """Final assignment + member counts + exploded scalar output on top of
    the :func:`_kmeans_cte` prefix."""
    cf = f"c{iterations}"
    return (
        _kmeans_cte(k, iterations)
        + f"""
    , fs AS (
      SELECT n.vec_id, c.cluster_id,
             round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS ccos
      FROM n, {cf} c
    ),
    fa AS (
      SELECT vec_id, cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster_id) AS r
        FROM fs)
      WHERE r = 1
    ),
    cnt AS (SELECT cluster_id, count(*) AS n_members FROM fa GROUP BY cluster_id),
    fin AS (
      SELECT c.cluster_id, COALESCE(cnt.n_members, 0) AS n_members, c.cv
      FROM {cf} c LEFT JOIN cnt ON c.cluster_id = cnt.cluster_id
    )
    SELECT cluster_id, n_members, pos - 1 AS dim, round(x, 6) AS value
    FROM (SELECT cluster_id, n_members, unnest(cv) AS x,
                 generate_subscripts(cv, 1) AS pos FROM fin)"""
    )


@layer("kmeans_centroids")
def _trained_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """Session-memoized k-means training: the 3-iteration Lloyd loop runs
    ONCE per (session, sf_dir) and both ``kmeans_centroids`` and
    ``ann_ivf_kmeans_topk`` reuse the trained model — the production
    train-once/serve-many shape. The value is a plain k×dim driver list.
    Training is fully deterministic, so memoization cannot change any
    result."""
    return similarity.train_kmeans(load_table(spark, "embeddings", sf_dir))


@register("kmeans_centroids", oracle=_kmeans_oracle())
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 Lloyd iterations, k=8, deterministic first-k init — the iterative-
    algorithm class (driver-side loop re-broadcasting k×dim centroids). The
    loop is unrollable because every step is deterministic: the DuckDB oracle
    replays assign/recompute as CTE stages, with means computed on an exact
    bigint nano-grid (see ``_kmeans_oracle``). Centroids are exploded to
    scalar ``(cluster_id, dim, value)`` rows: array cells are unhashable in
    the driver's pandas canonicalizer; ``value`` is rounded to 6 decimals so
    float-sum ordering noise never reaches the result."""
    res = similarity.kmeans_centroids(
        load_table(spark, "embeddings", sf_dir),
        cent_rows=_trained_centroids(spark, sf_dir),
    )
    return res.select(
        "cluster_id", "n_members", F.posexplode("centroid_r").alias("dim", "value")
    )


def _ivf_kmeans_oracle(k: int = 8, iterations: int = 3) -> str:
    """Learned-IVF search oracle: the :func:`_kmeans_cte` training prefix,
    centroids rounded to 6 dp (matching ``centroid_r``), bulk assignment,
    then the standard within-cluster top-5 search."""
    cf = f"c{iterations}"
    return (
        _kmeans_cte(k, iterations)
        + f"""
    , cr AS (
      SELECT cluster_id, list_transform(cv, x -> round(x, 6)) AS cv2 FROM {cf}
    ),
    cent AS (
      SELECT cluster_id, cv2, sqrt(list_dot_product(cv2, cv2)) AS cn2 FROM cr
    ),
    asg0 AS (
      SELECT n.vec_id, n.v, n.nrm, c.cluster_id,
             round(list_dot_product(n.v, c.cv2) / (n.nrm * c.cn2), 6) AS ccos
      FROM n, cent c
    ),
    asg AS (
      SELECT vec_id, v, nrm, cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster_id) AS r
        FROM asg0)
      WHERE r = 1
    ),
    q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cluster_id FROM asg WHERE vec_id < 10),
    scored AS (
      SELECT q_id, q.cluster_id, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM q JOIN asg c ON c.cluster_id = q.cluster_id AND c.vec_id != q.q_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
      FROM scored
    )
    SELECT q_id, cluster_id, nbr_id, rnk AS rank, cos_r FROM ranked WHERE rnk <= 5
    """
    )


@register("ann_ivf_kmeans_topk", oracle=_ivf_kmeans_oracle())
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over LEARNED centroids — the real build/search composition:
    k-means trains the coarse quantizer (3 deterministic Lloyd iterations),
    every vector assigns to its nearest round-6 centroid, queries probe
    their own cluster. Completes the ANN family: brute-force (exact), IVF
    stand-in centroids, sign-LSH, multi-probe, and now trained IVF — all
    oracle-checked end-to-end including the training loop. Training is
    memoized per (session, sf_dir) via :func:`_trained_centroids` — first
    invocation pays the ~7-job Lloyd loop, every later one (and
    ``kmeans_centroids``) reuses the model, the production
    train-once/serve-many shape."""
    return similarity.ivf_topk_learned(
        load_table(spark, "embeddings", sf_dir),
        cent_rows=_trained_centroids(spark, sf_dir),
    )


def _semantic_dedup_oracle(k: int = 8, iterations: int = 3) -> str:
    """SemDeDup oracle: the :func:`_kmeans_cte` training prefix, final
    assignment against the UNROUNDED trained centroids (same ``fs``/``fa``
    shape as the ``kmeans_centroids`` oracle), then the within-cluster
    lower-id drop rule."""
    cf = f"c{iterations}"
    return (
        _kmeans_cte(k, iterations)
        + f"""
    , fs AS (
      SELECT n.vec_id, n.v, n.nrm, c.cluster_id,
             round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) AS ccos
      FROM n, {cf} c
    ),
    fa AS (
      SELECT vec_id, v, nrm, cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster_id) AS r
        FROM fs)
      WHERE r = 1
    ),
    sim AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_r
      FROM fa a JOIN fa b
        ON a.cluster_id = b.cluster_id AND a.vec_id > b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45
    ),
    drops AS (
      SELECT vec_a, min(vec_b) AS dup_of, max(cos_r) AS dup_cos
      FROM sim GROUP BY vec_a
    )
    SELECT fa.vec_id, fa.cluster_id,
           (drops.vec_a IS NULL) AS is_kept, drops.dup_of, drops.dup_cos
    FROM fa LEFT JOIN drops ON fa.vec_id = drops.vec_a
    """
    )


@register("semantic_dedup", oracle=_semantic_dedup_oracle())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-style: embeddings cluster under the
    memoized k-means model, and near-duplicate comparisons happen ONLY
    within a cluster — a vector is dropped when a lower-id cluster-mate has
    round-6 cosine ≥ 0.45. This is the embedding-space dedup SCALE path the
    all-pairs ``dedup_embedding_cosine`` baseline exists to verify: the
    pair join is keyed on ``cluster_id`` (plan-pinned not-cartesian), and
    at 100 TB k grows with the corpus so Σ|cluster|² stays linear-ish while
    N² does not. Reuses the session-trained centroids
    (:func:`_trained_centroids`), so the marginal cost is one zero-shuffle
    assignment + the bucketed self-join."""
    return similarity.semantic_dedup_flags(
        load_table(spark, "embeddings", sf_dir),
        cent_rows=_trained_centroids(spark, sf_dir),
    )


@register(
    "semantic_dedup_incremental",
    # the oracle INTERPOLATES the registered full-run SQL (the incremental-
    # trio composition pattern): "incremental == full run filtered to the
    # delta" is stated by construction, drift-proof
    oracle=f"""
    WITH full_run AS (
      {_semantic_dedup_oracle()}
    ),
    mx AS (SELECT ((max(vec_id) + 1) * 9) // 10 AS t FROM embeddings)
    SELECT f.vec_id, f.cluster_id, f.is_kept, f.dup_of, f.dup_cos
    FROM full_run f, mx WHERE f.vec_id >= mx.t
    """,
)
def semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup — the EMBEDDING arm completing the
    incremental quartet (MinHash / exact-substring / winnowing / this):
    the newest ingest slice (top 10% of vec_ids — arrival order on this
    fixture) is assigned to the SESSION-TRAINED centroids (the model
    production holds between batches — retraining cadence is priced
    separately by ``ann_staleness_audit``) and each delta vector is
    tested against every LOWER-id corpus member of its cluster. The
    a side shrinks to the delta BEFORE the cluster-keyed join, so
    per-batch cost is O(delta × cluster density) — corpus×corpus pairs
    never enumerate — and because the SemDeDup drop rule only ever looks
    at lower ids, the incremental answer is EXACTLY the full run
    filtered to the delta; the oracle states that identity by
    interpolating the registered full-run SQL. The threshold derives
    from the data (((max_id + 1) * 9) div 10) identically in both
    engines; the collected max id is one long of driver metadata."""
    emb = load_table(spark, "embeddings", sf_dir)
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    t = ((int(mx) + 1) * 9) // 10
    return similarity.semantic_dedup_flags(
        emb, cent_rows=_trained_centroids(spark, sf_dir), a_min_id=t
    )


def _recall_audit_oracle() -> str:
    """Recall audit oracle: brute-force truth CTEs and the multi-probe
    sign-LSH CTEs composed under distinct names, joined on (q_id, nbr_id)."""
    terms = []
    for j, row in enumerate(similarity.hyperplane_weights()):
        lits = ", ".join(repr(x) for x in row)
        terms.append(
            f"CASE WHEN round(list_dot_product(v, [{lits}]), 6) >= 0"
            f" THEN {1 << j} ELSE 0 END"
        )
    bucket = " + ".join(terms)
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(similarity.N_PLANES)]
    )
    return (
        _VEC_BASE
        + f"""
    , tq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
    tscored AS (
      SELECT q_id, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM tq JOIN n c ON c.vec_id != tq.q_id
    ),
    truth AS (
      SELECT q_id, nbr_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
        FROM tscored)
      WHERE rnk <= 5
    ),
    sig AS (SELECT vec_id, v, nrm, ({bucket}) AS bucket FROM n),
    aq AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn,
             unnest([{probe_list}]) AS probe_bucket
      FROM sig WHERE vec_id < 10
    ),
    ascored AS (
      SELECT q_id, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM aq JOIN sig c ON c.bucket = aq.probe_bucket AND c.vec_id != aq.q_id
    ),
    approx AS (
      SELECT q_id, nbr_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
        FROM ascored)
      WHERE rnk <= 5
    ),
    hits AS (
      SELECT t.q_id, count(*) AS n_hits
      FROM truth t JOIN approx a ON a.q_id = t.q_id AND a.nbr_id = t.nbr_id
      GROUP BY t.q_id
    ),
    qs AS (SELECT DISTINCT q_id FROM truth)
    SELECT qs.q_id,
           CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(5 AS BIGINT) AS n_truth,
           CAST(floor(COALESCE(hits.n_hits, 0) * 1000000.0 / 5) AS BIGINT)
             AS recall_micro
    FROM qs LEFT JOIN hits ON qs.q_id = hits.q_id
    """
    )


def _quantized_recall_oracle() -> str:
    """Exact-float truth CTEs vs dequantized-int8 brute-force CTEs, joined
    on (q_id, nbr_id) — measures retrieval damage from 4× compression."""
    return (
        _VEC_BASE
        + """
    , tq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
    tscored AS (
      SELECT q_id, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cos_r
      FROM tq JOIN n c ON c.vec_id != tq.q_id
    ),
    truth AS (
      SELECT q_id, nbr_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
        FROM tscored)
      WHERE rnk <= 5
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0::DOUBLE AS scale
      FROM n
    ),
    dq AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(round(x / scale) AS INT) * scale) AS dv
      FROM s
    ),
    dn AS (SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) AS dnrm FROM dq),
    aq AS (SELECT vec_id AS q_id, dv AS qv, dnrm AS qn FROM dn WHERE vec_id < 10),
    ascored AS (
      SELECT q_id, c.vec_id AS nbr_id,
             round(list_dot_product(qv, c.dv) / (qn * c.dnrm), 6) AS cos_r
      FROM aq JOIN dn c ON c.vec_id != aq.q_id
    ),
    approx AS (
      SELECT q_id, nbr_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, nbr_id) AS rnk
        FROM ascored)
      WHERE rnk <= 5
    ),
    hits AS (
      SELECT t.q_id, count(*) AS n_hits
      FROM truth t JOIN approx a ON a.q_id = t.q_id AND a.nbr_id = t.nbr_id
      GROUP BY t.q_id
    ),
    qs AS (SELECT DISTINCT q_id FROM truth)
    SELECT qs.q_id,
           CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(5 AS BIGINT) AS n_truth,
           CAST(floor(COALESCE(hits.n_hits, 0) * 1000000.0 / 5) AS BIGINT)
             AS recall_micro
    FROM qs LEFT JOIN hits ON qs.q_id = hits.q_id
    """
    )


@register("ann_quantized_recall_audit", oracle=_quantized_recall_oracle())
def ann_quantized_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-damage audit: per-query recall@5 of brute-force search
    over DEQUANTIZED int8 vectors against the exact float ground truth —
    the number that justifies (or vetoes) shipping the 4× smaller index.
    Same symmetric per-vector quantization as ``embedding_quantize_int8``
    (codes = round(x/scale), scale = absmax/127), reconstructed as
    code·scale before scoring, so the only error measured is the
    quantization itself. Both sides are the registered operators' shapes
    (broadcast 10-query side, per-query ranking window — never a global
    sort); at 100 TB the audit runs on the fixed query sample while the
    quantized index serves traffic."""
    emb = load_table(spark, "embeddings", sf_dir)
    truth = similarity.brute_force_topk(emb).select("q_id", "nbr_id")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        (F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    dq = e.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.round(x / F.col("scale")).cast("int") * F.col("scale")
        ).alias("embedding"),
    )
    approx = similarity.brute_force_topk(dq).select(
        F.col("q_id").alias("a_qid"), F.col("nbr_id").alias("a_nbr")
    )
    hits = (
        truth.join(
            approx,
            (F.col("q_id") == F.col("a_qid")) & (F.col("nbr_id") == F.col("a_nbr")),
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = truth.select("q_id").distinct()
    return qs.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.lit(5).cast("long").alias("n_truth"),
        F.floor(F.coalesce("n_hits", F.lit(0)) * 1_000_000 / 5)
        .cast("long")
        .alias("recall_micro"),
    )


@register("ann_recall_audit", oracle=_recall_audit_oracle())
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit: per-query recall@5 of the multi-probe sign-LSH
    index against the brute-force ground truth — the measurement a
    production vector store publishes next to its latency numbers. Pure
    composition: both sides are the registered operators themselves, joined
    on (q_id, nbr_id); recall lands on the integer micro-grid. At scale the
    truth side runs over a fixed audit SAMPLE of queries (here: the same
    10-query set every ANN variant uses), so the O(Q·N) exact pass stays
    bounded while the index serves full traffic."""
    emb = load_table(spark, "embeddings", sf_dir)
    truth = similarity.brute_force_topk(emb).select("q_id", "nbr_id")
    approx = similarity.hyperplane_topk_multiprobe(emb).select(
        F.col("q_id").alias("a_qid"), F.col("nbr_id").alias("a_nbr")
    )
    hits = (
        truth.join(
            approx,
            (F.col("q_id") == F.col("a_qid")) & (F.col("nbr_id") == F.col("a_nbr")),
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = truth.select("q_id").distinct()
    return qs.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.lit(5).cast("long").alias("n_truth"),
        F.floor(F.coalesce("n_hits", F.lit(0)) * 1_000_000 / 5)
        .cast("long")
        .alias("recall_micro"),
    )


# ---------------------------------------------------------------------------
# skew mitigation
# ---------------------------------------------------------------------------


@register(
    "skew_salted_agg",
    oracle="""
    SELECT event_type, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the 5-value ``event_type`` key (the
    hot-key shape that would funnel a 100 TB scan into 5 reducers): shuffle
    on (key, salt) with map-side combine, then a tiny final shuffle on key.
    The salt never reaches the result, so the plain GROUP BY oracle applies."""
    ev = load_table(spark, "events", sf_dir)
    out = skew.salted_agg(
        ev, aggs={"n_events": F.count(F.lit(1)), "total_value": F.sum("value")}
    )
    return out.select(
        "event_type", "n_events", F.round("total_value", 4).alias("total_value")
    )


@register(
    "skew_salted_join",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id, event_type, cents,
           CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT) AS type_total_cents
    FROM c
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-stats join on the 5-value hot key via salting: the skewed
    side scatters across (event_type, salt) sub-keys and the tiny stats side
    replicates to match, so one hot key's rows spread over n_salts
    partitions instead of one reducer. The salt never reaches the output —
    the oracle is a plain partition-total window."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", cents.alias("cents")
    )
    stats = ev.groupBy("event_type").agg(
        F.sum("cents").alias("type_total_cents")
    )
    return skew.salted_join(ev, stats).select("event_id", "event_type", "cents", "type_total_cents")


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def _features_oracle() -> str:
    nibs = ", ".join(f"{_nib('h', k)} AS x{k}" for k in range(1, 9))
    return f"""
    WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS n_bytes
               FROM documents),
    nibs AS (SELECT doc_id, h, n_bytes, {nibs} FROM m)
    SELECT doc_id, 'text/plain' AS mime, n_bytes, h AS content_md5,
           ((x1 * 16 + x2) * 256 + (x3 * 16 + x4)) % 1024 AS fake_width,
           ((x5 * 16 + x6) * 256 + (x7 * 16 + x8)) % 1024 AS fake_height
    FROM nibs
    """


@register("multimodal_features", oracle=_features_oracle())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched ``mapInPandas``
    (deterministic fake decode — real codecs are stubbed, see
    operators/multimodal.py); the oracle recomputes the md5-byte features."""
    return multimodal.extract_features(
        multimodal.with_payload(load_table(spark, "documents", sf_dir))
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             greatest(CAST(ceil(octet_length(encode(text)) / {multimodal.FRAME_BYTES}) AS BIGINT), 1) AS n_frames
      FROM documents
    ),
    idx AS (SELECT doc_id, text, unnest(generate_series(0, n_frames - 1)) AS i FROM d)
    SELECT doc_id, i AS frame_idx,
           length(substr(text, i * {multimodal.FRAME_BYTES} + 1, {multimodal.FRAME_BYTES})) AS n_frame_bytes,
           md5(substr(text, i * {multimodal.FRAME_BYTES} + 1, {multimodal.FRAME_BYTES})) AS frame_md5
    FROM idx WHERE i % {multimodal.FRAME_STRIDE} = 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: 1:many row-exploding ``mapInPandas`` over binary
    payloads (64-byte frames, stride 4). ASCII fixtures make byte slices and
    char substrings coincide, so DuckDB can check the hashes exactly."""
    return multimodal.sample_frames(
        multimodal.with_payload(load_table(spark, "documents", sf_dir))
    )


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, lang,
             len({_TOKS}) AS n_toks,
             md5({_NORM}) AS content_hash
      FROM documents
      WHERE n_chars >= 100
    ),
    quality AS (SELECT * FROM scored WHERE n_toks >= 20),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    sampled AS (
      SELECT * FROM kept
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
    )
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens
    FROM sampled GROUP BY source, lang
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages a training-data run actually chains, as ONE
    declarative plan Catalyst optimizes end-to-end: length+token quality
    gate (pushed to the scan where possible) → exact dedup keeping the
    lowest doc_id per content hash (one window shuffle on the near-uniform
    hash) → deterministic 50% hash sample (pure filter, partitioning-
    independent) → per-(source, lang) accounting. No stage materializes an
    intermediate dataset."""
    from postgres_cdc_example_spark.operators.sampling import hash_bucket

    docs = load_table(spark, "documents", sf_dir).filter(F.col("n_chars") >= 100)
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(dedup.word_tokens(F.col("text"))).alias("n_toks"),
        F.md5(dedup.normalized(F.col("text"))).alias("content_hash"),
    ).filter(F.col("n_toks") >= 20)
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash").orderBy("doc_id")
    kept = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(hash_bucket(F.col("doc_id")) < "80")
    )
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# corpus curation: deterministic sampling, quantization, redaction
# ---------------------------------------------------------------------------

from postgres_cdc_example_spark.operators import sampling  # noqa: E402


@register(
    "sample_hash_10pct",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
    """,
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via md5-prefix threshold on the stable key:
    reproducible across runs/engines/partitionings (unlike Bernoulli
    df.sample), pure per-row filter — no shuffle, pushdown-compatible."""
    return sampling.hash_sample(load_table(spark, "documents", sf_dir)).select("doc_id", "source")


@register(
    "sample_weighted",
    oracle="""
    WITH w AS (
      SELECT doc_id, source, greatest(length(text), 1) AS w_chars FROM documents
    ),
    k AS (
      SELECT doc_id, source, w_chars,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              * 1000000) // w_chars AS key_micro
      FROM w
    ),
    top AS (
      SELECT * FROM k ORDER BY key_micro, doc_id LIMIT 100
    )
    SELECT doc_id, source, w_chars, key_micro,
           row_number() OVER (ORDER BY key_micro, doc_id) AS rank
    FROM top
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling (length-weighted, k=100):
    each doc gets an integer key ``h·1e6 div w`` where ``h`` is the 32-bit
    md5 prefix of the stable id and ``w`` its char length; the k SMALLEST
    keys win. Since ``P(h/w < t) ≈ t·w/2^32``, inclusion probability is
    ∝ weight at small sampling fractions — the integer-exact first-order
    form of Efraimidis–Spirakis (their ``-ln(u)/w`` key ≈ ``(1-u)/w`` for
    the small keys that matter, and ``1-u`` is as uniform as ``h``), with
    ZERO transcendentals: pure int64 arithmetic, bit-identical on any
    engine, reproducible under any partitioning. Plan: the top-k is
    ``orderBy().limit()`` → TakeOrdered (per-partition partial top-k, no
    global sort); the rank window runs over the 100 survivors only."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        F.greatest(F.length("text"), F.lit(1)).cast("long").alias("w_chars"),
    )
    # conv() returns STRING — cast to bigint BEFORE the multiply, or Spark's
    # non-ANSI coercion runs string * bigint in DOUBLE and the key is no
    # longer exact integer arithmetic
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    keyed = (
        docs.withColumn("h", h)
        .withColumn("key_micro", F.expr("(h * 1000000L) div w_chars"))
        .drop("h")
    )
    top = keyed.orderBy("key_micro", "doc_id").limit(100)
    w = Window.orderBy("key_micro", "doc_id")
    return top.withColumn("rank", F.row_number().over(w))


@register(
    "sample_stratified",
    oracle="""
    SELECT source, count(*) AS n_sampled
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE WHEN source = 'src1' THEN '80'
               WHEN source = 'src0' THEN '80'
               ELSE '1a' END
    GROUP BY source
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified rates via per-stratum hash thresholds: keep ~50% of the
    curated sources (src0/src1), ~10% of everything else."""
    sampled = sampling.stratified_sample(load_table(spark, "documents", sf_dir))
    return sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0::DOUBLE AS scale
      FROM e
    ),
    qd AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(round(x / scale) AS INT)) AS q
      FROM s
    )
    SELECT vec_id,
           CAST(floor(scale * 1e9) AS BIGINT) AS scale_nano,
           q[1] AS q_first,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1_norm,
           CAST(floor(list_max(list_transform(generate_series(1, len(v)),
                i -> abs(v[i] - q[i] * scale))) * 1e9) AS BIGINT) AS max_abs_err_nano
    FROM qd
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (4× storage cut) with integer
    audit columns: scale, first code, L1 norm of codes, and the worst-case
    reconstruction error in nano units."""
    return sampling.quantize_int8(load_table(spark, "embeddings", sf_dir))


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_URL_RE = r"https?://[^ ]+"


@register(
    "text_redact",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<email>', 'g'),
                              '{_URL_RE}', '<url>', 'g')) AS redacted_hash
    FROM documents
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction pass (emails/URLs): match counts + the hash of
    the redacted text, all JVM-side regex (same RE2-compatible patterns run
    in the oracle)."""
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<email>"), _URL_RE, "<url>"
    )
    return load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_URL_RE), 0)).alias("n_urls"),
        F.md5(redacted).alias("redacted_hash"),
    )


@register(
    "common_ngram_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 4, 1)),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])
             ))) AS g
      FROM toks WHERE len(tk) >= 1
    )
    SELECT g AS span, count(*) AS n_docs
    FROM grams GROUP BY g HAVING count(*) >= 3
    """,
)
def common_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: word-5-gram spans shared by >= 3 documents —
    the repeated headers/footers/license blocks that exact-dedup misses
    because the surrounding document differs. Explode to rows + one count
    shuffle on the gram (inverted-index build); at 100 TB this doubles as
    the hot-span list fed to a removal pass. (Threshold 3, not 5: the
    fixtures top out at 3-4 sharers, and a 0-row result would make the
    driver's value check vacuous.)"""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(dedup.word_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    n = 5
    leads = toks.select(
        "doc_id",
        "pos",
        *[F.lead("tok", j).over(w).alias(f"t{j}") for j in range(n)],
    )
    gram = F.concat_ws(" ", *[F.col(f"t{j}") for j in range(n)])
    grams = (
        leads.filter(F.col(f"t{n-1}").isNotNull() | (F.col("pos") == 0))
        .select("doc_id", gram.alias("span"))
        .distinct()
    )
    return (
        grams.groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
    )


@register(
    "lang_mix_by_source",
    oracle="""
    WITH c AS (SELECT source, lang, count(*) AS n_docs FROM documents GROUP BY source, lang),
    t AS (SELECT source, sum(n_docs) AS total FROM c GROUP BY source)
    SELECT c.source, c.lang, c.n_docs,
           round(100.0 * c.n_docs / t.total, 4) AS pct_of_source
    FROM c JOIN t ON c.source = t.source
    """,
)
def lang_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language composition per source (the curation dashboard staple).
    Percentages derive from exact integer counts, so the ratio is
    deterministic; the per-source total reuses the grouped counts (no second
    scan of documents)."""
    c = (
        load_table(spark, "documents", sf_dir)
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    t = c.groupBy("source").agg(F.sum("n_docs").alias("total"))
    return c.join(F.broadcast(t), "source").select(
        "source",
        "lang",
        "n_docs",
        F.round(F.lit(100.0) * F.col("n_docs") / F.col("total"), 4).alias(
            "pct_of_source"
        ),
    )


@register(
    "multimodal_resize",
    oracle="""
    WITH r AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS orig_bytes,
             greatest(CAST(ceil(octet_length(encode(text)) * 0.5) AS BIGINT), 1)
               AS n_bytes
      FROM documents
    )
    SELECT doc_id, n_bytes, orig_bytes,
           md5(substr(text, 1, CAST(n_bytes AS INT))) AS resized_md5
    FROM r
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary→binary resize stage (Arrow both directions); the md5 audit
    column lets downstream stages verify payload integrity without
    re-reading bytes. The binary payload itself is dropped from the result
    (driver output must be scalar); the size contract (out = ceil(in×0.5))
    AND the truncated-payload md5 are oracle-checked — ASCII fixtures make
    byte slices and char substrings coincide, exactly as in
    ``multimodal_frame_sample``."""
    return multimodal.resize_payload(
        multimodal.with_payload(load_table(spark, "documents", sf_dir))
    ).drop("payload")


@register(
    "sample_quota_per_source",
    oracle="""
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 40
    """,
)
def sample_quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling: exactly min(40, |source|) docs per source by
    deterministic hash rank — small sources survive whole, huge ones are
    capped, and the selection is identical on any engine/partitioning."""
    from postgres_cdc_example_spark.operators import sampling

    return sampling.quota_sample(load_table(spark, "documents", sf_dir)).select("source", "doc_id")


@register(
    "user_event_sequences",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '|') AS actions,
           count(*) AS n_events,
           date_diff('microsecond', min(ts), max(ts)) AS span_us
    FROM events
    GROUP BY user_id
    """,
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence assembly: each user's chronologically-ordered action list —
    the row shape sequence-model training data actually ships in. One
    shuffle on user_id; ordering comes from ``array_sort`` over
    (ts, event_id, type) structs AFTER the aggregate (collect_list order is
    nondeterministic under parallel merge — sorting inside the row is the
    only shape that survives distributed execution), then a projection back
    to the bare action strings."""
    ev = load_table(spark, "events", sf_dir)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq_struct = F.struct(
        ts_us.alias("us"), F.col("event_id").alias("eid"), F.col("event_type").alias("et")
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(seq_struct)).alias("seq"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max(ts_us) - F.min(ts_us)).alias("span_us"),
        )
        .select(
            "user_id",
            # '|'-joined scalar, not array<string>: array cells are unhashable
            # in the driver's pandas canonicalizer
            F.array_join(F.transform("seq", lambda s: s["et"]), "|").alias("actions"),
            "n_events",
            "span_us",
        )
    )


@register(
    "pack_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
             len({_TOKS}) AS n_toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, bucket, n_toks,
             sum(n_toks) OVER (PARTITION BY bucket ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t
    ),
    p AS (
      SELECT bucket, CAST(floor((cum - n_toks) / 2048) AS BIGINT) AS pack_id,
             doc_id, n_toks
      FROM c
    )
    SELECT bucket, pack_id, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc
    FROM p GROUP BY bucket, pack_id
    """,
)
def pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample packing: assign documents to fixed-token-budget packs (2048
    tokens) — the batch-assembly step of an LLM training pipeline. Docs are
    hash-spread into 16 independent buckets (so packing parallelizes — a
    global greedy pack would serialize on one cumulative sum), then packed
    greedily by running token sum inside each bucket; ``pack_id`` = the pack
    the doc STARTS in (straddling is the downstream concatenator's problem,
    as in standard sequence packing). Everything is one window over
    (bucket, doc order) + one aggregate."""
    from postgres_cdc_example_spark.operators.sampling import hash_bucket

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("bucket"),
        F.size(dedup.word_tokens(F.col("text"))).alias("n_toks"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = t.select(
        "bucket",
        "doc_id",
        "n_toks",
        F.floor((F.sum("n_toks").over(w) - F.col("n_toks")) / F.lit(2048)).alias(
            "pack_id"
        ),
    )
    return p.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


FFD_CAP = 2048  # pack capacity (tokens), same budget as pack_documents
FFD_DRIVER_MAX = 100_000  # exact-FFD threshold (the union-find precedent)


class _FirstFitTree:
    """Segment tree over bin remaining-capacities: leftmost bin with
    rem >= x in O(log n) — exact FFD at the driver is O(n log n), not the
    O(n * bins) linear scan that would stall at the 100k threshold."""

    def __init__(self, n: int) -> None:
        size = 1
        while size < max(n, 1):
            size *= 2
        self.size = size
        self.t = [-1] * (2 * size)

    def update(self, i: int, v: int) -> None:
        i += self.size
        self.t[i] = v
        i //= 2
        while i:
            self.t[i] = max(self.t[2 * i], self.t[2 * i + 1])
            i //= 2

    def leftmost_ge(self, x: int) -> int:
        if self.t[1] < x:
            return -1
        i = 1
        while i < self.size:
            i = 2 * i if self.t[2 * i] >= x else 2 * i + 1
        return i - self.size


def _ffd_assign(
    items: list[tuple[int, int]]
) -> tuple[list[tuple[int, int, int]], dict[int, int]]:
    """Serial first-fit-decreasing into ``FFD_CAP``-token bins over
    (doc_id, n_toks) sorted by (n_toks desc, doc_id): each item lands in the LOWEST-indexed bin with
    room (oversized items open their own over-full bin, like the oracle).
    Returns (doc_id, n_toks, bin_id) rows and per-bin fills."""
    tree = _FirstFitTree(len(items))
    rem: list[int] = []
    fill: dict[int, int] = {}
    out = []
    for did, nt in items:
        ix = tree.leftmost_ge(nt)
        if ix == -1 or ix >= len(rem):
            rem.append(FFD_CAP - nt)
            ix = len(rem) - 1
        else:
            rem[ix] -= nt
        tree.update(ix, rem[ix])
        fill[ix + 1] = fill.get(ix + 1, 0) + nt
        out.append((did, nt, ix + 1))
    return out, fill


def _pack_harmonic(t: DataFrame) -> DataFrame:
    """Distributed harmonic-class packing — the >threshold arm: with
    cap = ``FFD_CAP``, items of size in (cap/(k+1), cap/k] pack exactly k per bin, so per-bin fill
    <= k * (cap div k) <= cap BY CONSTRUCTION and the whole assignment is
    a two-pass distributed rank (per-(class, n_toks) bucket windows +
    broadcast offsets from a <= cap-row histogram — the
    ``corpus_shuffle_order`` shape), never a serial scan. Classic harmonic
    bin packing (~1.69x OPT asymptotically vs FFD's 11/9) — the documented
    approximation trade for unbounded scale."""
    kcls = F.greatest(
        F.when(
            F.col("n_toks") > 0,
            F.least(F.expr(f"{FFD_CAP} div n_toks"), F.lit(FFD_CAP)),
        ).otherwise(F.lit(FFD_CAP)),
        F.lit(1),
    ).cast("long")
    t2 = t.withColumn("kcls", kcls)
    wb = Window.partitionBy("kcls", "n_toks").orderBy("doc_id")
    ranked = t2.withColumn("rk", F.row_number().over(wb))
    hist = t2.groupBy("kcls", "n_toks").agg(F.count(F.lit(1)).alias("nb"))
    wo = (
        Window.partitionBy("kcls")
        .orderBy(F.col("n_toks").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = hist.select(
        "kcls", "n_toks", (F.sum("nb").over(wo) - F.col("nb")).alias("off")
    )
    cls = hist.groupBy("kcls").agg(F.sum("nb").alias("cn"))
    cls = cls.withColumn(
        "cls_bins",
        F.expr("CAST(ceil(CAST(cn AS DOUBLE) / kcls) AS BIGINT)"),
    )
    wc = Window.orderBy("kcls").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cls_off = cls.select(
        "kcls", (F.sum("cls_bins").over(wc) - F.col("cls_bins")).alias("boff")
    )
    assigned = (
        ranked.join(F.broadcast(off), ["kcls", "n_toks"])
        .join(F.broadcast(cls_off), "kcls")
        .select(
            "doc_id",
            "n_toks",
            (
                F.col("boff")
                + F.expr("(off + rk - 1) div kcls")
                + F.lit(1)
            )
            .cast("long")
            .alias("bin_id"),
        )
    )
    fills = assigned.groupBy("bin_id").agg(
        F.sum("n_toks").cast("long").alias("bin_fill")
    )
    return assigned.join(fills, "bin_id").select(
        "doc_id", "n_toks", "bin_id", "bin_fill"
    )


def _pack_documents_ffd(
    spark: SparkSession, sf_dir: str, driver_max: int = FFD_DRIVER_MAX
) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    if t.count() <= driver_max:
        items = [(int(r["doc_id"]), int(r["n_toks"])) for r in t.collect()]
        items.sort(key=lambda r: (-r[1], r[0]))
        rows, fill = _ffd_assign(items)
        return spark.createDataFrame(
            [(d, nt, b, fill[b]) for d, nt, b in rows],
            "doc_id long, n_toks long, bin_id long, bin_fill long",
        )
    return _pack_harmonic(t)


_FFD_FIT = "NULLIF(list_position(list_transform(f.bins, b -> b >= i.n_toks), true), 0)"


@register(
    "pack_documents_ffd",
    oracle=f"""
    WITH RECURSIVE items AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks,
             row_number() OVER (ORDER BY len({_TOKS}) DESC, doc_id) AS rn
      FROM documents
    ),
    ffd AS (
      SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS bins,
             CAST(NULL AS BIGINT) AS bin_id, CAST(NULL AS BIGINT) AS doc_id,
             CAST(NULL AS BIGINT) AS n_toks
      UNION ALL
      SELECT i.rn,
             CASE WHEN {_FFD_FIT} IS NULL
                  THEN list_append(f.bins, {FFD_CAP} - i.n_toks)
                  ELSE list_transform(f.bins, (b, ix) ->
                         CASE WHEN ix = {_FFD_FIT} THEN b - i.n_toks ELSE b END)
             END,
             CAST(COALESCE({_FFD_FIT}, len(f.bins) + 1) AS BIGINT),
             i.doc_id, i.n_toks
      FROM ffd f JOIN items i ON i.rn = f.rn + 1
    ),
    asg AS (SELECT doc_id, n_toks, bin_id FROM ffd WHERE doc_id IS NOT NULL)
    SELECT asg.doc_id, asg.n_toks, asg.bin_id, bf.bin_fill
    FROM asg JOIN (
      SELECT bin_id, CAST(sum(n_toks) AS BIGINT) AS bin_fill
      FROM asg GROUP BY bin_id
    ) bf ON bf.bin_id = asg.bin_id
    """,
)
def pack_documents_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing v2 — first-fit-decreasing: docs sorted by (token count desc,
    doc_id) each land in the lowest-indexed {FFD_CAP}-token bin with room
    (the 11/9-OPT classic), with a per-doc ``bin_fill`` utilization audit
    column. Two arms behind one contract, the ``dedup_clusters`` threshold
    pattern: at <= {FFD_DRIVER_MAX} docs the assignment is EXACT serial FFD
    at the driver over collected (id, count) pairs — bounded metadata, the
    corpus itself never leaves the executors, and first-fit runs through a
    segment tree (O(n log n)) — while above the threshold it switches to
    the fully-distributed harmonic-class packing (k items of size <=
    cap/k per bin => fill <= cap by construction; two-pass bucket-rank +
    broadcast offsets, no serial state anywhere). The oracle replays exact
    FFD as a 1-row-per-step recursive CTE carrying the bin-capacity list
    (sharp edge pinned there: DuckDB ``list_position`` returns 0, not
    NULL, on no-match). Property tests pin both arms: serial-replay
    equality for the exact arm, fill <= cap + determinism + utilization
    >= the running-sum baseline for the harmonic arm."""
    return _pack_documents_ffd(spark, sf_dir)


@register(
    "corpus_shuffle_order",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents
    )
    SELECT doc_id, substr(hh, 1, 2) AS bucket,
           row_number() OVER (ORDER BY hh, doc_id) - 1 AS global_pos
    FROM h
    """,
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a stable
    pseudo-random position (its rank under the md5 hash order) —
    reproducible across runs, engines, and partitionings, unlike
    ``orderBy(rand())``. The oracle states the spec as one global
    ``row_number``; the ENGINE computes the identical value with the
    two-pass distributed shape a 100 TB corpus needs: per-bucket ranks
    (window keyed on the 256-value md5 prefix — the big data never passes
    through one reducer) plus broadcast cumulative bucket offsets (a
    256-row aggregate). Equivalence holds because the bucket is a PREFIX of
    the sort key: global hash order sorts bucket-major, so global_pos =
    offset(bucket) + rank-within-bucket."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hh")
    )
    t = docs.withColumn("bucket", F.substring("hh", 1, 2))
    wb = Window.partitionBy("bucket").orderBy("hh", "doc_id")
    ranked = t.withColumn("rk", F.row_number().over(wb))
    # 256-row bucket histogram; the cumulative window over it is bounded
    # driver-scale work, then broadcast back onto the big side
    counts = t.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    wo = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "bucket", (F.sum("n").over(wo) - F.col("n")).alias("offset")
    )
    return ranked.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "bucket",
        (F.col("offset") + F.col("rk") - 1).cast("long").alias("global_pos"),
    )


CHUNK_TOKENS = 32  # retrieval chunk length
CHUNK_STRIDE = 24  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 8 tokens


@register(
    "doc_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    c AS (
      SELECT doc_id, len(tk) AS n_toks,
             unnest(generate_series(0, (len(tk) - 1) // {CHUNK_STRIDE})) AS i,
             tk
      FROM t WHERE len(tk) > 0
    )
    SELECT doc_id, i AS chunk_idx, i * {CHUNK_STRIDE} AS start_tok,
           len(tk[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}])
             AS chunk_len,
           md5(array_to_string(
               tk[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' '))
             AS chunk_md5
    FROM c
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the retrieval/RAG prep step:
    split each doc into 32-token windows with stride 24 (8-token overlap so
    no boundary sentence is lost). Output is the chunk TABLE (doc_id,
    chunk_idx, start_tok, chunk_len, chunk_md5) — the md5 stands in for the
    chunk payload so oracles compare exactly without shipping text. Pure
    per-row explode of a sequence+slice projection: no shuffle at all
    (plan-pinned), fully fused into the scan; chunk count is ceil(n/24), so
    output rows ≈ corpus_tokens/24 — the linear blow-up a chunk store
    budgets for. Zero-token docs produce no chunks on either engine."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id", dedup.word_tokens(F.col("text")).alias("tk")
    ).filter(F.size("tk") > 0)
    return t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(tk) - 1) div {CHUNK_STRIDE}),"
                f" i -> struct(i AS chunk_idx, i * {CHUNK_STRIDE} AS start_tok,"
                f" slice(tk, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}) AS ck))"
            )
        ).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.start_tok").cast("long").alias("start_tok"),
        F.size("c.ck").cast("long").alias("chunk_len"),
        F.md5(F.concat_ws(" ", F.col("c.ck"))).alias("chunk_md5"),
    )


# sign-LSH planes over the 24-dim hour profile. Planes must scale ~log(U):
# 4 planes (16 buckets) left ~94 users/bucket at sf0.1 → 1.77M scored pairs
# and ~4.5 s of cosine evaluation; 6 planes (64 buckets) cuts candidate
# occupancy ~4× at identical oracle parity (the oracle replays the same
# weight literals, so bucketing matches exactly at any plane count).
PROFILE_PLANES = 6
PROFILE_DIM = 24


def _profile_similarity_oracle() -> str:
    terms = []
    for j, row in enumerate(
        similarity.hyperplane_weights(PROFILE_PLANES, PROFILE_DIM)
    ):
        lits = ", ".join(repr(x) for x in row)
        terms.append(
            f"CASE WHEN round(list_dot_product(v, [{lits}]), 6) >= 0"
            f" THEN {1 << j} ELSE 0 END"
        )
    bucket = " + ".join(terms)
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(PROFILE_PLANES)]
    )
    return f"""
    WITH h AS (
      SELECT user_id, hour(ts) AS hr, count(*) AS n
      FROM events GROUP BY user_id, hour(ts)
    ),
    m AS (
      SELECT user_id,
             map(list(hr ORDER BY hr), list(CAST(n AS DOUBLE) ORDER BY hr)) AS mp
      FROM h GROUP BY user_id
    ),
    prof AS (
      SELECT user_id,
             list_transform(generate_series(0, 23),
               g -> COALESCE(map_extract(mp, g)[1], 0.0)) AS v
      FROM m
    ),
    n AS (SELECT user_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM prof),
    sig AS (SELECT user_id, v, nrm, ({bucket}) AS bucket FROM n),
    q AS (
      SELECT user_id AS user_a, v AS va, nrm AS na,
             unnest([{probe_list}]) AS probe_bucket
      FROM sig
    ),
    scored AS (
      SELECT user_a, b.user_id AS user_b,
             round(list_dot_product(va, b.v) / (na * b.nrm), 6) AS cos_r
      FROM q JOIN sig b ON b.bucket = q.probe_bucket AND b.user_id != q.user_a
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_a ORDER BY cos_r DESC, user_b) AS rnk
      FROM scored
    )
    SELECT user_a, user_b, rnk AS rank, cos_r FROM ranked WHERE rnk <= 5
    """


@register("user_profile_similarity", oracle=_profile_similarity_oracle())
def user_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity, relationally: each user's 24-hour activity
    histogram becomes a dense profile vector (counts → exact integer dot
    products), then cosine top-5 neighbors per user via multi-probe sign-LSH
    — the same hyperplane machinery as ``ann_hyperplane_multiprobe``, reused
    over profile vectors instead of stored embeddings. Users grow with data,
    so the r1 all-pairs self-join (O(U²)) is replaced by a bucketed join:
    each user scores only candidates in its bucket or a Hamming-1 probe
    bucket (×(planes+1) row expansion on the probe side only). The join
    shuffles on bucket id; at larger U raise ``PROFILE_PLANES`` so bucket
    occupancy, not pair count, stays the working-set bound. The oracle
    replicates the identical bucketing from the same weight literals, so the
    match is exact, not recall-approximate."""
    ev = load_table(spark, "events", sf_dir)
    h = ev.groupBy("user_id", F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    prof = h.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("hr"), F.col("n").cast("double")))
        ).alias("m")
    ).select(
        "user_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda g: F.coalesce(F.element_at(F.col("m"), g), F.lit(0.0)),
        ).alias("v"),
    )
    weights = similarity.hyperplane_weights(PROFILE_PLANES, PROFILE_DIM)
    sig = prof.withColumn("nrm", similarity.norm(F.col("v"))).withColumn(
        "bucket", similarity.hyperplane_bucket(F.col("v"), weights)
    )
    # Both sides of the bucket self-join derive from `sig`; without a
    # materialization the whole events aggregation DAG executes twice (the
    # projections differ, so exchange reuse does not fire). The profile
    # table is one row per user — tiny relative to events — so production
    # materializes it before self-joining; measured 5.0 s -> ~2.5 s at sf0.1.
    # Repartition BEFORE the checkpoint: AQE coalesces the small user
    # aggregate to ONE shuffle partition, and a 1-partition checkpoint
    # serializes the downstream probe join + cosine scoring (the pair-scale
    # work) through a single task — measured another 3.2 s -> ~1 s at
    # sf0.1 (the dedup_embedding_cosine one-task trap, AQE-induced here).
    sig = sig.repartition(
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(PROFILE_PLANES)],
    )
    a = sig.select(
        F.col("user_id").alias("user_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(probes).alias("probe_bucket"),
    )
    b = sig.select(
        F.col("user_id").alias("user_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("bucket").alias("b_bucket"),
    )
    from pyspark.sql import Window

    scored = a.join(
        b,
        (F.col("b_bucket") == F.col("probe_bucket"))
        & (F.col("user_a") != F.col("user_b")),
    ).select(
        "user_a",
        "user_b",
        similarity.cosine_rounded(
            F.col("va"), F.col("na"), F.col("vb"), F.col("nb")
        ).alias("cos_r"),
    )
    w = Window.partitionBy("user_a").orderBy(F.col("cos_r").desc(), F.col("user_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("user_a", "user_b", "rank", "cos_r")
    )


# --- embedding-space domain monitoring + quality-aware dedup (round 4) ---------


@register(
    "embedding_source_drift",
    oracle="""
    WITH j AS (
      SELECT d.source, e.embedding::DOUBLE[] AS v
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ),
    ex AS (
      SELECT source, i AS pos, CAST(round(v[i] * 1e9) AS BIGINT) AS nano
      FROM j, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    sm AS (
      SELECT source, pos, CAST(sum(nano) AS BIGINT) AS s, count(*) AS c
      FROM ex GROUP BY source, pos
    ),
    sv AS (
      SELECT source,
             list(CAST(s AS DOUBLE) / (CAST(c AS DOUBLE) * 1e9) ORDER BY pos) AS mv,
             CAST(max(c) AS BIGINT) AS n_vecs
      FROM sm GROUP BY source
    ),
    cm AS (
      SELECT pos, CAST(sum(s) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) * 1e9) AS m
      FROM sm GROUP BY pos
    ),
    cv AS (SELECT list(m ORDER BY pos) AS corpus_v FROM cm)
    SELECT source, n_vecs,
           round(list_dot_product(mv, corpus_v)
                 / (sqrt(list_dot_product(mv, mv))
                    * sqrt(list_dot_product(corpus_v, corpus_v))), 6) AS drift_cos
    FROM sv, cv
    """,
)
def embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space domain drift: cosine between each source's embedding
    CENTROID and the whole-corpus centroid — the vector-space twin of
    ``source_token_kl`` (a source whose content drifts from the mix moves
    its centroid before loss moves). Exactness: per-dimension means are
    integer nano-grid sums divided once in double (the ``kmeans_centroids``
    policy — no float summation-order drift), assembled into an ordered
    vector via sort-by-position, and the final cosine is the in-order
    left fold, bit-identical to DuckDB's ``list_dot_product``.
    Shuffles: one vec_id join + one (source × dim)-keyed aggregation — the
    corpus centroid derives from the per-source sums (no second scan) and
    broadcasts as one row."""
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    ex = emb.join(docs, "vec_id").select(
        "source",
        F.posexplode(similarity.as_double(F.col("embedding"))).alias("pos", "x"),
    )
    sm = ex.groupBy("source", "pos").agg(
        F.sum(F.round(F.col("x") * F.lit(1e9)).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    mean = (F.col("s").cast("double") / (F.col("c").cast("double") * F.lit(1e9))).alias("m")
    sv = (
        sm.select("source", "pos", mean, "c")
        .groupBy("source")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("mv"),
            F.max("c").cast("long").alias("n_vecs"),
        )
    )
    cvec = (
        sm.groupBy("pos")
        .agg((F.sum("s").cast("double") / (F.sum("c").cast("double") * F.lit(1e9))).alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("corpus_v")
        )
    )
    return sv.crossJoin(F.broadcast(cvec)).select(
        "source",
        "n_vecs",
        F.round(
            similarity.dot(F.col("mv"), F.col("corpus_v"))
            / (
                F.sqrt(similarity.dot(F.col("mv"), F.col("mv")))
                * F.sqrt(similarity.dot(F.col("corpus_v"), F.col("corpus_v")))
            ),
            6,
        ).alias("drift_cos"),
    )


SEQ_BIN_TOKENS = 16  # histogram bin width (tokens)


@register(
    "seq_len_histogram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
    b AS (SELECT CAST(n // {SEQ_BIN_TOKENS} AS BIGINT) AS bin, n FROM toks),
    h AS (
      SELECT bin, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
      FROM b GROUP BY bin
    )
    SELECT bin * {SEQ_BIN_TOKENS} AS bin_start,
           n_docs,
           total_tokens,
           CAST(floor(n_docs * 1000000.0 / sum(n_docs) OVER ()) AS BIGINT)
             AS share_micro,
           CAST(sum(n_docs) OVER (ORDER BY bin) AS BIGINT) AS cum_docs
    FROM h
    """,
)
def seq_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution in fixed token bins — the planning input
    for context packing (``pack_documents``) and truncation-loss estimates:
    how many docs and tokens land in each length band, each band's share of
    the corpus, and the cumulative doc count below it. One tokenizing scan
    + one bin-keyed aggregate; the bin count is bounded by max_len/width,
    so the window pass over the HISTOGRAM (not the docs) is effectively
    free and the whole result always broadcasts."""
    docs = load_table(spark, "documents", sf_dir)
    n = F.size(dedup.word_tokens(F.col("text"))).cast("long")
    b = docs.select(F.floor(n / SEQ_BIN_TOKENS).cast("long").alias("bin"), n.alias("n"))
    from pyspark.sql import Window

    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
        )
        .select(
            (F.col("bin") * SEQ_BIN_TOKENS).alias("bin_start"),
            "n_docs",
            "total_tokens",
            F.floor(
                F.col("n_docs") * F.lit(1_000_000.0) / F.sum("n_docs").over(w_all)
            )
            .cast("long")
            .alias("share_micro"),
            F.sum("n_docs").over(w_cum).cast("long").alias("cum_docs"),
        )
    )


def _keeper_oracle() -> str:
    from postgres_cdc_example_spark.queries import llmdata as _lm

    return f"""
    WITH comp AS (SELECT doc_id, component, n_docs FROM ({_clusters_oracle()})),
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    feats AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(tk, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
      FROM toks WHERE len(tk) > 0
    ),
    q AS (
      SELECT doc_id,
             CAST(floor(1000000 / (1 + exp(-(
               CAST({_lm.QC_BIAS} AS DOUBLE)
                 + CAST({_lm.QC_W_STOP} AS DOUBLE) * n_stop / n_tokens
                 + CAST({_lm.QC_W_DISTINCT} AS DOUBLE) * n_distinct / n_tokens
                 + CAST({_lm.QC_W_LEN} AS DOUBLE) * abs(n_tokens - 150)))) + 0.5)
               AS BIGINT) AS quality_micro
      FROM feats
    ),
    r AS (
      SELECT comp.component, comp.n_docs, comp.doc_id, q.quality_micro,
             row_number() OVER (PARTITION BY comp.component
                                ORDER BY q.quality_micro DESC, comp.doc_id) AS rn
      FROM comp JOIN q USING (doc_id)
    )
    SELECT component, n_docs, doc_id AS keeper_id, quality_micro AS keeper_quality_micro
    FROM r WHERE rn = 1
    """


@register("dedup_keeper_by_quality", oracle=_keeper_oracle())
def dedup_keeper_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection: per near-dup cluster, keep the
    HIGHEST-QUALITY member (frozen-classifier score, ties -> lowest doc_id)
    instead of an arbitrary min-id — the selection rule production dedup
    pipelines actually want, since near-dup clusters often mix a clean
    original with boilerplate-wrapped copies. Pure composition: the
    connected-components cluster table joined to the zero-shuffle quality
    projection, one window per cluster (cluster sizes are near-dup-bounded,
    so the window never sees a skewed key)."""
    from postgres_cdc_example_spark.queries.llmdata import quality_linear_score

    cc = dedup_clusters(spark, sf_dir)
    q = quality_linear_score(spark, sf_dir).select("doc_id", "quality_micro")
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col("quality_micro").desc(), F.col("doc_id")
    )
    return (
        cc.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "n_docs",
            F.col("doc_id").alias("keeper_id"),
            F.col("quality_micro").alias("keeper_quality_micro"),
        )
    )


COV_DIM = 64  # fixture embedding dimension (similarity.EMB_DIM)

# shared CTE chain for the covariance family: micro-grid vectors, exact
# upper-triangle second moments (HUGEINT), per-dimension mean sums, count
_COV_CTES = f"""e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v
      FROM embeddings
    ),
    tri AS (
      SELECT unnest(flatten(list_transform(generate_series(1, {COV_DIM}),
               i -> list_transform(generate_series(i, {COV_DIM}),
                 j -> {{'i': i - 1, 'j': j - 1, 'p': v[i] * v[j]}})))) AS t
      FROM e
    ),
    mom AS (
      SELECT t.i AS i, t.j AS j, sum(CAST(t.p AS HUGEINT)) AS sxy
      FROM tri GROUP BY 1, 2
    ),
    m AS (
      SELECT u.i - 1 AS i, CAST(sum(v[u.i]) AS BIGINT) AS s
      FROM e, unnest(generate_series(1, {COV_DIM})) AS u(i) GROUP BY 1
    ),
    nv AS (SELECT count(*) AS n FROM e)"""


@register(
    "embedding_covariance",
    oracle=f"""
    WITH {_COV_CTES}
    SELECT mom.i, mom.j, CAST(n AS BIGINT) AS n_vectors,
           CAST(floor(CAST(n * sxy - CAST(mi.s AS HUGEINT) * mj.s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS cov_pico
    FROM mom
    JOIN m mi ON mi.i = mom.i
    JOIN m mj ON mj.i = mom.j, nv
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix over the embedding column — the
    second-moment computation whitening/PCA starts from (the 64×64 result
    is driver-sized; eigendecomposition happens there, projection
    broadcasts back — the classic distributed-PCA split). Elements land on
    the per-row micro-grid, every upper-triangle product explodes from the
    vector as a pure PROJECTION (no self-join anywhere — the naive
    (vec,i)⋈(vec,j) formulation shuffles the corpus twice; this plan
    shuffles only (i,j,p) triples into {COV_DIM * (COV_DIM + 1) // 2}
    map-side-combined cells), and the moment sums run in DECIMAL(38,0)
    / HUGEINT so the population covariance
    (n·Σxy − Σx·Σy)/n² is exact until the one double division. Output in
    pico units (micro²)."""
    return _cov_finalize(*_cov_moments(load_table(spark, "embeddings", sf_dir)))


def _cov_gram_batches(it):
    """Per-Arrow-batch Gram matrix mᵀm in EXACT int64 (BLAS path): each
    partial is bounded by batch_rows·max|x_micro|² ≪ 2^63 (10k-row Arrow
    batches, |x_micro| ≤ ~1e6 → ≤ 1e19/1000), so integer sums are exact;
    the decimal merge downstream absorbs unbounded corpus size. Measured
    7× over the exploded-struct formulation (0.34 s vs 2.37 s at sf0.1)
    — a case where numpy over whole Arrow batches beats the JVM, like
    the all-pairs cosine kernel ``similarity.raw_cosine_pairs``."""
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(COV_DIM)
    for pdf in it:
        if not len(pdf):
            continue
        m = np.stack(pdf["v"].to_numpy()).astype(np.int64)
        g = m.T @ m
        yield pd.DataFrame({"i": iu[0], "j": iu[1], "p": g[iu]})


def _cov_moments(emb: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three exact moment tables of a vector set: upper-triangle
    second-moment sums (2080 DECIMAL cells via the Arrow Gram map),
    per-dimension mean sums (DECIMAL), and the count. ADDITIVE across
    disjoint vector sets — the property ``covariance_incremental`` turns
    into moment-level IVM."""
    v = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast("long"),
    )
    base = emb.select(v.alias("v"))
    tri = base.select("v").mapInPandas(_cov_gram_batches, "i int, j int, p long")
    mom = tri.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).alias("sxy")
    )
    m = (
        base.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {COV_DIM - 1}),"
                    " i -> struct(i AS i, v[i] AS x))"
                )
            ).alias("u")
        )
        .groupBy(F.col("u.i").alias("i"))
        # DECIMAL(38,0) like the sxy moments — int64 would wrap silently
        # past ~9e18 total micro mass while the DuckDB HUGEINT oracle
        # errors, the silent-divergence class fixed in source_token_kl
        .agg(F.sum(F.col("u.x").cast("decimal(38,0)")).alias("s"))
    )
    nv = base.agg(F.count(F.lit(1)).alias("n"))
    return mom, m, nv


def _cov_finalize(mom: DataFrame, m: DataFrame, nv: DataFrame) -> DataFrame:
    """Close the covariance from the moment tables: (n·Σxy − Σx·Σy)/n²,
    exact until the single double division."""
    return (
        mom.join(F.broadcast(m.select(F.col("i"), F.col("s").alias("sx"))), "i")
        .join(
            F.broadcast(
                m.select(F.col("i").alias("j"), F.col("s").alias("sy"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "i",
            "j",
            F.col("n").cast("long").alias("n_vectors"),
            F.floor(
                (
                    F.col("n") * F.col("sxy")
                    - F.col("sx").cast("decimal(38,0)") * F.col("sy")
                ).cast("double")
                / (F.col("n").cast("double") * F.col("n"))
            )
            .cast("long")
            .alias("cov_pico"),
        )
    )


COV_DELTA_MOD = 10  # vec_id % 10 == 0 -> "today's newly-embedded vectors"


@register(
    "covariance_incremental",
    oracle=f"""
    WITH {_COV_CTES}
    SELECT mom.i, mom.j, CAST(n AS BIGINT) AS n_vectors,
           CAST(floor(CAST(n * sxy - CAST(mi.s AS HUGEINT) * mj.s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS cov_pico
    FROM mom
    JOIN m mi ON mi.i = mom.i
    JOIN m mj ON mj.i = mom.j, nv
    """,
)
def covariance_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental covariance maintenance — IVM for second moments: the
    ENGINE computes the base split (vec_id % {COV_DELTA_MOD} != 0) and the
    delta split's moment tables SEPARATELY and merges them by pure
    addition (moments are additive over disjoint sets: Σxy, Σx, n), while
    the ORACLE recomputes the covariance from scratch over the full corpus
    — the driver's hash equality IS the proof that merge ≡ recompute,
    bit-for-bit, because every merged quantity is an exact integer and the
    single double division happens after the merge. This is what makes a
    daily PCA refresh cheap at 100 TB: yesterday's 2080-cell moment table
    is corpus-independent state; today's batch contributes O(delta · dim²)
    Gram work plus a 2080-row merge — the base corpus is never rescanned.
    (Deletes work the same way with subtraction; the fixture models the
    append path.)"""
    emb = load_table(spark, "embeddings", sf_dir)
    mom_b, m_b, nv_b = _cov_moments(emb.filter(F.col("vec_id") % COV_DELTA_MOD != 0))
    mom_d, m_d, nv_d = _cov_moments(emb.filter(F.col("vec_id") % COV_DELTA_MOD == 0))
    mom = (
        mom_b.unionByName(mom_d)
        .groupBy("i", "j")
        .agg(F.sum("sxy").cast("decimal(38,0)").alias("sxy"))
    )
    m = (
        m_b.unionByName(m_d)
        .groupBy("i")
        .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
    )
    nv = nv_b.crossJoin(F.broadcast(nv_d.withColumnRenamed("n", "n_d"))).select(
        (F.col("n") + F.col("n_d")).alias("n")
    )
    return _cov_finalize(mom, m, nv)


PCA_POWER_STEPS = 3  # unrolled power-iteration steps (the k-means/BPE loop skeleton)


def _pca_base_ctes() -> list[str]:
    """Shared oracle chain: exact covariance cells, the mirrored full
    matrix, PCA_POWER_STEPS max-abs-normalized power steps (v0..vK), and
    the exact floor'd mean vector."""
    ctes = [
        """cov AS MATERIALIZED (
      SELECT mom.i AS i, mom.j AS j,
             CAST(floor(CAST(n * sxy - CAST(mi.s AS HUGEINT) * mj.s AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS cov_pico
      FROM mom JOIN m mi ON mi.i = mom.i JOIN m mj ON mj.i = mom.j, nv
    )""",
        """fm AS MATERIALIZED (
      SELECT i, j, cov_pico FROM cov
      UNION ALL
      SELECT j AS i, i AS j, cov_pico FROM cov WHERE i < j
    )""",
        f"""v0 AS (
      SELECT u.d AS d, CAST(1000000 AS BIGINT) AS val
      FROM unnest(generate_series(0, {COV_DIM - 1})) AS u(d)
    )""",
    ]
    for k in range(1, PCA_POWER_STEPS + 1):
        ctes.append(
            f"""w{k} AS MATERIALIZED (
      SELECT f.i AS d, sum(CAST(f.cov_pico AS HUGEINT) * v.val) AS wv
      FROM fm f JOIN v{k - 1} v ON v.d = f.j GROUP BY 1
    )"""
        )
        ctes.append(f"mx{k} AS (SELECT greatest(max(abs(wv)), 1) AS mx FROM w{k})")
        ctes.append(
            f"""v{k} AS MATERIALIZED (
      SELECT d, CAST(floor(CAST(wv AS DOUBLE) * 1000000 / CAST(mx AS DOUBLE))
                     AS BIGINT) AS val
      FROM w{k}, mx{k}
    )"""
        )
    ctes.append(
        """mu AS (
      SELECT m.i AS d, CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS mu
      FROM m, nv
    )"""
    )
    return ctes


def _pca_oracle() -> str:
    """Unrolled power iteration on the exact pico-grid covariance: per step,
    w = C.v in exact HUGEINT, then max-abs normalization back onto the micro
    grid through the single floor'd double division (max instead of an L2
    norm keeps the normalizer EXACT integer arithmetic — no sqrt anywhere in
    the loop). The final projection centers each micro vector on the exact
    floor'd mean and dots it with the learned direction in pure int64."""
    vk = f"v{PCA_POWER_STEPS}"
    return (
        f"WITH {_COV_CTES},\n    "
        + ",\n    ".join(_pca_base_ctes())
        + f"""
    SELECT e.vec_id,
           CAST(sum({vk}.val * (e.v[{vk}.d + 1] - mu.mu)) AS BIGINT) AS pc1_pico
    FROM e, {vk} JOIN mu ON mu.d = {vk}.d
    GROUP BY e.vec_id"""
    )


def _pca2_parts() -> tuple[str, str]:
    """Second-direction chain on top of the base: a deflated power
    iteration — per step w = C.u in exact HUGEINT, Gram-Schmidt against v1
    via one TRUNCATING integer division per element (HUGEINT // == Spark-
    side Python trunc-div; Python's // floors, so the engine uses an
    explicit toward-zero division), then the same max-abs micro
    renormalization. Both projections emit from one corpus pass."""
    vk = f"v{PCA_POWER_STEPS}"
    uk = f"u{PCA_POWER_STEPS}"
    ctes = _pca_base_ctes()
    ctes.append(
        f"""u0 AS (
      SELECT u.d AS d,
             CAST(CASE WHEN u.d % 2 = 0 THEN 1000000 ELSE -1000000 END
                  AS BIGINT) AS val
      FROM unnest(generate_series(0, {COV_DIM - 1})) AS u(d)
    )"""
    )
    ctes.append(
        f"q2 AS (SELECT sum(CAST(val AS HUGEINT) * val) AS q FROM {vk})"
    )
    for k in range(1, PCA_POWER_STEPS + 1):
        ctes.append(
            f"""uw{k} AS MATERIALIZED (
      SELECT f.i AS d, sum(CAST(f.cov_pico AS HUGEINT) * u.val) AS wv
      FROM fm f JOIN u{k - 1} u ON u.d = f.j GROUP BY 1
    )"""
        )
        ctes.append(
            f"""ud{k} AS MATERIALIZED (
      SELECT sum(CAST(w.wv AS HUGEINT) * {vk}.val) AS dd
      FROM uw{k} w JOIN {vk} ON {vk}.d = w.d
    )"""
        )
        ctes.append(
            f"""uo{k} AS MATERIALIZED (
      SELECT w.d, w.wv - (dd * CAST({vk}.val AS HUGEINT)) // q AS wv
      FROM uw{k} w JOIN {vk} ON {vk}.d = w.d, ud{k}, q2
    )"""
        )
        ctes.append(f"um{k} AS (SELECT greatest(max(abs(wv)), 1) AS mx FROM uo{k})")
        ctes.append(
            f"""u{k} AS MATERIALIZED (
      SELECT d, CAST(floor(CAST(wv AS DOUBLE) * 1000000 / CAST(mx AS DOUBLE))
                     AS BIGINT) AS val
      FROM uo{k}, um{k}
    )"""
        )
    sel = f"""SELECT e.vec_id,
           CAST(sum({vk}.val * (e.v[{vk}.d + 1] - mu.mu)) AS BIGINT) AS pc1_pico,
           CAST(sum({uk}.val * (e.v[{vk}.d + 1] - mu.mu)) AS BIGINT) AS pc2_pico
    FROM e, {vk} JOIN mu ON mu.d = {vk}.d JOIN {uk} ON {uk}.d = {vk}.d
    GROUP BY e.vec_id"""
    return (
        f"WITH {_COV_CTES},\n    " + ",\n    ".join(ctes),
        sel,
    )


def _micro_vec() -> "F.Column":
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast("long"),
    )


@layer("pca_fit")
def _pca_fit(spark: SparkSession, sf_dir: str) -> tuple:
    """Driver-side eigen fit (3x64 ints of driver state): collects the
    exact covariance cells and mean sums (bounded: 2080 + 64 rows), then
    runs the unrolled iterations in exact Python-int arithmetic — v1 by
    plain power steps, v2 by per-step Gram-Schmidt deflation against v1
    with toward-zero integer division. Returns
    (mu, v1, v2) micro-grid lists, or () on an empty corpus."""
    import math

    cov_rows = embedding_covariance(spark, sf_dir).collect()
    if not cov_rows:
        return ()
    n = int(cov_rows[0]["n_vectors"])
    cmat = [[0] * COV_DIM for _ in range(COV_DIM)]
    for r in cov_rows:
        cmat[r["i"]][r["j"]] = int(r["cov_pico"])
        cmat[r["j"]][r["i"]] = int(r["cov_pico"])
    srows = (
        load_table(spark, "embeddings", sf_dir)
        .select(_micro_vec().alias("v"))
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {COV_DIM - 1}),"
                    " i -> struct(i AS i, v[i] AS x))"
                )
            ).alias("u")
        )
        .groupBy(F.col("u.i").alias("i"))
        .agg(F.sum(F.col("u.x").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    mu = [0] * COV_DIM
    for r in srows:
        mu[int(r["i"])] = math.floor(float(r["s"]) / n)

    v1 = [1_000_000] * COV_DIM
    for _ in range(PCA_POWER_STEPS):
        w = [
            sum(cmat[i][j] * v1[j] for j in range(COV_DIM))  # exact ints
            for i in range(COV_DIM)
        ]
        mx = max(max(abs(x) for x in w), 1)
        v1 = [math.floor(float(x) * 1_000_000.0 / float(mx)) for x in w]

    q = sum(x * x for x in v1)
    v2 = [1_000_000 if d % 2 == 0 else -1_000_000 for d in range(COV_DIM)]
    for _ in range(PCA_POWER_STEPS):
        w = [
            sum(cmat[i][j] * v2[j] for j in range(COV_DIM))
            for i in range(COV_DIM)
        ]
        dd = sum(w[i] * v1[i] for i in range(COV_DIM))
        w = [w[i] - similarity._tdiv_int(dd * v1[i], q) for i in range(COV_DIM)]
        mx = max(max(abs(x) for x in w), 1)
        v2 = [math.floor(float(x) * 1_000_000.0 / float(mx)) for x in w]
    return (mu, v1, v2)


def _pca_projection(direction: list[int], mu: list[int]) -> "F.Column":
    """Zero-shuffle literal-dot projection: direction . (x_micro - mu).
    Literal arrays parse as ONE SQL string each (r12): the F.lit-per-
    element form cost ~256 py4j round-trips per call; values identical."""
    dir_arr = similarity.long_array_sql(direction)
    mu_arr = similarity.long_array_sql(mu)
    prods = F.zip_with(
        F.zip_with(_micro_vec(), mu_arr, lambda a, b: a - b),
        dir_arr,
        lambda a, b: a * b,
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


@register("embedding_pca_project", oracle=_pca_oracle())
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, completing the split ``embedding_covariance``'s
    docstring promises: the corpus-scale work (the exact 64x64 pico-grid
    covariance and the final projection scan) runs distributed, while the
    64-dimensional eigen-iteration — driver-sized BY the covariance
    argument — runs {PCA_POWER_STEPS} unrolled power-iteration steps at the
    driver in exact Python-int arithmetic (the same bounded-driver-state
    class as the k-means centroid collect and the bloom bitmap; memoized
    per session like trained centroids). Normalization per step is
    max-abs, not L2: the normalizer stays an EXACT integer and the only
    double op is the single floor'd division back onto the micro grid,
    replayed token-for-token by the oracle's unrolled CTE chain. The
    learned direction and the exact floor'd mean vector broadcast back as
    64-element literal arrays, so the projection is a zero-shuffle codegen
    scan: pc1 = v . (x - mean) in pure int64 (|term| <= 1e6 * 2e6 * 64 ~
    1.3e14, far inside the long range). At 100 TB nothing about this plan
    changes: the covariance is the only shuffle (2080 map-side-combined
    cells), the iteration cost is O(dim^2) at the driver, and the
    projection reads each vector once."""
    fit = _pca_fit(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    if not fit:
        return emb.select("vec_id", F.lit(None).cast("long").alias("pc1_pico"))
    mu, v1, _v2 = fit
    return emb.select("vec_id", _pca_projection(v1, mu).alias("pc1_pico"))


def _pca2_oracle() -> str:
    w, sel = _pca2_parts()
    return w + "\n    " + sel


@register("embedding_pca_top2", oracle=_pca2_oracle())
def embedding_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 PCA projection — the 2-D corpus map clustering/visualization
    wants: pc2 comes from the DEFLATED power iteration (per step,
    Gram-Schmidt the iterate against v1 with one toward-zero integer
    division per element — exact, replayable, no orthogonal-complement
    transcendentals), run at the driver on the same memoized fit as pc1.
    Both projections ride ONE zero-shuffle corpus scan (two literal-dot
    columns), so the marginal cost of the second component at 100 TB is
    zero extra reads, zero extra shuffles."""
    fit = _pca_fit(spark, sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    if not fit:
        return emb.select(
            "vec_id",
            F.lit(None).cast("long").alias("pc1_pico"),
            F.lit(None).cast("long").alias("pc2_pico"),
        )
    mu, v1, v2 = fit
    return emb.select(
        "vec_id",
        _pca_projection(v1, mu).alias("pc1_pico"),
        _pca_projection(v2, mu).alias("pc2_pico"),
    )


PCA_OUTLIER_Z = 3  # flag beyond 3 sigma on either principal component


def _pca_outlier_oracle() -> str:
    w, sel = _pca2_parts()
    z2 = PCA_OUTLIER_Z * PCA_OUTLIER_Z
    return (
        w
        + f""",
    pj AS MATERIALIZED ({sel}),
    st AS (
      SELECT count(*) AS n,
             sum(CAST(pc1_pico AS HUGEINT)) AS s11,
             sum(CAST(pc1_pico AS HUGEINT) * pc1_pico) AS s12,
             sum(CAST(pc2_pico AS HUGEINT)) AS s21,
             sum(CAST(pc2_pico AS HUGEINT) * pc2_pico) AS s22
      FROM pj
    )
    SELECT pj.vec_id, pj.pc1_pico, pj.pc2_pico,
           (CAST(pc1_pico AS HUGEINT) * n - s11)
             * (CAST(pc1_pico AS HUGEINT) * n - s11)
             > {z2} * (n * s12 - s11 * s11) AS out_pc1,
           (CAST(pc2_pico AS HUGEINT) * n - s21)
             * (CAST(pc2_pico AS HUGEINT) * n - s21)
             > {z2} * (n * s22 - s21 * s21) AS out_pc2
    FROM pj, st"""
    )


@register("embedding_outliers", oracle=_pca_outlier_oracle())
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection in the learned PCA plane — the
    curation gate that catches encoder failures, corrupted inputs, and
    off-distribution samples a string heuristic can't see. Pure
    composition over ``embedding_pca_top2``'s zero-shuffle projections:
    one 1-row exact moment aggregate (HUGEINT/DECIMAL pico sums), then
    the {PCA_OUTLIER_Z}-sigma test per component in ALL-INTEGER form —
    |x - mean| > z*sigma rewritten as (x*n - S1)^2 > z^2*(n*S2 - S1^2),
    so no division, no sqrt, no float touches a result. Every vector gets
    a verdict row (never vacuous); flagged share tracks the tail mass of
    the projection distribution. Bound: the squared deviation term is
    ~(pico * n)^2 — inside DECIMAL(38,0) up to ~1e7 vectors at pico
    resolution; rescale projections to micro before the moments when n
    grows past that (the documented knob)."""
    pj = embedding_pca_top2(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    st = pj.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("pc1_pico")).alias("s11"),
        F.sum(dec("pc1_pico") * F.col("pc1_pico")).alias("s12"),
        F.sum(dec("pc2_pico")).alias("s21"),
        F.sum(dec("pc2_pico") * F.col("pc2_pico")).alias("s22"),
    )
    z2 = PCA_OUTLIER_Z * PCA_OUTLIER_Z
    j = pj.crossJoin(F.broadcast(st))
    dev1 = dec("pc1_pico") * F.col("n") - F.col("s11")
    dev2 = dec("pc2_pico") * F.col("n") - F.col("s21")
    return j.select(
        "vec_id",
        "pc1_pico",
        "pc2_pico",
        (dev1 * dev1 > F.lit(z2) * (F.col("n") * F.col("s12") - F.col("s11") * F.col("s11"))).alias("out_pc1"),
        (dev2 * dev2 > F.lit(z2) * (F.col("n") * F.col("s22") - F.col("s21") * F.col("s21"))).alias("out_pc2"),
    )


embedding_outliers.__doc__ = embedding_outliers.__doc__.format(
    PCA_OUTLIER_Z=PCA_OUTLIER_Z
)


# --- Product Quantization (PQ) queries -----------------------------------------

def _pq_d2_sql(a: str, b: str, dims: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dims}),"
        f" d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d])))"
    )


_PQ_EM_CTE = """em AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
      FROM embeddings
    )"""


def _pq_lloyd_parts(sv: str, pre: str = "") -> list[str]:
    """The trainable core of the PQ oracle, parameterized on the name of
    a (vec_id, s, sv) subvector CTE (raw subvectors for ``ann_pq_*``,
    coarse-residual subvectors for ``ann_ivfpq_topk``): first-K init,
    PQ_ITERS unrolled integer Lloyd steps (means = HUGEINT sum // count,
    so codewords stay EXACTLY on the micro grid; empty codes keep their
    previous codeword), then the bulk ``codes`` assignment and the final
    ``cbF`` codebook. ``pre`` prefixes every generated CTE name so two
    independent trainings (e.g. the staleness audit's frozen vs
    retrained codebooks) can coexist in one oracle."""
    D, K = similarity.PQ_D, similarity.PQ_K
    d2 = _pq_d2_sql("x.sv", "c.cv", D)
    parts = [
        f"""{pre}cb0 AS MATERIALIZED (
      SELECT s, rn - 1 AS code, sv AS cv FROM (
        SELECT s, sv, row_number() OVER (PARTITION BY s ORDER BY vec_id) AS rn
        FROM {sv})
      WHERE rn <= {K}
    )""",
    ]
    for t in range(similarity.PQ_ITERS):
        parts.append(
            f"""{pre}a{t} AS MATERIALIZED (
      SELECT vec_id, s, sv, code FROM (
        SELECT x.vec_id, x.s, x.sv, c.code,
               row_number() OVER (PARTITION BY x.vec_id, x.s
                                  ORDER BY {d2}, c.code) AS r
        FROM {sv} x JOIN {pre}cb{t} c ON c.s = x.s)
      WHERE r = 1
    )"""
        )
        parts.append(
            f"""{pre}m{t} AS MATERIALIZED (
      SELECT s, code, list(mu ORDER BY d) AS cv FROM (
        SELECT s, code, u.d AS d,
               CAST(CAST(sum(sv[u.d]) AS HUGEINT) // count(*) AS BIGINT) AS mu
        FROM {pre}a{t}, unnest(generate_series(1, {D})) AS u(d)
        GROUP BY s, code, u.d)
      GROUP BY s, code
    )"""
        )
        parts.append(
            f"""{pre}cb{t + 1} AS MATERIALIZED (
      SELECT c.s, c.code, COALESCE(m.cv, c.cv) AS cv
      FROM {pre}cb{t} c LEFT JOIN {pre}m{t} m ON m.s = c.s AND m.code = c.code
    )"""
        )
    cbf = f"{pre}cb{similarity.PQ_ITERS}"
    parts.append(
        f"""{pre}codes AS MATERIALIZED (
      SELECT vec_id, s, code FROM (
        SELECT x.vec_id, x.s, c.code,
               row_number() OVER (PARTITION BY x.vec_id, x.s
                                  ORDER BY {d2}, c.code) AS r
        FROM {sv} x JOIN {cbf} c ON c.s = x.s)
      WHERE r = 1
    )""",
        )
    parts.append(f"{pre}cbF AS MATERIALIZED (SELECT s, code, cv FROM {cbf})")
    return parts


def _pq_cte() -> str:
    """Shared PQ oracle prefix ending at ``codes`` (per-vector code rows)
    and ``cbF`` (the trained codebook): micro subvectors plus the
    parameterized Lloyd/encode chain (``_pq_lloyd_parts``)."""
    M, D = similarity.PQ_M, similarity.PQ_D
    parts = [
        _PQ_EM_CTE,
        f"""sv AS MATERIALIZED (
      SELECT vec_id, u.s AS s, vm[u.s * {D} + 1 : u.s * {D} + {D}] AS sv
      FROM em, unnest(generate_series(0, {M - 1})) AS u(s)
    )""",
    ] + _pq_lloyd_parts("sv")
    return "WITH " + ",\n    ".join(parts)


def _empty_ann_result(emb: DataFrame) -> DataFrame:
    """Zero-row (q_id, nbr_id, pq_dist, rank) frame with the ANN result
    schema — the empty-corpus / empty-query-sample fallback (the PCA
    queries' empty-fit pattern)."""
    vid = F.col("vec_id").cast("long")
    return emb.limit(0).select(
        vid.alias("q_id"),
        vid.alias("nbr_id"),
        vid.alias("pq_dist"),
        vid.alias("rank"),
    )


def _pq_topk_oracle() -> str:
    D = similarity.PQ_D
    term = _pq_d2_sql("q.sv", "b.cv", D)
    return (
        _pq_cte()
        + f""",
    qs AS (SELECT vec_id AS q_id, s, sv FROM sv
           WHERE vec_id < {similarity.N_QUERIES}),
    adc AS MATERIALIZED (
      SELECT q.q_id, c.vec_id, CAST(sum({term}) AS BIGINT) AS dist
      FROM qs q
      JOIN codes c ON c.s = q.s AND c.vec_id != q.q_id
      JOIN cbF b ON b.s = c.s AND b.code = c.code
      GROUP BY q.q_id, c.vec_id
    )
    SELECT q_id, vec_id AS nbr_id, dist AS pq_dist, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT q_id, vec_id, dist,
             row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rank
      FROM adc)
    WHERE rank <= {similarity.PQ_TOPK}"""
    )


@register("ann_pq_topk", oracle=_pq_topk_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the standard memory-bound scale path the
    family was missing (brute/IVF/LSH cut COMPUTE; PQ cuts STORAGE: 8
    codes = 8 bytes replace 256 float bytes, so a 100 TB vector corpus
    fits hot). Training is the distributed/driver split (one DECIMAL
    moment aggregate per Lloyd step; integer means keep codewords ON the
    micro grid — the whole pipeline is pure int64, no round-6 doubles
    anywhere); encoding is a zero-shuffle argmin projection over literal
    codewords; search is asymmetric-distance (ADC): each query's 8x16
    lookup table is EXACT integer distances computed at the driver from
    the memoized codebook and broadcast as literals, so the corpus-side
    cost is 8 array lookups + 7 adds per vector — no vector arithmetic at
    scan time at all. Top-{PQ_TOPK} per query by (dist, vec_id) over the
    {N_QUERIES}-query fixed sample."""
    emb = load_table(spark, "embeddings", sf_dir)
    cb = _pq_trio(spark, sf_dir)["full"]
    if not cb:  # empty corpus: no codebook, no neighbors
        return _empty_ann_result(emb)
    codes = similarity.pq_encode(emb, cb)
    qrows = (
        emb.filter(F.col("vec_id") < similarity.N_QUERIES)
        .select("vec_id", similarity.micro_vec(F.col("embedding")).alias("vm"))
        .collect()
    )
    if not qrows:  # no query sample: explode(array()) would be invalid
        return _empty_ann_result(emb)
    # short corpus (< PQ_K init vectors) yields a shorter codebook
    M, D, K = similarity.PQ_M, similarity.PQ_D, len(cb[0])
    per_q = []
    for r in qrows:
        qid, vm = int(r["vec_id"]), [int(x) for x in r["vm"]]
        table = [
            [
                sum(
                    (vm[s * D + d] - cb[s][k][d]) ** 2 for d in range(D)
                )
                for k in range(K)
            ]
            for s in range(M)
        ]
        # one SQL string per query, not K*M Column literals: the Column
        # tree cost ~1300 py4j round-trips of pure driver time (see
        # similarity._codebook_sql for the measurement)
        dist = " + ".join(
            "element_at(array({vals}), c{s} + 1)".format(
                vals=",".join(f"{int(v)}L" for v in table[s]), s=s
            )
            for s in range(M)
        )
        per_q.append(f"named_struct('q_id', {qid}, 'dist', {dist})")
    stacked = codes.select(
        "vec_id",
        F.expr("explode(array(" + ",".join(per_q) + "))").alias("qd"),
    ).select("vec_id", F.col("qd.q_id").alias("q_id"), F.col("qd.dist").alias("dist"))
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    return (
        stacked.filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= similarity.PQ_TOPK)
        .select(
            "q_id",
            F.col("vec_id").alias("nbr_id"),
            F.col("dist").cast("long").alias("pq_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


ann_pq_topk.__doc__ = ann_pq_topk.__doc__.format(
    PQ_TOPK=similarity.PQ_TOPK, N_QUERIES=similarity.N_QUERIES
)


def _pq_recall_oracle() -> str:
    term = _pq_d2_sql("q.sv", "b.cv", similarity.PQ_D)
    ex_d2 = _pq_d2_sql("q.vm", "e.vm", similarity.EMB_DIM)
    return (
        _pq_cte()
        + f""",
    qs AS (SELECT vec_id AS q_id, s, sv FROM sv
           WHERE vec_id < {similarity.N_QUERIES}),
    adc AS MATERIALIZED (
      SELECT q.q_id, c.vec_id, CAST(sum({term}) AS BIGINT) AS dist
      FROM qs q
      JOIN codes c ON c.s = q.s AND c.vec_id != q.q_id
      JOIN cbF b ON b.s = c.s AND b.code = c.code
      GROUP BY q.q_id, c.vec_id
    ),
    pt AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS r
        FROM adc)
      WHERE r <= {similarity.PQ_TOPK}
    ),
    qm AS (SELECT vec_id AS q_id, vm FROM em
           WHERE vec_id < {similarity.N_QUERIES}),
    ext AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {ex_d2}, e.vec_id) AS r
        FROM qm q JOIN em e ON e.vec_id != q.q_id)
      WHERE r <= {similarity.PQ_TOPK}
    )
    SELECT pt.q_id,
           CAST(count(ext.vec_id) AS BIGINT) AS n_overlap,
           (count(ext.vec_id) * 1000000) // {similarity.PQ_TOPK} AS recall_micro
    FROM pt LEFT JOIN ext ON ext.q_id = pt.q_id AND ext.vec_id = pt.vec_id
    GROUP BY pt.q_id"""
    )


@register("ann_pq_recall_audit", oracle=_pq_recall_oracle())
def ann_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{PQ_TOPK} of the PQ/ADC search against the EXACT integer-L2
    ground truth over the same fixed query sample — the damage report that
    ships beside any quantized index (companion to
    ``ann_quantized_recall_audit``'s int8 study). The exact side is
    audit-sized by construction (|queries| * corpus distances, query side
    broadcast); recall is pure integer micro arithmetic."""
    pq = ann_pq_topk(spark, sf_dir).select("q_id", F.col("nbr_id").alias("vec_id"))
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", similarity.micro_vec(F.col("embedding")).alias("vm")
    )
    q = emb.filter(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vm").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("vm"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    exact = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", d2.alias("d2"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= similarity.PQ_TOPK)
        .select("q_id", "vec_id", F.lit(True).alias("hit"))
    )
    return (
        pq.join(exact, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_overlap"),
        )
        .select(
            "q_id",
            "n_overlap",
            F.expr(f"n_overlap * 1000000 div {similarity.PQ_TOPK}").alias(
                "recall_micro"
            ),
        )
    )


ann_pq_recall_audit.__doc__ = ann_pq_recall_audit.__doc__.format(
    PQ_TOPK=similarity.PQ_TOPK
)


# ---------------------------------------------------------------------------
# ANN index staleness audit (frozen codebook vs drifted delta slice)
# ---------------------------------------------------------------------------

STALE_MOD = 10  # vec_id % STALE_MOD == 0 -> the "arrived after training" slice
# deterministic drift on the delta slice: PER-VECTOR magnitude
# ((vec_id div 10) % 7) * STALE_DRIFT_MICRO on the first STALE_DRIFT_DIMS
# dims. A constant offset would shift every delta vector equally and leave
# their RELATIVE distances (hence rankings) intact; varying the magnitude
# per vector spreads the delta cloud along directions the frozen codebook
# has no codewords for, which is what actually degrades a stale index.
STALE_DRIFT_MICRO = 300_000
STALE_DRIFT_DIMS = 16  # first 16 of 64 dims (2 of 8 PQ subspaces)

@layer("pq_trio")
def _pq_trio(spark: SparkSession, sf_dir: str) -> dict[str, list]:
    """Train the THREE staleness-family PQ codebooks — ``full`` corpus
    (serving; train once / encode+search many), ``frozen`` base slice
    (vec_id % STALE_MOD != 0: the index as it existed before the delta
    vectors arrived), ``retrained`` drifted corpus (the corpus as it is
    NOW, the counterfactual the staleness audit prices the frozen index
    against) — each M*K*D = 1024 micro ints of driver state regardless
    of corpus size, in ONE fused pass off a single localCheckpointed
    subvector layer. r8 ran three independent Lloyd chains (three scans
    + micro conversions + 3×(init + PQ_ITERS) job round-trips — 10.8 s
    of the 21.2 s bench layer build); the chains' training SETS differ,
    so the fusion shares jobs and the scan, never rows: each chain keeps
    its own init and its own per-(tag, s, code) sums (see
    ``similarity.train_pq_multi``). Deriving the frozen and drifted
    bases from the shared layer is exact because the slice filter
    commutes with the per-row subvector projection, and the drift is a
    constant-per-vector integer shift on the first STALE_DRIFT_DIMS dims
    — a whole number of leading subspaces (asserted), so it maps to a
    ``transform(+delta)`` on sv0..sv{{n}} verbatim to ``_drifted_vm``'s
    vm-level shift."""
    assert STALE_DRIFT_DIMS % similarity.PQ_D == 0, (
        "drift must cover whole subspaces for the shared-layer derivation"
    )
    n_drift_sv = STALE_DRIFT_DIMS // similarity.PQ_D
    base = similarity._with_subvecs(
        load_table(spark, "embeddings", sf_dir)
    ).localCheckpoint(eager=False)
    frozen = base.filter(F.col("vec_id") % STALE_MOD != 0)
    delta = (
        f"IF(vec_id % {STALE_MOD} = 0,"
        f" CAST(((vec_id div {STALE_MOD}) % 7) * {STALE_DRIFT_MICRO} AS BIGINT),"
        f" CAST(0 AS BIGINT))"
    )
    drifted = base.select(
        "vec_id",
        *[
            F.expr(f"transform(sv{s}, x -> x + {delta})").alias(f"sv{s}")
            if s < n_drift_sv
            else F.col(f"sv{s}")
            for s in range(similarity.PQ_M)
        ],
    )
    return similarity.train_pq_multi(
        {"full": base, "frozen": frozen, "retrained": drifted},
        checkpointed=True,
    )


def _drifted_vm(emb: DataFrame) -> DataFrame:
    """(vec_id, vm): micro vectors with the deterministic DELTA DRIFT
    applied — delta-slice vectors get +STALE_DRIFT_MICRO on the first
    STALE_DRIFT_DIMS dims AFTER the micro conversion (exact integer
    addition, identical in both engines). Models distribution shift in
    the post-training arrivals."""
    from postgres_cdc_example_spark.operators.dedup import _spread

    spread = _spread(emb.select("vec_id", "embedding"), "vec_id")
    vm0 = spread.select(
        "vec_id", similarity.micro_vec(F.col("embedding")).alias("vm0")
    )
    return vm0.select(
        "vec_id",
        F.expr(
            f"transform(vm0, (x, i) -> x +"
            f" IF(vec_id % {STALE_MOD} = 0 AND i < {STALE_DRIFT_DIMS},"
            f" CAST(((vec_id div {STALE_MOD}) % 7) * {STALE_DRIFT_MICRO}"
            f" AS BIGINT), CAST(0 AS BIGINT)))"
        ).alias("vm"),
    )


def _drifted_subvecs(vmd: DataFrame) -> DataFrame:
    """(vec_id, sv0..sv7) from a drifted (vec_id, vm) frame — mirrors
    ``similarity._with_subvecs``'s Generate-barrier slicing."""
    M, D = similarity.PQ_M, similarity.PQ_D
    return vmd.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(
                    *[
                        F.slice(F.col("vm"), s * D + 1, D).alias(f"sv{s}")
                        for s in range(M)
                    ]
                )
            )
        ).alias("r"),
    ).select("vec_id", *[F.col(f"r.sv{s}").alias(f"sv{s}") for s in range(M)])


def _staleness_oracle() -> str:
    M, D = similarity.PQ_M, similarity.PQ_D
    adc_term = _pq_d2_sql("q.sv", "b.cv", D)
    ex_d2 = _pq_d2_sql("q.vm", "e.vm", similarity.EMB_DIM)

    def delta_codes(name: str, cbf: str) -> str:
        d2c = _pq_d2_sql("x.sv", "c.cv", D)
        return f"""{name} AS MATERIALIZED (
      SELECT vec_id, s, code FROM (
        SELECT x.vec_id, x.s, c.code,
               row_number() OVER (PARTITION BY x.vec_id, x.s
                                  ORDER BY {d2c}, c.code) AS r
        FROM svd x JOIN {cbf} c ON c.s = x.s)
      WHERE r = 1
    )"""

    def adc_rank(name: str, codes: str, cbf: str) -> str:
        return f"""{name} AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist, vec_id) AS r
        FROM (
          SELECT q.q_id, c.vec_id, CAST(sum({adc_term}) AS BIGINT) AS dist
          FROM qs q
          JOIN {codes} c ON c.s = q.s AND c.vec_id != q.q_id
          JOIN {cbf} b ON b.s = c.s AND b.code = c.code
          GROUP BY q.q_id, c.vec_id))
      WHERE r <= {similarity.PQ_TOPK}
    )"""

    parts = [
        f"""em AS MATERIALIZED (
      SELECT vec_id,
             list_transform(generate_series(1, {similarity.EMB_DIM}), d ->
               CAST(floor(embedding[d]::DOUBLE * 1000000 + 0.5) AS BIGINT)
               + CASE WHEN d <= {STALE_DRIFT_DIMS}
                           AND vec_id % {STALE_MOD} = 0
                      THEN ((vec_id // {STALE_MOD}) % 7)
                           * {STALE_DRIFT_MICRO} ELSE 0 END) AS vm
      FROM embeddings
    )""",
        f"""sv AS MATERIALIZED (
      SELECT vec_id, u.s AS s, vm[u.s * {D} + 1 : u.s * {D} + {D}] AS sv
      FROM em, unnest(generate_series(0, {M - 1})) AS u(s)
    )""",
        f"""svb AS MATERIALIZED (
      SELECT * FROM sv WHERE vec_id % {STALE_MOD} != 0
    )""",
        f"""svd AS MATERIALIZED (
      SELECT * FROM sv WHERE vec_id % {STALE_MOD} = 0
    )""",
    ]
    parts += _pq_lloyd_parts("svb")  # frozen codebook -> cbF
    parts += _pq_lloyd_parts("sv", pre="r")  # retrained codebook -> rcbF
    parts.append(delta_codes("codes_f", "cbF"))
    parts.append(delta_codes("codes_r", "rcbF"))
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    qs AS (SELECT vec_id AS q_id, s, sv FROM sv
           WHERE vec_id < {similarity.N_QUERIES}),
    {adc_rank("pq_f", "codes_f", "cbF")},
    {adc_rank("pq_r", "codes_r", "rcbF")},
    exq AS (SELECT vec_id AS q_id, vm FROM em
            WHERE vec_id < {similarity.N_QUERIES}),
    exr AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {ex_d2}, e.vec_id) AS r
        FROM exq q
        JOIN em e ON e.vec_id != q.q_id AND e.vec_id % {STALE_MOD} = 0)
      WHERE r <= {similarity.PQ_TOPK}
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_delta_vectors FROM em
           WHERE vec_id % {STALE_MOD} = 0),
    tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM exr),
    hf AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
           FROM pq_f p JOIN exr e ON e.q_id = p.q_id AND e.vec_id = p.vec_id),
    hr AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
           FROM pq_r p JOIN exr e ON e.q_id = p.q_id AND e.vec_id = p.vec_id)
    SELECT 'frozen' AS codebook, nd.n_delta_vectors, tr.n_truth,
           hf.n_hits, hf.n_hits * 1000000 // tr.n_truth AS recall_micro
    FROM nd, tr, hf
    UNION ALL
    SELECT 'retrained' AS codebook, nd.n_delta_vectors, tr.n_truth,
           hr.n_hits, hr.n_hits * 1000000 // tr.n_truth AS recall_micro
    FROM nd, tr, hr
    """
    )


@register("ann_staleness_audit", oracle=_staleness_oracle())
def ann_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index STALENESS audit — the retrain-trigger number a vector
    store operates on once an index persists (the question the
    cid-partitioned IVF-PQ code table and the streaming ``pq_encode_gate``
    raise): for vectors that arrived AFTER training, how much recall does
    the FROZEN codebook lose versus retraining on the corpus as it is
    now? Controlled comparison — same fixed {NQ}-query sample, same
    delta-slice candidate pool, same exact integer-L2 ground truth — with
    ONLY the codebook varying: 'frozen' is PQ trained on the base slice
    (vec_id % {MOD} != 0, memoized in ``_pq_trio``), 'retrained' is
    PQ trained on the full current corpus. The delta slice (% {MOD} == 0)
    models post-training arrivals WITH deterministic distribution shift —
    a per-vector ((vec_id div {MOD}) % 7) x {DRIFT}-micro offset on the
    first {DIMS} dims, applied after the micro conversion so it is exact
    integer addition in both engines (per-vector magnitudes, because a
    constant offset preserves relative distances and degrades nothing;
    the
    ``pii_redaction_audit`` injection pattern: without injected drift the
    iid fixture would make this audit vacuous). Comparing the two slices'
    recalls directly would be confounded by candidate-pool size (chance
    recall scales with topk/|pool|); holding the pool fixed and swapping
    codebooks isolates exactly the quantity retraining buys — the number
    an operator alerts on.

    Scale shape: training/encoding inherit the PQ family's bounds
    (codebooks = driver literals, encode = zero-shuffle argmin over the
    DELTA slice only, ADC = one codes-table scan per query batch); the
    exact side is audit-sized by construction (|queries| x delta-slice
    distances, query side broadcast); rollups are 1-row aggregates.
    Cites the same PQ design as ``ann_pq_topk``
    (operators/similarity.py:612-830)."""
    emb = load_table(spark, "embeddings", sf_dir)
    trio = _pq_trio(spark, sf_dir)
    cb_frozen, cb_retrained = trio["frozen"], trio["retrained"]
    vmd = _drifted_vm(emb)
    empty = vmd.limit(0).select(
        F.lit("frozen").alias("codebook"),
        F.lit(0).cast("long").alias("n_delta_vectors"),
        F.lit(0).cast("long").alias("n_truth"),
        F.lit(0).cast("long").alias("n_hits"),
        F.lit(0).cast("long").alias("recall_micro"),
    )
    if not cb_frozen or not cb_retrained:
        return empty
    qrows = vmd.filter(F.col("vec_id") < similarity.N_QUERIES).collect()
    if not qrows:
        return empty
    delta_sv = _drifted_subvecs(
        vmd.filter(F.col("vec_id") % STALE_MOD == 0)
    )

    def pq_topk(cb: list) -> DataFrame:
        """ADC top-k over the delta pool under one codebook — the same
        literal-lookup-table construction as ``ann_pq_topk``."""
        codes = similarity.pq_encode_base(delta_sv, cb)
        M, D, K = similarity.PQ_M, similarity.PQ_D, len(cb[0])
        per_q = []
        for r in qrows:
            qid, vm = int(r["vec_id"]), [int(x) for x in r["vm"]]
            table = [
                [
                    sum((vm[s * D + d] - cb[s][k][d]) ** 2 for d in range(D))
                    for k in range(K)
                ]
                for s in range(M)
            ]
            dist = " + ".join(
                "element_at(array({vals}), c{s} + 1)".format(
                    vals=",".join(f"{int(v)}L" for v in table[s]), s=s
                )
                for s in range(M)
            )
            per_q.append(f"named_struct('q_id', {qid}, 'dist', {dist})")
        stacked = codes.select(
            "vec_id",
            F.expr("explode(array(" + ",".join(per_q) + "))").alias("qd"),
        ).select(
            "vec_id",
            F.col("qd.q_id").alias("q_id"),
            F.col("qd.dist").alias("dist"),
        )
        w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
        return (
            stacked.filter(F.col("vec_id") != F.col("q_id"))
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= similarity.PQ_TOPK)
            .select("q_id", "vec_id")
        )

    q = vmd.filter(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vm").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("vm"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wex = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    exr = (
        F.broadcast(q)
        .join(
            vmd.filter(F.col("vec_id") % STALE_MOD == 0),
            F.col("vec_id") != F.col("q_id"),
        )
        .select("q_id", "vec_id", d2.alias("d2"))
        .withColumn("r", F.row_number().over(wex))
        .filter(F.col("r") <= similarity.PQ_TOPK)
        .select("q_id", "vec_id")
    )
    nd = vmd.filter(F.col("vec_id") % STALE_MOD == 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_delta_vectors")
    )
    tr = exr.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))

    def audit_row(label: str, cb: list) -> DataFrame:
        hits = (
            pq_topk(cb)
            .join(exr, ["q_id", "vec_id"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        )
        return (
            nd.crossJoin(F.broadcast(tr))
            .crossJoin(F.broadcast(hits))
            .select(
                F.lit(label).alias("codebook"),
                "n_delta_vectors",
                "n_truth",
                "n_hits",
                F.expr("n_hits * 1000000 div n_truth").alias("recall_micro"),
            )
        )

    return audit_row("frozen", cb_frozen).unionByName(
        audit_row("retrained", cb_retrained)
    )


ann_staleness_audit.__doc__ = (
    ann_staleness_audit.__doc__.replace("{MOD}", str(STALE_MOD))
    .replace("{DRIFT}", str(STALE_DRIFT_MICRO))
    .replace("{DIMS}", str(STALE_DRIFT_DIMS))
    .replace("{NQ}", str(similarity.N_QUERIES))
)


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_DEN = 10  # keep ceil(n/10) docs per (source, lang) stratum


@register(
    "stratified_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, lang,
             count(*) OVER (PARTITION BY source, lang) AS stratum_n,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS r
      FROM documents
    )
    SELECT doc_id, source, lang, CAST(r AS BIGINT) AS sample_rank,
           CAST(stratum_n AS BIGINT) AS stratum_n,
           (stratum_n + {SAMPLE_DEN - 1}) // {SAMPLE_DEN} AS quota
    FROM h WHERE r <= (stratum_n + {SAMPLE_DEN - 1}) // {SAMPLE_DEN}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic proportional stratified sampling — the eval-set /
    ablation draw every data pipeline needs to be REPRODUCIBLE: per
    (source, lang) stratum keep the ceil(n/{SAMPLE_DEN}) docs lowest in
    md5(doc_id) order, a stable pseudo-random choice identical across
    runs, engines and partitionings (``sample()``/``rand()`` are neither).
    The oracle states the spec as one per-stratum row_number; the ENGINE
    computes the identical set with the two-stage top-k a 100 TB stratum
    needs: per-stratum quotas come from a bounded broadcast count table,
    a PER-INPUT-PARTITION window (keyed on stratum x partition id) keeps
    at most quota rows per partition — correct because any row in the
    global stratum top-quota is in its partition's top-quota — so the
    final per-stratum ranking window sees <= partitions * quota rows,
    never the full stratum through one reducer. Everything downstream of
    md5 is integer comparisons; quota = ceil is exact ((n + {SAMPLE_DEN_1})
    div {SAMPLE_DEN})."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("hh"),
    )
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("stratum_n")
    )
    d = (
        docs.join(F.broadcast(counts), ["source", "lang"])
        .withColumn(
            "quota", F.expr(f"(stratum_n + {SAMPLE_DEN - 1}) div {SAMPLE_DEN}")
        )
        .withColumn("pid", F.spark_partition_id())
    )
    wl = Window.partitionBy("source", "lang", "pid").orderBy("hh", "doc_id")
    pre = (
        d.withColumn("lr", F.row_number().over(wl))
        .filter(F.col("lr") <= F.col("quota"))
        .drop("lr", "pid")
    )
    wg = Window.partitionBy("source", "lang").orderBy("hh", "doc_id")
    return (
        pre.withColumn("sample_rank", F.row_number().over(wg))
        .filter(F.col("sample_rank") <= F.col("quota"))
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("sample_rank").cast("long").alias("sample_rank"),
            F.col("stratum_n").cast("long").alias("stratum_n"),
            "quota",
        )
    )


stratified_sample.__doc__ = stratified_sample.__doc__.format(
    SAMPLE_DEN=SAMPLE_DEN, SAMPLE_DEN_1=SAMPLE_DEN - 1
)


@register(
    "source_fertility_stats",
    oracle=f"""
    WITH t AS (
      SELECT source, lang, len({_TOKS}) AS nt, length(text) AS nc,
             length(regexp_replace(text, '\\s+', '', 'g')) AS ns
      FROM documents
    )
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           CAST(sum(ns) AS BIGINT) AS n_nonspace,
           CAST((sum(nt) * 1000000) // nullif(sum(nc), 0) AS BIGINT)
             AS tokens_per_char_micro,
           CAST((sum(ns) * 1000000) // nullif(sum(nt), 0) AS BIGINT)
             AS chars_per_token_micro
    FROM t GROUP BY source, lang
    """,
)
def source_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility accounting per (source, lang) — the table a
    tokenization run publishes to size token budgets and spot encoders
    that explode on a language (fertility shifts are the first symptom of
    tokenizer/corpus mismatch). One narrow projection computes per-doc
    token/char/nonspace counts inside codegen, then ONE map-side-combined
    aggregation per stratum; the two ratios are truncating integer micro
    units over the summed (not per-doc averaged) counts, so they are
    exact and weight long docs correctly. Null-safe on empty strata via
    nullif (Spark div and DuckDB // both propagate NULL)."""
    docs = load_table(spark, "documents", sf_dir)
    tk = dedup.word_tokens(F.col("text"))
    t = docs.select(
        "source",
        "lang",
        F.size(tk).alias("nt"),
        F.length("text").alias("nc"),
        F.length(F.regexp_replace("text", r"\s+", "")).alias("ns"),
    )
    return (
        t.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.sum("ns").cast("long").alias("n_nonspace"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_nonspace",
            F.expr("n_tokens * 1000000 div nullif(n_chars, 0)").alias(
                "tokens_per_char_micro"
            ),
            F.expr("n_nonspace * 1000000 div nullif(n_tokens, 0)").alias(
                "chars_per_token_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + residual product quantization
# ---------------------------------------------------------------------------

@layer("ivfpq")
def _trained_ivfpq(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-memoized (coarse centroids, residual PQ codebook) — the
    train-once/serve-many split, like ``_pq_trio``."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = similarity.coarse_centroids(emb)
    if not cents:  # empty corpus: nothing to train on
        return ([], [])
    cb = similarity.train_pq_multi(
        {"residual": similarity.ivfpq_residual_subvecs(emb, cents)}
    )["residual"]
    return (cents, cb)


def _ivfpq_oracle() -> str:
    M, D, C = similarity.PQ_M, similarity.PQ_D, similarity.IVFPQ_C
    d2full = _pq_d2_sql("e.vm", "c.cv", similarity.EMB_DIM)
    term = _pq_d2_sql("q.sv", "b.cv", D)
    parts = [
        _PQ_EM_CTE,
        f"""cents AS MATERIALIZED (
      SELECT vec_id AS cid, vm AS cv FROM em WHERE vec_id < {C}
    )""",
        f"""asn AS MATERIALIZED (
      SELECT vec_id, cid, cv FROM (
        SELECT e.vec_id, c.cid, c.cv,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2full}, c.cid) AS r
        FROM em e, cents c)
      WHERE r = 1
    )""",
        f"""rsv AS MATERIALIZED (
      SELECT a.vec_id, u.s AS s,
             list_transform(generate_series(1, {D}),
                            d -> e.vm[u.s * {D} + d] - a.cv[u.s * {D} + d]) AS sv
      FROM asn a JOIN em e ON e.vec_id = a.vec_id,
           unnest(generate_series(0, {M - 1})) AS u(s)
    )""",
    ] + _pq_lloyd_parts("rsv")
    parts.append(
        f"""qs AS (
      SELECT vec_id AS q_id, cid AS qcid FROM asn
      WHERE vec_id < {similarity.N_QUERIES}
    )"""
    )
    parts.append(
        f"""qrs AS (
      SELECT vec_id AS q_id, s, sv FROM rsv
      WHERE vec_id < {similarity.N_QUERIES}
    )"""
    )
    parts.append(
        f"""adc AS MATERIALIZED (
      SELECT q.q_id, c.vec_id, CAST(sum({term}) AS BIGINT) AS dist
      FROM qrs q JOIN qs ON qs.q_id = q.q_id
           JOIN asn a2 ON a2.cid = qs.qcid
           JOIN codes c ON c.vec_id = a2.vec_id AND c.s = q.s
                       AND c.vec_id != q.q_id
           JOIN cbF b ON b.s = c.s AND b.code = c.code
      GROUP BY q.q_id, c.vec_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT q_id, vec_id AS nbr_id, dist AS pq_dist, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT q_id, vec_id, dist,
             row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rank
      FROM adc)
    WHERE rank <= {similarity.PQ_TOPK}"""
    )


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composite index production vector stores actually
    ship (FAISS's IndexIVFPQ shape): a coarse quantizer splits the corpus
    into {IVFPQ_C} inverted lists, PQ codebooks train on the INTEGER
    RESIDUALS (vector minus its coarse centroid — residuals concentrate
    near zero, which is where a 16-codeword quantizer earns its bits),
    and each query probes only its own list with the exact-integer ADC
    table of its residual. Every quantity is int64-on-the-micro-grid end
    to end: coarse assignment is an exact-L2 argmin over the literal
    centroid table (ties to lowest cid), residuals are integer
    subtractions, Lloyd means are HUGEINT-div-count. Scale shape: coarse
    assign + residual + encode are all zero-shuffle projections; at rest
    the code table is partitioned by cid, so a probe is a
    partition-pruned scan of ~1/{IVFPQ_C} of the corpus feeding one
    q_id-keyed ranking window (the fixture-scale plan filters
    qcid == cid right after the per-query explode). Train-once state:
    {IVFPQ_C}x{EMB_DIM} centroid ints + the 1024-int codebook."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents, cb = _trained_ivfpq(spark, sf_dir)
    if not cents or not cb:  # empty corpus: no quantizer / codebook
        return _empty_ann_result(emb)
    base = similarity.ivfpq_residual_subvecs(emb, cents)
    codes = similarity.pq_encode_base(base, cb, carry=("cid",))
    qrows = (
        emb.filter(F.col("vec_id") < similarity.N_QUERIES)
        .select("vec_id", similarity.micro_vec(F.col("embedding")).alias("vm"))
        .collect()
    )
    if not qrows:  # no query sample: explode(array()) would be invalid
        return _empty_ann_result(emb)
    M, D, K, DIM = (
        similarity.PQ_M,
        similarity.PQ_D,
        len(cb[0]),
        similarity.EMB_DIM,
    )
    per_q = []
    for r in qrows:
        qid, vm = int(r["vec_id"]), [int(x) for x in r["vm"]]
        qcid = min(
            (sum((vm[d] - cents[c][d]) ** 2 for d in range(DIM)), c)
            for c in range(len(cents))
        )[1]
        rq = [vm[d] - cents[qcid][d] for d in range(DIM)]
        table = [
            [
                sum((rq[s * D + d] - cb[s][k][d]) ** 2 for d in range(D))
                for k in range(K)
            ]
            for s in range(M)
        ]
        dist = " + ".join(
            "element_at(array({vals}), c{s} + 1)".format(
                vals=",".join(f"{int(v)}L" for v in table[s]), s=s
            )
            for s in range(M)
        )
        per_q.append(
            f"named_struct('q_id', {qid}, 'qcid', {qcid}, 'dist', {dist})"
        )
    stacked = (
        codes.select(
            "vec_id",
            "cid",
            F.expr("explode(array(" + ",".join(per_q) + "))").alias("qd"),
        )
        .filter(
            (F.col("qd.qcid") == F.col("cid"))
            & (F.col("vec_id") != F.col("qd.q_id"))
        )
        .select(
            "vec_id",
            F.col("qd.q_id").alias("q_id"),
            F.col("qd.dist").alias("dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("dist", "vec_id")
    return (
        stacked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= similarity.PQ_TOPK)
        .select(
            "q_id",
            F.col("vec_id").alias("nbr_id"),
            F.col("dist").cast("long").alias("pq_dist"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


ann_ivfpq_topk.__doc__ = ann_ivfpq_topk.__doc__.format(
    IVFPQ_C=similarity.IVFPQ_C, EMB_DIM=similarity.EMB_DIM
)


# ---------------------------------------------------------------------------
# Matryoshka-style truncated-dimension recall audit
# ---------------------------------------------------------------------------

TRUNC_DIM = 16  # prefix dimensions kept by the truncated index


def _trunc_recall_oracle() -> str:
    K, N = similarity.PQ_TOPK, similarity.N_QUERIES
    ex_d2 = _pq_d2_sql("q.vm", "e.vm", similarity.EMB_DIM)
    tr_d2 = _pq_d2_sql("q.vm", "e.vm", TRUNC_DIM)
    return f"""WITH {_PQ_EM_CTE},
    qm AS (SELECT vec_id AS q_id, vm FROM em WHERE vec_id < {N}),
    tt AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {tr_d2}, e.vec_id) AS r
        FROM qm q JOIN em e ON e.vec_id != q.q_id)
      WHERE r <= {K}
    ),
    ext AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {ex_d2}, e.vec_id) AS r
        FROM qm q JOIN em e ON e.vec_id != q.q_id)
      WHERE r <= {K}
    )
    SELECT tt.q_id,
           CAST(count(ext.vec_id) AS BIGINT) AS n_overlap,
           (count(ext.vec_id) * 1000000) // {K} AS recall_micro
    FROM tt LEFT JOIN ext ON ext.q_id = tt.q_id AND ext.vec_id = tt.vec_id
    GROUP BY tt.q_id"""


@register("ann_truncated_recall_audit", oracle=_trunc_recall_oracle())
def ann_truncated_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: recall@{K} of integer-L2 search
    over the FIRST {TRUNC_DIM} of {DIM} embedding dimensions against the
    full-dimension exact ground truth — the damage report behind the
    "store a prefix, spend 4x less" trade every embedding-heavy pipeline
    is offered (MRL-trained models concentrate signal in the prefix;
    random fixture embeddings are the worst case, which is what makes the
    audit non-vacuous). One broadcast-query x corpus scan computes BOTH
    distances per pair; two ranking windows over the SAME q_id partition
    pick the two top-{K} sets, and the overlap count is rows where both
    ranks clear {K} — the exact pass never runs twice. Audit-sized by the
    fixed query sample, like every exact side in this family."""
    K = similarity.PQ_TOPK
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", similarity.micro_vec(F.col("embedding")).alias("vm")
    )
    q = emb.filter(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vm").alias("qv")
    )
    d2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            d2(F.col("qv"), F.col("vm")).alias("d2f"),
            d2(
                F.slice(F.col("qv"), 1, TRUNC_DIM),
                F.slice(F.col("vm"), 1, TRUNC_DIM),
            ).alias("d2t"),
        )
    )
    wq = Window.partitionBy("q_id")
    both = pairs.select(
        "q_id",
        F.row_number().over(wq.orderBy("d2f", "vec_id")).alias("rf"),
        F.row_number().over(wq.orderBy("d2t", "vec_id")).alias("rt"),
    )
    hits = (
        both.filter((F.col("rf") <= K) & (F.col("rt") <= K))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_overlap"),
            F.expr(f"coalesce(n, 0) * 1000000 div {K}").alias("recall_micro"),
        )
    )


ann_truncated_recall_audit.__doc__ = ann_truncated_recall_audit.__doc__.format(
    K=similarity.PQ_TOPK, TRUNC_DIM=TRUNC_DIM, DIM=similarity.EMB_DIM
)


# ---------------------------------------------------------------------------
# containment (asymmetric Jaccard) dedup — small-doc-inside-big-doc pairs
# ---------------------------------------------------------------------------

CONTAINMENT_MIN_MICRO = 800_000  # |A ∩ B| / |A| >= 0.8


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {{toks}} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ss
      FROM toks WHERE len(tk) >= 1
    ),
    occ AS (SELECT doc_id, unnest(ss) AS g FROM sh),
    df AS (SELECT g, count(*) AS df FROM occ GROUP BY g),
    kept AS (SELECT o.doc_id, o.g FROM occ o JOIN df ON df.g = o.g
             WHERE df.df <= {{max_df}}),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             CAST(count(*) AS BIGINT) AS common
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    )
    SELECT contained_id, container_id, common,
           sa.sz AS size_contained, sb.sz AS size_container,
           common * 1000000 // sa.sz AS containment_micro,
           common * 1000000 // (sa.sz + sb.sz - common) AS jaccard_micro
    FROM pairs
    JOIN sz sa ON sa.doc_id = contained_id
    JOIN sz sb ON sb.doc_id = container_id
    WHERE common * 1000000 >= {CONTAINMENT_MIN_MICRO} * sa.sz
    """.format(toks=_TOKS, max_df=dedup.MAX_DOC_FREQ),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT dedup — the asymmetric-Jaccard direction every symmetric
    near-dup pass is blind to: |A ∩ B| / |A| >= 0.8 over 3-gram shingle
    sets finds a small document living INSIDE a big one (truncation dups,
    quoted inclusions, page-in-crawl) even when symmetric Jaccard is tiny
    because the container dilutes the union. Directional by construction:
    (contained, container) ordered pairs, both directions emitted when both
    hold (exact dups with unequal kept-set sizes survive in one direction
    only — the fixture plants 25+ genuine truncation pairs, every one
    size-asymmetric). Reuses the shared persisted shingle layer
    (``_doc_ngrams``) and the same df <= 64 hot-gram cutoff as
    ``dedup_ngram_jaccard`` — sizes and intersections both live in the
    filtered universe, so the ratio stays internally consistent; at 100 TB
    the cutoff is what collision-bounds the inverted-index self-join, the
    identical scale contract as the symmetric pair queries. All integer:
    cleared-denominator predicate (common·1e6 >= {MIN} · |A|), micro-grid
    ratios via truncating div in both engines. Jaccard rides along so the
    consumer can see exactly which containment pairs the symmetric pass
    at 0.5 would have missed."""
    # r13: the persisted df-annotated layer replaces the in-plan df
    # aggregate + join-back (identical rows: layer = sh join df_, cut here)
    kept = (
        _doc_gram_df(spark, sf_dir)
        .filter(F.col("df") <= dedup.MAX_DOC_FREQ)
        .select("doc_id", "g")
    )
    sz = kept.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    a = kept.select(F.col("doc_id").alias("contained_id"), F.col("g").alias("ga"))
    b = kept.select(F.col("doc_id").alias("container_id"), F.col("g").alias("gb"))
    pairs = (
        a.join(
            b,
            (F.col("ga") == F.col("gb"))
            & (F.col("contained_id") != F.col("container_id")),
        )
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    return (
        pairs.join(
            sz.select(
                F.col("doc_id").alias("contained_id"),
                F.col("sz").alias("size_contained"),
            ),
            "contained_id",
        )
        .join(
            sz.select(
                F.col("doc_id").alias("container_id"),
                F.col("sz").alias("size_container"),
            ),
            "container_id",
        )
        .filter(
            F.col("common") * 1_000_000
            >= CONTAINMENT_MIN_MICRO * F.col("size_contained")
        )
        .select(
            "contained_id",
            "container_id",
            "common",
            "size_contained",
            "size_container",
            F.expr("common * 1000000 div size_contained").alias(
                "containment_micro"
            ),
            F.expr(
                "common * 1000000 div (size_contained + size_container - common)"
            ).alias("jaccard_micro"),
        )
    )


dedup_containment_pairs.__doc__ = dedup_containment_pairs.__doc__.replace(
    "{MIN}", str(CONTAINMENT_MIN_MICRO)
)


# ---------------------------------------------------------------------------
# semantic decontamination audit (embedding-route benchmark leakage check)
# ---------------------------------------------------------------------------

SEM_TAU_MICRO = 900_000  # cosine >= 0.9 counts as semantic contamination
SEM_BUCKET_MICRO = 50_000  # margin histogram granularity


@register(
    "semantic_decontam_audit",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    b AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 20 = 0),
    t AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 20 != 0),
    s AS (
      SELECT t.vec_id,
             max(CAST(floor(list_dot_product(t.v, b.v) / (t.nrm * b.nrm)
                            * 1000000 + 0.5) AS BIGINT)) AS mx_micro
      FROM t, b GROUP BY t.vec_id
    ),
    g AS (SELECT CAST(count(CASE WHEN mx_micro >= {SEM_TAU_MICRO} THEN 1 END)
                      AS BIGINT) AS n_contaminated,
                 {SEM_TAU_MICRO} - max(mx_micro) AS margin_micro
          FROM s)
    SELECT greatest(mx_micro, 0) // {SEM_BUCKET_MICRO} AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           g.n_contaminated, g.margin_micro
    FROM s, g
    GROUP BY 1, g.n_contaminated, g.margin_micro
    """,
)
def semantic_decontam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the EMBEDDING route to the question
    ``benchmark_contamination`` answers with 8-gram overlap: paraphrased
    or reworded benchmark leakage shares no n-gram, but it cannot hide
    from the encoder. Every training vector is scored against the full
    eval-suite embedding set (vec_id % 20 == 0, the fixture's stand-in
    split shared with the n-gram family); the audit emits the compliance
    row a release checklist wants — n_contaminated (max-cosine >=
    {TAU} micro) PINNED TO ZERO by the oracle, the way
    ``pii_redaction_audit`` pins its zero-residual scan — plus the
    max-similarity margin histogram that turns "found nothing" into
    "nothing is even CLOSE" (fixture: every training vector's nearest
    benchmark neighbor sits below cosine 0.50, a 0.40+ margin under the
    threshold). Per-pair cosines hit the micro grid BEFORE the per-vector
    max (house transcendental policy), so engine/order variation cannot
    move a bucket; the bucket id clamps at zero because Spark's ``div``
    truncates while DuckDB's ``//`` floors on NEGATIVE operands — the one
    divergence class integer grids don't fix by themselves. Scale shape:
    the eval suite is BOUNDED BY CONSTRUCTION in production (a fixed
    benchmark, not a corpus sample) — but because THIS implementation
    derives it from a corpus slice, the broadcast hint additionally goes
    through the ``hints.broadcast_if_small`` size gate (belt-and-braces:
    a mis-deployed corpus-sized "benchmark" degrades to a shuffle join
    instead of OOMing executors) — then one corpus scan against the
    bounded build side, one per-vector max and a ~20-group histogram."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).withColumn("nrm", F.sqrt(similarity.dot(F.col("v"), F.col("v"))))
    b = base.filter(F.col("vec_id") % 20 == 0).select(
        F.col("v").alias("bv"), F.col("nrm").alias("bn")
    )
    t = base.filter(F.col("vec_id") % 20 != 0)
    mx = F.max(
        F.floor(
            similarity.dot(F.col("v"), F.col("bv"))
            / (F.col("nrm") * F.col("bn"))
            * 1_000_000
            + F.lit(0.5)
        ).cast("long")
    ).alias("mx_micro")
    from postgres_cdc_example_spark.operators import hints

    # wide rows (64-dim vector + norm ≈ 0.5 KB) -> a tighter row bound
    # than the default keeps the broadcast in the low hundreds of MB
    s = t.join(
        hints.broadcast_if_small(b, max_rows=200_000)
    ).groupBy("vec_id").agg(mx)
    g = s.agg(
        F.count(F.when(F.col("mx_micro") >= SEM_TAU_MICRO, 1))
        .cast("long")
        .alias("n_contaminated"),
        (F.lit(SEM_TAU_MICRO) - F.max("mx_micro")).cast("long").alias(
            "margin_micro"
        ),
    )
    return (
        s.select(
            F.expr(
                f"greatest(mx_micro, 0) div {SEM_BUCKET_MICRO}"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(g))
        .select("bucket", "n_docs", "n_contaminated", "margin_micro")
    )


semantic_decontam_audit.__doc__ = semantic_decontam_audit.__doc__.replace(
    "{TAU}", str(SEM_TAU_MICRO)
)


# ---------------------------------------------------------------------------
# contrastive negative sampling (deterministic, near-dup-aware)
# ---------------------------------------------------------------------------

NEG_POOL = 64  # candidate pool: docs with the 64 smallest md5(doc_id) hashes
NEG_K = 4  # negatives emitted per anchor


_CNP_ORACLE = f"""
    WITH pool AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                 doc_id) AS rn
        FROM documents) WHERE rn <= {NEG_POOL}
    ),
    mh AS ({{mh}}),
    nbr AS (
      SELECT doc_a AS a, doc_b AS b FROM mh
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM mh
    ),
    sc AS (
      SELECT d.doc_id AS anchor, p.doc_id AS neg_id,
             ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                || CAST(p.doc_id AS VARCHAR)), 1, 15))::BIGINT AS pick_hash
      FROM documents d, pool p
      WHERE p.doc_id != d.doc_id
        AND NOT EXISTS (SELECT 1 FROM nbr
                        WHERE nbr.a = d.doc_id AND nbr.b = p.doc_id)
    ),
    rk AS (
      SELECT anchor, neg_id, pick_hash,
             row_number() OVER (PARTITION BY anchor
                                ORDER BY pick_hash, neg_id) AS neg_rank
      FROM sc
    )
    SELECT anchor, CAST(neg_rank AS BIGINT) AS neg_rank, neg_id, pick_hash
    FROM rk WHERE neg_rank <= {NEG_K}
    """


@register(
    "contrastive_negatives_plan",
    oracle=_CNP_ORACLE.replace("{mh}", _minhash_oracle()),
)
def contrastive_negatives_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive training pairs —
    the step after dedup in an embedding-training pipeline: every anchor
    document draws {K} negatives from a fixed {POOL}-document candidate
    pool (the {POOL} smallest md5(doc_id) values — a deterministic
    hash-reservoir, so the pool is identical across engines, runs and
    partitionings), ranked by the pair hash md5(anchor:candidate) — i.e.
    "random" negatives that are pure functions of ids, replayable forever
    (the `sample_hash_10pct` discipline applied to PAIR selection). The
    part a naive sampler gets wrong is baked in: a candidate that is a
    NEAR-DUPLICATE of its anchor (verified MinHash/LSH pair universe,
    both directions) is excluded — a false negative in the contrastive
    loss pushes apart what training should pull together. Scale shape:
    the pool ids are bounded driver metadata ({POOL} longs, collected off
    a TakeOrdered); scoring is one corpus scan against the {POOL}-row
    broadcast (no self-join — the pool side is constant), the near-dup
    exclusion is one keyed join against the (small) verified pair table,
    and the per-anchor ranking window orders at most {POOL} rows per
    anchor. The oracle replays pool selection, exclusion, and ranking
    relationally; pick_hash rides along so the driver hash pins the
    actual selection values, not just the ids."""
    docs = load_table(spark, "documents", sf_dir)
    pool = (
        docs.select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .orderBy("h", "doc_id")
        .limit(NEG_POOL)
        .select(F.col("doc_id").alias("neg_id"))
    )
    pairs = dedup.minhash_lsh_pairs(
        docs, shingles=_doc_ngrams(spark, sf_dir), bands=_doc_bands(spark, sf_dir)
    ).select("doc_a", "doc_b")
    nbr = pairs.select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("neg_id")
    ).union(
        pairs.select(F.col("doc_b").alias("anchor"), F.col("doc_a").alias("neg_id"))
    )
    sc = (
        docs.select(F.col("doc_id").alias("anchor"))
        .join(F.broadcast(pool), F.col("neg_id") != F.col("anchor"))
        .join(nbr, ["anchor", "neg_id"], "left_anti")
        .select(
            "anchor",
            "neg_id",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("anchor").cast("string"),
                            F.lit(":"),
                            F.col("neg_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("pick_hash"),
        )
    )
    w = Window.partitionBy("anchor").orderBy("pick_hash", "neg_id")
    return (
        sc.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= NEG_K)
        .select("anchor", "neg_rank", "neg_id", "pick_hash")
    )


contrastive_negatives_plan.__doc__ = contrastive_negatives_plan.__doc__.replace(
    "{K}", str(NEG_K)
).replace("{POOL}", str(NEG_POOL))


# ---------------------------------------------------------------------------
# sorted-neighborhood dedup (the record-linkage blocking family)
# ---------------------------------------------------------------------------

SNM_WINDOW = 8  # neighbors compared after the sort (the method's w)
SNM_KEY_LEN = 64  # sort-key prefix length (normalized text)
SNM_BUCKET_LEN = 8  # rank bucket = first 8 chars (monotone coarsening)


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH tk0 AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ss
      FROM tk0 WHERE len(tk) >= 1
    ),
    d AS (SELECT doc_id, substr(lower(trim(text)), 1, {SNM_KEY_LEN}) AS sk
          FROM documents),
    r AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS rn FROM d),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(b.rn - a.rn AS BIGINT) AS window_dist
      FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_WINDOW}
    ),
    v AS (
      SELECT doc_a, doc_b, window_dist,
             CAST(len(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS inter,
             CAST(len(sa.ss) AS BIGINT) AS na,
             CAST(len(sb.ss) AS BIGINT) AS nb
      FROM p JOIN sh sa ON sa.doc_id = p.doc_a
             JOIN sh sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, window_dist,
           inter * 1000000 // (na + nb - inter) AS jac_micro
    FROM v WHERE inter * 2 >= (na + nb - inter)
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD dedup (Hernandez & Stolfo's merge/purge) — the
    third blocking family next to LSH (probabilistic) and prefix
    filtering (threshold-exact): sort the corpus on a normalized-text key
    and compare each document only to its {W} sorted neighbors. The
    method's bet is that near-duplicates SORT TOGETHER — true by
    construction for truncation/prefix dups (this corpus: {W}-window SNM
    catches 25/25 of the exact-Jaccard >= 0.5 pairs that LSH needs 16
    hashes and 4 band joins to find), and its blind spot (edits in the
    first words break adjacency) is exactly why production systems run
    multi-pass SNM with rotated keys — registered as
    ``dedup_snm_multipass`` (this pass + a rotated-key pass +
    union-dedup). Scale shape:
    the global rank uses the two-pass distributed form proven by
    ``quality_curriculum`` (per-bucket row_number on a PREFIX bucket —
    a monotone coarsening of the sort key — plus broadcast cumulative
    offsets from the bucket histogram; the corpus never crosses one
    reducer), neighbor pairs come from an {W}-way rank-key explode +
    equi-join (never a non-equi range join), and verification joins the
    bounded per-pair shingle arrays off the shared layer. The oracle
    states the spec as one global row_number + BETWEEN join."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, SNM_KEY_LEN).alias("sk"),
    ).withColumn("qb", F.substring(F.col("sk"), 1, SNM_BUCKET_LEN))
    wb = Window.partitionBy("qb").orderBy("sk", "doc_id")
    ranked = d.withColumn("rk", F.row_number().over(wb))
    # r13 (guide §2.1, the _snm_pairs fix): counts off the window OUTPUT
    # (already partitioned by qb) — max(row_number) == count, no second
    # shuffle of the key table
    counts = ranked.groupBy("qb").agg(F.max("rk").alias("n_b"))
    wo = Window.orderBy("qb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "qb", (F.sum("n_b").over(wo) - F.col("n_b")).alias("offset")
    )
    r = ranked.join(F.broadcast(offsets), "qb").select(
        "doc_id", (F.col("offset") + F.col("rk")).cast("long").alias("rn")
    )
    a = r.select(
        F.col("doc_id").alias("doc_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array(*[F.col("rn") + F.lit(i) for i in range(1, SNM_WINDOW + 1)])
        ).alias("rn"),
    )
    p = a.join(r.withColumnRenamed("doc_id", "doc_b"), "rn").select(
        "doc_a", "doc_b", (F.col("rn") - F.col("rn_a")).alias("window_dist")
    )
    sh = _doc_ngrams(spark, sf_dir)
    # two consumers (a-side and b-side) — the multipass checkpoint rule
    arrs = (
        sh.groupBy("doc_id")
        .agg(F.collect_list("g").alias("ss"))
        .localCheckpoint(eager=False)
    )
    ta = arrs.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    tb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))
    # r13 (guide §2.3): J >= 0.5 is impossible unless 3*least(na, nb) >=
    # na + nb — test sizes BEFORE the quadratic array_intersect; dropped
    # rows could never pass the exact filter below (see dedup_snm_multipass)
    sz_ok = (
        F.lit(3) * F.least(F.size("sa"), F.size("sb")).cast("long")
        >= F.size("sa").cast("long") + F.size("sb").cast("long")
    )
    v = (
        p.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(sz_ok)
        .select(
            "doc_a",
            "doc_b",
            "window_dist",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("inter"),
            F.size("sa").cast("long").alias("na"),
            F.size("sb").cast("long").alias("nb"),
        )
    )
    return (
        v.filter(F.col("inter") * 2 >= F.col("na") + F.col("nb") - F.col("inter"))
        .select(
            "doc_a",
            "doc_b",
            "window_dist",
            F.expr("inter * 1000000 div (na + nb - inter)").alias("jac_micro"),
        )
    )


dedup_sorted_neighborhood.__doc__ = dedup_sorted_neighborhood.__doc__.replace(
    "{W}", str(SNM_WINDOW)
)


SNM_ROTATE_TOKENS = 3  # pass-2 key drops the first 3 tokens (rotated key)


def _snm_pairs(d: DataFrame) -> DataFrame:
    """Neighbor pairs (x, y) of one SNM pass over ``d`` = (doc_id, sk):
    the two-pass distributed rank (per-prefix-bucket row_number + broadcast
    cumulative offsets — the corpus never crosses one reducer), then the
    W-way rank-explode equi-join. Factored from the single-pass query so
    the multi-pass variant runs the IDENTICAL shape per key."""
    d = d.withColumn("qb", F.substring(F.col("sk"), 1, SNM_BUCKET_LEN))
    wb = Window.partitionBy("qb").orderBy("sk", "doc_id")
    ranked = d.withColumn("rk", F.row_number().over(wb))
    # r13 (guide §2.1): bucket counts = max(rank) over the WINDOW OUTPUT,
    # which is already hash-partitioned by qb — the aggregate needs no new
    # exchange, where the old ``d.groupBy("qb").count()`` re-shuffled the
    # key table once more per pass (2 extra exchanges in the multipass
    # query). max(row_number) == count by construction.
    counts = ranked.groupBy("qb").agg(F.max("rk").alias("n_b"))
    wo = Window.orderBy("qb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "qb", (F.sum("n_b").over(wo) - F.col("n_b")).alias("offset")
    )
    r = ranked.join(F.broadcast(offsets), "qb").select(
        "doc_id", (F.col("offset") + F.col("rk")).cast("long").alias("rn")
    )
    a = r.select(
        F.col("doc_id").alias("x"),
        F.explode(
            F.array(*[F.col("rn") + F.lit(i) for i in range(1, SNM_WINDOW + 1)])
        ).alias("rn"),
    )
    return a.join(r.withColumnRenamed("doc_id", "y"), "rn").select("x", "y")


@register(
    "dedup_snm_multipass",
    oracle=f"""
    WITH tk0 AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ss
      FROM tk0 WHERE len(tk) >= 1
    ),
    d1 AS (SELECT doc_id, substr(lower(trim(text)), 1, {SNM_KEY_LEN}) AS sk
           FROM documents),
    r1 AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS rn FROM d1),
    p1 AS (
      SELECT a.doc_id AS x, b.doc_id AS y
      FROM r1 a JOIN r1 b ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_WINDOW}
    ),
    d2 AS (SELECT doc_id,
                  substr(array_to_string(tk[{SNM_ROTATE_TOKENS + 1}:], ' '),
                         1, {SNM_KEY_LEN}) AS sk
           FROM tk0),
    r2 AS (SELECT doc_id, row_number() OVER (ORDER BY sk, doc_id) AS rn FROM d2),
    p2 AS (
      SELECT a.doc_id AS x, b.doc_id AS y
      FROM r2 a JOIN r2 b ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_WINDOW}
    ),
    u AS (
      SELECT least(x, y) AS doc_a, greatest(x, y) AS doc_b,
             CAST(max(f1) AS BIGINT) AS in_pass1,
             CAST(max(f2) AS BIGINT) AS in_pass2
      FROM (SELECT x, y, 1 AS f1, 0 AS f2 FROM p1
            UNION ALL
            SELECT x, y, 0 AS f1, 1 AS f2 FROM p2)
      GROUP BY 1, 2
    ),
    v AS (
      SELECT u.doc_a, u.doc_b, u.in_pass1, u.in_pass2,
             CAST(len(list_intersect(sa.ss, sb.ss)) AS BIGINT) AS inter,
             CAST(len(sa.ss) AS BIGINT) AS na,
             CAST(len(sb.ss) AS BIGINT) AS nb
      FROM u JOIN sh sa ON sa.doc_id = u.doc_a
             JOIN sh sb ON sb.doc_id = u.doc_b
    )
    SELECT doc_a, doc_b, in_pass1, in_pass2,
           inter * 1000000 // (na + nb - inter) AS jac_micro
    FROM v WHERE inter * 2 >= (na + nb - inter)
    """,
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS sorted-neighborhood — the production form the single-pass
    docstring promises: pass 1 sorts on the normalized-text prefix (catches
    truncation/suffix-edit dups), pass 2 on a ROTATED key that drops the
    first {ROT} tokens (catches dups whose FIRST words were edited — pass
    1's structural blind spot, planted and pinned in
    tests/test_extensions.py). Pairs from both passes union, canonicalize
    to (least, greatest) — the two passes can discover the same pair in
    opposite sort orientations — and dedup with per-pass provenance flags
    (in_pass1/in_pass2: which blocking key found it), then verify ONCE per
    unique pair on the shared shingle layer (exact Jaccard >= 0.5, micro
    floor-div). Scale shape: each pass is the identical two-pass
    distributed rank + {W}-way rank-explode equi-join of the single-pass
    query (``_snm_pairs``) — no global single-reducer window, no non-equi
    range join — and verification cost is paid per UNIQUE pair, not per
    (pass, pair). The oracle states the spec as the union of the two
    global BETWEEN-join passes."""
    docs = load_table(spark, "documents", sf_dir)
    d1 = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, SNM_KEY_LEN).alias("sk"),
    )
    from postgres_cdc_example_spark.operators.dedup import word_tokens

    d2 = docs.select(
        "doc_id",
        F.substring(
            F.concat_ws(
                " ",
                F.slice(
                    word_tokens(F.col("text")),
                    SNM_ROTATE_TOKENS + 1,
                    1_000_000,
                ),
            ),
            1,
            SNM_KEY_LEN,
        ).alias("sk"),
    )
    u = (
        _snm_pairs(d1)
        .select("x", "y", F.lit(1).alias("f1"), F.lit(0).alias("f2"))
        .unionByName(
            _snm_pairs(d2).select(
                "x", "y", F.lit(0).alias("f1"), F.lit(1).alias("f2")
            )
        )
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "f1",
            "f2",
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("f1").cast("long").alias("in_pass1"),
            F.max("f2").cast("long").alias("in_pass2"),
        )
    )
    sh = _doc_ngrams(spark, sf_dir)
    # two consumers (a-side and b-side of the verification join) — the
    # checkpoint stops the per-doc collect_list from running twice
    arrs = (
        sh.groupBy("doc_id")
        .agg(F.collect_list("g").alias("ss"))
        .localCheckpoint(eager=False)
    )
    ta = arrs.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa"))
    tb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb"))
    # r13 (guide §2.3): inter <= least(na, nb), so the J >= 0.5 filter
    # below is IMPOSSIBLE unless 3*least(na, nb) >= na + nb — a pure size
    # test. SNM window pairs are sort-adjacency, mostly NON-duplicates,
    # so testing sizes BEFORE array_intersect skips the quadratic
    # intersect for most of the ~2×W×N candidate pairs; dropped rows
    # could never pass the exact filter, output identical.
    sz_ok = (
        F.lit(3) * F.least(F.size("sa"), F.size("sb")).cast("long")
        >= F.size("sa").cast("long") + F.size("sb").cast("long")
    )
    v = (
        u.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(sz_ok)
        .select(
            "doc_a",
            "doc_b",
            "in_pass1",
            "in_pass2",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("inter"),
            F.size("sa").cast("long").alias("na"),
            F.size("sb").cast("long").alias("nb"),
        )
    )
    return v.filter(
        F.col("inter") * 2 >= F.col("na") + F.col("nb") - F.col("inter")
    ).select(
        "doc_a",
        "doc_b",
        "in_pass1",
        "in_pass2",
        F.expr("inter * 1000000 div (na + nb - inter)").alias("jac_micro"),
    )


dedup_snm_multipass.__doc__ = dedup_snm_multipass.__doc__.replace(
    "{W}", str(SNM_WINDOW)
).replace("{ROT}", str(SNM_ROTATE_TOKENS))


LEV_MAX = 16  # edit-distance acceptance bound on the 64-char prefixes


@register(
    "dedup_edit_distance_verify",
    oracle=f"""
    WITH d AS (SELECT doc_id, substr(lower(trim(text)), 1, {SNM_KEY_LEN}) AS sk
               FROM documents),
    r AS (SELECT doc_id, sk, row_number() OVER (ORDER BY sk, doc_id) AS rn
          FROM d),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sk AS sa, b.sk AS sb
      FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_WINDOW}
    )
    SELECT doc_a, doc_b, CAST(levenshtein(sa, sb) AS BIGINT) AS edit_dist
    FROM p WHERE levenshtein(sa, sb) <= {LEV_MAX}
    """,
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE verification — the record-linkage verifier the
    set-based family can't express: shingle Jaccard scores token
    OVERLAP, Levenshtein scores the EDIT SCRIPT, so transposed words,
    in-word typos, and single-char corruptions that shatter 3-gram
    shingles still verify here. Candidates come from the SNM sorted
    window (the same blocking the merge/purge literature pairs with
    edit-distance verification); a pair survives at distance <=
    {LEV}/{KL} chars on the normalized prefix. Engine runs
    ``F.levenshtein`` (JVM codegen, char-level DP) over the two-pass
    distributed rank's neighbor pairs; the oracle restates blocking as
    the global BETWEEN join and uses DuckDB's ``levenshtein``. Parity
    caveat, verified before registration: DuckDB's distance is
    BYTE-level, Spark's CHAR-level — identical on this all-ASCII fixture
    (asserted: 0 non-ASCII docs at every SF; same precedent as
    ``multimodal_frame_sample``'s byte/char coincidence), and the
    docstring records the divergence so a future non-ASCII fixture is a
    known loud re-work, not a mystery. Scale shape: the O(len²) DP runs
    on {KL}-char PREFIXES (bounded per-pair cost) over O(n·window)
    blocked pairs — never all pairs."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, SNM_KEY_LEN).alias("sk"),
    )
    pairs = _snm_pairs(d)
    sa = d.select(F.col("doc_id").alias("x"), F.col("sk").alias("sa"))
    sb = d.select(F.col("doc_id").alias("y"), F.col("sk").alias("sb"))
    # r13 (guide §4-adjacent — cut per-row compute): the 3-arg bounded
    # levenshtein runs the banded O(len·k) DP with early exit instead of
    # the full O(len²) table, returning -1 above the bound. Kept rows'
    # distances are EXACTLY the unbounded values (the band only prunes
    # rows the <= LEV_MAX filter discarded anyway); the >= 0 guard
    # excludes the -1 sentinel the old filter never saw.
    return (
        pairs.join(sa, "x")
        .join(sb, "y")
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            F.levenshtein("sa", "sb", LEV_MAX).cast("long").alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= LEV_MAX))
    )


dedup_edit_distance_verify.__doc__ = dedup_edit_distance_verify.__doc__.replace(
    "{LEV}", str(LEV_MAX)
).replace("{KL}", str(SNM_KEY_LEN))


# ---------------------------------------------------------------------------
# duplicate-graph shape audit (triangles / transitivity per component)
# ---------------------------------------------------------------------------


@register(
    "dedup_graph_shape_audit",
    oracle="""
    WITH mh AS ({mh}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM mh),
    ed AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    nodes AS (SELECT DISTINCT a AS id FROM ed),
    comp AS (
      WITH RECURSIVE reach(id, label) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT ed.b, r.label FROM reach r JOIN ed ON ed.a = r.id
      )
      SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id
    ),
    tri AS (
      SELECT e1.a AS x FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tric AS (
      SELECT c.component, CAST(count(*) AS BIGINT) AS n_triangles
      FROM tri JOIN comp c ON c.doc_id = tri.x GROUP BY c.component
    ),
    deg AS (SELECT a AS id, count(*) AS d FROM ed GROUP BY a),
    wed AS (
      SELECT c.component,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg JOIN comp c ON c.doc_id = deg.id GROUP BY c.component
    ),
    edc AS (
      SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges
      FROM e JOIN comp c ON c.doc_id = e.a GROUP BY c.component
    ),
    sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_docs
           FROM comp GROUP BY component)
    SELECT s.component, s.n_docs, edc.n_edges,
           COALESCE(t.n_triangles, 0) AS n_triangles, w.n_wedges,
           COALESCE(t.n_triangles, 0) * 3 * 1000000
             // greatest(w.n_wedges, 1) AS transitivity_micro
    FROM sz s
    JOIN edc ON edc.component = s.component
    JOIN wed w ON w.component = s.component
    LEFT JOIN tric t ON t.component = s.component
    """.replace("{mh}", _minhash_oracle()),
)
def dedup_graph_shape_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPE of the duplicate graph, not just its components: per cluster,
    triangle count and transitivity (3·triangles / wedges) over the
    LSH-verified pair graph. The number separates the two duplicate
    regimes a curation pipeline treats differently — transitivity ≈ 1
    means a CLIQUE (a template family: every member duplicates every
    other, keep exactly one), transitivity ≈ 0 means a CHAIN (pairwise
    drift: A~B~C but A&C differ — near-dup transitivity is NOT free, and
    keeper-only dedup may discard documents that are genuinely distinct
    from the keeper). Triangle counting is the ordered 3-way self-join
    (a<b<c edges, each triangle counted once) — bounded by the VERIFIED
    pair table, which the df-cutoff/LSH machinery already
    collision-bounds; wedges come from one degree aggregate. Components
    reuse the exact `dedup_clusters` label propagation; the oracle
    recomputes them with its recursive CTE and the triangles with the
    same ordered join. At 100 TB this runs on the pair table (thousands
    of rows per million docs), never the corpus."""
    # the verified pair table is consumed by SIX downstream plans (three
    # triangle arms, components, degrees, edge counts) — checkpoint it once
    # so the minhash/verification pipeline runs once, not per consumer
    # (the pagerank-loop discipline; measured 8.3 s -> ~2 s at sf0.1)
    pairs = (
        dedup.minhash_lsh_pairs(
            load_table(spark, "documents", sf_dir),
            shingles=_doc_ngrams(spark, sf_dir),
            bands=_doc_bands(spark, sf_dir),
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    ed = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    cc = dedup.connected_components(pairs)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).select("x")
    tric = (
        tri.join(cc.withColumnRenamed("doc_id", "x"), "x")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = ed.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    wed = (
        deg.join(cc.withColumnRenamed("doc_id", "a"), "a")
        .groupBy("component")
        .agg(
            F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
        )
    )
    edc = (
        e.join(cc.withColumnRenamed("doc_id", "a"), "a")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    sz = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        sz.join(edc, "component")
        .join(wed, "component")
        .join(tric, "component", "left")
        .select(
            "component",
            "n_docs",
            "n_edges",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            "n_wedges",
            F.expr(
                "coalesce(n_triangles, 0) * 3 * 1000000"
                " div greatest(n_wedges, 1)"
            ).alias("transitivity_micro"),
        )
    )


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH docs_inj AS ({{inj}}),
    pred AS ({{p}}),
    j AS (
      SELECT d.lang AS actual_lang, p.detected_lang
      FROM pred p JOIN docs_inj d ON d.doc_id = p.doc_id
    ),
    tot AS (SELECT actual_lang, CAST(count(*) AS BIGINT) AS n_actual
            FROM j GROUP BY actual_lang)
    SELECT j.actual_lang, j.detected_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           count(*) * 1000000 // t.n_actual AS cell_share_micro
    FROM j JOIN tot t ON t.actual_lang = j.actual_lang
    GROUP BY j.actual_lang, j.detected_lang, t.n_actual
    """.format(inj=_injected_docs_sql(), p=_lang_oracle("docs_inj")),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX over the INJECTED eval corpus — the
    eval the detector has owed since it was registered, de-vacuized: the
    raw fixture's text is English-ish under every lang label, so the
    matrix used to read all-'en' (an honest but information-free row).
    The ``pii_redaction_audit`` injection pattern fixes it: doc_id-keyed
    slices get deterministic marker blocks from the detector's own
    vocabulary prepended, with their actual_lang OVERRIDDEN to the
    injected language — labeled ground truth by construction, identical
    in both engines (:func:`_injected_docs`). The matrix now carries
    de/fr/es diagonal mass (injected slices the detector must recover),
    off-diagonal mass (fixture-labeled de/fr/es rows whose text is
    English — the label-vs-text disagreement a real crawl audit
    surfaces), and the en/code-switch rows. Composes the REGISTERED
    detector on both sides: the engine calls the same ``text.lang_id``
    operator over the injected frame, the oracle interpolates the
    registered oracle SQL over the ``docs_inj`` CTE — evaluation and
    production can never drift.
    Scale shape: injection is a per-row CASE inside the detector's
    zero-shuffle scan, one thin doc_id join for labels, a
    |langs|²-bounded rollup plus a |langs|-row broadcast."""
    docs = _injected_docs(load_table(spark, "documents", sf_dir))
    pred = text.lang_id(docs).select("doc_id", "detected_lang")
    j = pred.join(docs.select("doc_id", F.col("lang").alias("actual_lang")), "doc_id")
    tot = j.groupBy("actual_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_actual")
    )
    return (
        j.groupBy("actual_lang", "detected_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .join(F.broadcast(tot), "actual_lang")
        .select(
            "actual_lang",
            "detected_lang",
            "n_docs",
            F.expr("n_docs * 1000000 div n_actual").alias("cell_share_micro"),
        )
    )


# ---------------------------------------------------------------------------
# one-permutation-hashing (OPH) minhash — the 1-hash-per-shingle scale path
# ---------------------------------------------------------------------------

OPH_BUCKETS = 16  # one hex nibble of the single hash
# Candidate rule: 2*matches >= min(occupied_a, occupied_b). For two docs
# that both fill all 16 buckets this is the classic >= 8/16 ~ Jaccard-0.5
# line; for short docs that occupy fewer buckets the threshold shrinks
# with them, so an exact duplicate of a 3-shingle doc (3 occupied
# buckets, 3 matches) is still a candidate (r9 ADVICE: the fixed 8 made
# short-doc duplicates structurally unreachable).


@register(
    "dedup_minhash_oph",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ss
      FROM toks WHERE len(tk) >= 1
    ),
    shr AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    oph AS (
      SELECT doc_id,
             strpos('0123456789abcdef', substr(md5(s), 1, 1)) - 1 AS bucket,
             min(md5(s)) AS mh
      FROM shr GROUP BY doc_id, bucket
    ),
    occ_n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
              FROM oph GROUP BY doc_id),
    cand0 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS matches
      FROM oph a JOIN oph b
        ON a.bucket = b.bucket AND a.mh = b.mh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    cand AS (
      SELECT c.doc_a, c.doc_b, c.matches
      FROM cand0 c
      JOIN occ_n na ON na.doc_id = c.doc_a
      JOIN occ_n ob ON ob.doc_id = c.doc_b
      WHERE 2 * c.matches >= least(na.nb, ob.nb)
    ),
    verified AS (
      SELECT doc_a, doc_b, matches,
             len(list_intersect(sa.ss, sb.ss)) AS common,
             len(sa.ss) AS size_a, len(sb.ss) AS size_b
      FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, matches, common, size_a, size_b,
           CAST(floor(CAST(common AS DOUBLE) / (size_a + size_b - common)
                      * 1000000.0) AS BIGINT) AS jac_micro
    FROM verified
    WHERE CAST(floor(CAST(common AS DOUBLE) / (size_a + size_b - common)
                     * 1000000.0) AS BIGINT) >= 500000
    """,
)
def dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PERMUTATION-HASHING minhash — the hash-budget scale path beside
    `dedup_minhash_lsh`: classic minhash evaluates NUM_HASHES=16 salted
    md5s per shingle occurrence; OPH (Li-Owen-Zhang 2012) evaluates ONE
    md5 and partitions hash space into {OPH_BUCKETS} buckets by the first
    hex nibble, keeping the min per (doc, bucket). At 100 TB the shingle
    explode dominates the dedup bill and OPH cuts its hash arithmetic
    16× — the difference between one pass and a re-shard. Candidate
    discovery joins on (bucket, min) equality — per-bucket agreement is a
    Bernoulli(J) trial exactly like a classic minhash row. The candidate
    threshold is ADAPTIVE: 2·matches ≥ min(occupied_a, occupied_b),
    i.e. half the buckets the SHORTER doc actually occupies (= the
    classic 8/{OPH_BUCKETS} ~ J ≈ 0.5 line when both docs fill all
    buckets). A fixed 8 made duplicates of short docs (< 8 occupied
    buckets — few distinct shingles) structurally unreachable, a recall
    gap vs `dedup_minhash_lsh` (r9 ADVICE); scaling by occupancy is the
    cheap alternative to empty-bucket densification and keeps the
    oracle's integer arithmetic exact. The exact-Jaccard verification
    stage makes the estimator's remaining bias harmless — candidates
    are never reported unverified. Verification
    recomputes EXACT Jaccard on the shared shingle layer and keeps
    ≥ 0.5 — the same contract as every other dedup family member, so
    downstream clustering composes unchanged. Scale shape: one shingle
    explode (shared persisted layer), ONE md5 per shingle row, a
    (doc, bucket)-keyed min-aggregate (≤ {OPH_BUCKETS} rows/doc), an
    equi-join on (bucket, min-hash) that only meets true collisions, and
    keyed verification joins. No all-pairs stage anywhere."""
    sh = _doc_ngrams(spark, sf_dir).withColumnRenamed("g", "s")
    h = sh.select("doc_id", F.md5("s").alias("h"))
    oph = (
        h.select(
            "doc_id",
            F.expr(
                "CAST(instr('0123456789abcdef', substring(h, 1, 1)) - 1"
                " AS INT)"
            ).alias("bucket"),
            "h",
        )
        .groupBy("doc_id", "bucket")
        .agg(F.min("h").alias("mh"))
    )
    a = oph.select(
        F.col("doc_id").alias("doc_a"),
        F.col("bucket").alias("ba"),
        F.col("mh").alias("ma"),
    )
    b = oph.select(
        F.col("doc_id").alias("doc_b"),
        F.col("bucket").alias("bb"),
        F.col("mh").alias("mb"),
    )
    occ_n = oph.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    cand = (
        a.join(
            b,
            (F.col("ba") == F.col("bb"))
            & (F.col("ma") == F.col("mb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("matches"))
        .join(
            occ_n.select(F.col("doc_id").alias("doc_a"), F.col("nb").alias("nb_a")),
            "doc_a",
        )
        .join(
            occ_n.select(F.col("doc_id").alias("doc_b"), F.col("nb").alias("nb_b")),
            "doc_b",
        )
        .filter(F.expr("2 * matches >= least(nb_a, nb_b)"))
        .select("doc_a", "doc_b", "matches")
    )
    # r12: per-pair array_intersect verification off ONE (doc, shingle-
    # array, size) aggregate — replaces two shingle-ROW joins + re-agg +
    # two size joins (the minhash_lsh_pairs lesson; shingle rows are
    # distinct so set-intersect size == the old match count; common >= 1
    # preserves the old inner-join semantics exactly)
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("s").alias("ss"), F.count(F.lit(1)).cast("long").alias("sz")
    )
    jac = (
        "CAST(floor(CAST(common AS DOUBLE) / (size_a + size_b - common)"
        " * 1000000.0) AS BIGINT)"
    )
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("ss").alias("ss_a"),
                F.col("sz").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("ss").alias("ss_b"),
                F.col("sz").alias("size_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "matches",
            F.size(F.array_intersect("ss_a", "ss_b")).cast("long").alias("common"),
            "size_a",
            "size_b",
        )
        .filter(F.col("common") >= 1)
        .select(
            "doc_a",
            "doc_b",
            "matches",
            "common",
            "size_a",
            "size_b",
            F.expr(jac).alias("jac_micro"),
        )
        .filter(F.col("jac_micro") >= 500000)
    )


@register(
    "dedup_oph_calibration",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ss
      FROM toks WHERE len(tk) >= 1
    ),
    shr AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    oph AS (
      SELECT doc_id,
             strpos('0123456789abcdef', substr(md5(s), 1, 1)) - 1 AS bucket,
             min(md5(s)) AS mh
      FROM shr GROUP BY doc_id, bucket
    ),
    occ_n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb
              FROM oph GROUP BY doc_id),
    cand0 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS matches
      FROM oph a JOIN oph b
        ON a.bucket = b.bucket AND a.mh = b.mh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b, c.matches,
             least(na.nb, ob.nb) AS locc,
             CASE WHEN 2 * c.matches >= least(na.nb, ob.nb)
                  THEN 1 ELSE 0 END AS admitted
      FROM cand0 c
      JOIN occ_n na ON na.doc_id = c.doc_a
      JOIN occ_n ob ON ob.doc_id = c.doc_b
    ),
    jacs AS (
      SELECT p.matches, p.locc, p.admitted,
             CAST(floor(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                        / (len(sa.ss) + len(sb.ss)
                           - len(list_intersect(sa.ss, sb.ss)))
                        * 1000000.0) AS BIGINT) AS jac
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b
    )
    SELECT CAST(matches AS BIGINT) AS est_matches,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(admitted) AS BIGINT) AS n_admitted,
           CAST(sum(CASE WHEN jac >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(sum(CASE WHEN admitted = 1 AND jac >= 500000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted_true,
           CAST(sum(matches * 1000000 // locc) // count(*) AS BIGINT)
             AS mean_predicted_micro,
           CAST(sum(jac) // count(*) AS BIGINT) AS mean_jac_micro,
           CAST(min(jac) AS BIGINT) AS min_jac_micro,
           CAST(max(jac) AS BIGINT) AS max_jac_micro
    FROM jacs GROUP BY matches
    """,
)
def dedup_oph_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPH ESTIMATOR CALIBRATION — the `dedup_minhash_calibration` shape
    pointed at one-permutation hashing (r10 verdict #5): per bucket-min
    agreement level, the exact-Jaccard distribution of ALL OPH collision
    candidates (no verification filter — calibration needs the full
    curve), plus how the r10-ADVICE ADAPTIVE admission threshold
    (2·matches ≥ least occupancy) behaves at each level: `n_admitted`,
    `n_true` (exact J ≥ 0.5) and `n_admitted_true` make the threshold's
    operating point MEASURED, not argued — precision at a level is
    n_admitted_true/n_admitted, recall n_admitted_true/n_true.
    `mean_predicted_micro` is the occupancy-normalized estimate
    matches/least(nb) in micro — the OPH analogue of classic minhash's
    matches/{NH}, exact integer arithmetic per pair (multiply before one
    floor division). Measured on the fixtures (sf0.01): the adaptive
    threshold admits every exact-J ≥ 0.5 candidate it discovers
    (within-candidate precision 1.0 AND recall 1.0 — all 25 admitted
    pairs, est ≥ 7, verify true, and no true pair sits below the
    adaptive line), matching classic minhash's banding on the same corpus
    (`lsh_recall_audit` recall 1.0) at 1/16th the hash arithmetic; the
    1,649 rejected candidates at est 1-2 (mean J ≈ 0.011-0.022) are the
    noise floor the threshold exists to reject. Scale shape: identical to
    `dedup_minhash_oph` minus the threshold filter — shared shingle
    layer, one md5 per shingle row, (doc,bucket)-keyed min aggregate,
    collision equi-join, keyed verification joins onto a ≤ {NB1}-row-max
    aggregate; never all-pairs."""
    sh = _doc_ngrams(spark, sf_dir).withColumnRenamed("g", "s")
    h = sh.select("doc_id", F.md5("s").alias("h"))
    oph = (
        h.select(
            "doc_id",
            F.expr(
                "CAST(instr('0123456789abcdef', substring(h, 1, 1)) - 1"
                " AS INT)"
            ).alias("bucket"),
            "h",
        )
        .groupBy("doc_id", "bucket")
        .agg(F.min("h").alias("mh"))
    )
    a = oph.select(
        F.col("doc_id").alias("doc_a"),
        F.col("bucket").alias("ba"),
        F.col("mh").alias("ma"),
    )
    b = oph.select(
        F.col("doc_id").alias("doc_b"),
        F.col("bucket").alias("bb"),
        F.col("mh").alias("mb"),
    )
    occ_n = oph.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    pairs = (
        a.join(
            b,
            (F.col("ba") == F.col("bb"))
            & (F.col("ma") == F.col("mb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("matches"))
        .join(
            occ_n.select(F.col("doc_id").alias("doc_a"), F.col("nb").alias("nb_a")),
            "doc_a",
        )
        .join(
            occ_n.select(F.col("doc_id").alias("doc_b"), F.col("nb").alias("nb_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "matches",
            F.expr("least(nb_a, nb_b)").cast("long").alias("locc"),
            F.expr(
                "CASE WHEN 2 * matches >= least(nb_a, nb_b)"
                " THEN 1 ELSE 0 END"
            )
            .cast("long")
            .alias("admitted"),
        )
    )
    # r12: array_intersect verification off one (doc, array, size)
    # aggregate (the minhash_lsh_pairs lesson). OPH collision pairs always
    # share >= 1 shingle (equal bucket-min md5 => equal shingle), so the
    # common >= 1 filter preserves the old inner-join semantics exactly.
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("s").alias("ss"), F.count(F.lit(1)).cast("long").alias("sz")
    )
    jacs = (
        pairs.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("ss").alias("ss_a"),
                F.col("sz").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("ss").alias("ss_b"),
                F.col("sz").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn("common", F.size(F.array_intersect("ss_a", "ss_b")).cast("long"))
        .filter(F.col("common") >= 1)
        .select(
            "matches",
            "locc",
            "admitted",
            F.expr(
                "CAST(floor(CAST(common AS DOUBLE)"
                " / (size_a + size_b - common) * 1000000.0) AS BIGINT)"
            ).alias("jac"),
        )
    )
    return jacs.groupBy("matches").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("admitted").cast("long").alias("n_admitted"),
        F.sum(F.expr("CASE WHEN jac >= 500000 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_true"),
        F.sum(
            F.expr(
                "CASE WHEN admitted = 1 AND jac >= 500000 THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_admitted_true"),
        F.expr("CAST(sum(matches * 1000000 div locc) div count(*) AS BIGINT)")
        .alias("mean_predicted_micro"),
        F.expr("CAST(sum(jac) div count(*) AS BIGINT)").alias("mean_jac_micro"),
        F.min("jac").cast("long").alias("min_jac_micro"),
        F.max("jac").cast("long").alias("max_jac_micro"),
    ).select(
        F.col("matches").alias("est_matches"),
        "n_pairs",
        "n_admitted",
        "n_true",
        "n_admitted_true",
        "mean_predicted_micro",
        "mean_jac_micro",
        "min_jac_micro",
        "max_jac_micro",
    )


dedup_oph_calibration.__doc__ = dedup_oph_calibration.__doc__.replace(
    "{NB1}", str(OPH_BUCKETS + 1)
).replace("{NH}", str(dedup.NUM_HASHES))


# ---------------------------------------------------------------------------
# Poisson bootstrap — uncertainty quantification without data replication
# ---------------------------------------------------------------------------

BOOT_REPS = 16
# Poisson(1) CDF on the micro grid: P(X<=k) for k = 0..5 (precomputed
# literals — floor(cdf*1e6+0.5); the runtime never calls exp)
BOOT_CDF_MICRO = (367879, 735759, 919699, 981012, 996340, 999406)


def _boot_weight_case(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(BOOT_CDF_MICRO)
    )
    return f"CASE {whens} ELSE {len(BOOT_CDF_MICRO)} END"


@register(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH o AS (SELECT o_orderkey AS k,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    reps AS (SELECT unnest(generate_series(0, {BOOT_REPS - 1})) AS b),
    w AS (
      SELECT reps.b, o.cents,
             {_boot_weight_case(
                 "CAST(('0x' || substr(md5(CAST(o.k AS VARCHAR) || ':' || "
                 "CAST(reps.b AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"
             )} AS wt
      FROM o CROSS JOIN reps
    ),
    per AS (
      SELECT b AS replicate, CAST(sum(wt) AS BIGINT) AS n_eff,
             CAST(sum(wt * cents) AS BIGINT) AS sum_cents,
             CAST(CASE WHEN sum(wt) = 0 THEN 0
                  ELSE (CAST(sum(wt * cents) AS HUGEINT) * 1000) // sum(wt)
                  END AS BIGINT) AS mean_cents_milli
      FROM w GROUP BY b
    ),
    summ AS (
      SELECT CAST(({BOOT_REPS} * sum(CAST(mean_cents_milli AS HUGEINT)
                                     * mean_cents_milli)
                   - sum(CAST(mean_cents_milli AS HUGEINT))
                     * sum(CAST(mean_cents_milli AS HUGEINT)))
                  // ({BOOT_REPS} * {BOOT_REPS - 1}) AS BIGINT)
               AS boot_var_milli2
      FROM per
    ),
    orig AS (
      SELECT CAST((CAST(sum(cents) AS HUGEINT) * 1000) // count(*)
                  AS BIGINT) AS orig_mean_cents_milli
      FROM o
    )
    SELECT per.replicate, per.n_eff, per.sum_cents, per.mean_cents_milli,
           summ.boot_var_milli2, orig.orig_mean_cents_milli
    FROM per, summ, orig
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP standard error for the mean order value — the
    scale-out answer to "what is the confidence interval on this corpus
    statistic": classic bootstrap resamples N rows WITH replacement
    {BOOT_REPS}× (impossible at 100 TB — it needs a global sample index);
    the Poisson bootstrap replaces each replicate's multinomial with
    per-row INDEPENDENT Poisson(1) weights, so all {BOOT_REPS} replicates
    compute in ONE scan as weighted aggregates — no data replication, no
    coordination, embarrassingly parallel (the Chamandy et al. / Google
    'Estimating Uncertainty for Massive Data Streams' construction).
    Determinism: the Poisson draw inverts the precomputed CDF literal
    table against a uniform hash u = md5(key:replicate) mod 10⁶ — same
    idiom as `sample_hash_10pct`, reproducible across engines, runs, and
    partitionings; the runtime never calls exp() or a RNG. Replicate
    means are milli-quantized integers; the bootstrap variance of those
    means is the exact integer (B·Σm² - (Σm)²) // (B·(B-1)) — all
    non-negative operands (Cauchy-Schwarz makes the numerator ≥ 0), so
    Spark ``div`` ≡ DuckDB ``//``. Scale shape: one scan × {BOOT_REPS}
    lightweight weight projections (the CROSS JOIN with the replicate
    grid is the audited bounded-literal-grid BNLJ), one map-side-combined
    per-replicate aggregate, 1-row summary broadcasts."""
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    # heal scan parallelism before the ×{BOOT_REPS} weight projection
    # (r12, guide §2.5 input skew): the bench fixture is ONE single-row-
    # group parquet file -> one scan task, and the broadcast-grid BNLJ
    # inherits it, so all B·N md5 draws ran single-threaded (measured:
    # 1.9 s of the query's 2.1 s was the one-task weight projection).
    # A 2.4 MB (k, cents) shuffle buys 32-way hash parallelism; a no-op
    # at scale where the scan already splits. Weights are per-(k, b)
    # deterministic so results are partitioning-invariant.
    ow = hints.heal_scan_parallelism(o)
    reps = spark.range(BOOT_REPS).select(F.col("id").cast("int").alias("b"))
    u = (
        "CAST(conv(substring(md5(concat(CAST(k AS STRING), ':',"
        " CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000000"
    )
    w = ow.crossJoin(F.broadcast(reps)).select(
        "b", "cents", F.expr(_boot_weight_case(u)).alias("wt")
    )
    per = w.groupBy(F.col("b").alias("replicate")).agg(
        F.sum("wt").cast("long").alias("n_eff"),
        F.sum(F.expr("wt * cents")).cast("long").alias("sum_cents"),
        F.expr(
            "CAST(CASE WHEN sum(wt) = 0 THEN 0"
            " ELSE (CAST(sum(wt * cents) AS DECIMAL(38,0)) * 1000)"
            " div sum(wt) END AS BIGINT)"
        ).alias("mean_cents_milli"),
    )
    summ = per.agg(
        F.expr(
            f"CAST(({BOOT_REPS} * sum(CAST(mean_cents_milli AS DECIMAL(38,0))"
            " * mean_cents_milli)"
            " - sum(CAST(mean_cents_milli AS DECIMAL(38,0)))"
            " * sum(CAST(mean_cents_milli AS DECIMAL(38,0))))"
            f" div ({BOOT_REPS} * {BOOT_REPS - 1}) AS BIGINT)"
        ).alias("boot_var_milli2")
    )
    orig = o.agg(
        F.expr(
            "CAST((CAST(sum(cents) AS DECIMAL(38,0)) * 1000) div count(*)"
            " AS BIGINT)"
        ).alias("orig_mean_cents_milli")
    )
    return (
        per.crossJoin(F.broadcast(summ))
        .crossJoin(F.broadcast(orig))
        .select(
            "replicate",
            "n_eff",
            "sum_cents",
            "mean_cents_milli",
            "boot_var_milli2",
            "orig_mean_cents_milli",
        )
    )


def _verified_pairs_sql() -> str:
    """CTE suffix producing the verified Jaccard>=0.5 pair set (doc_a <
    doc_b) — the same spec as `dedup_minhash_lsh`'s output, reused by the
    graph-quality audits."""
    jac = (
        "CAST(floor(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)"
        " / (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)))"
        " * 1000000.0) AS BIGINT)"
    )
    return f"""
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      JOIN sh sa ON sa.doc_id = cand.doc_a
      JOIN sh sb ON sb.doc_id = cand.doc_b
      WHERE {jac} >= 500000
    )"""


@register(
    "dedup_transitivity_audit",
    oracle=f"""
    WITH {_minhash_bands_ctes()},
    {_verified_pairs_sql()},
    und AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    wedges AS (
      SELECT w1.u AS center, w1.v AS x, w2.v AS y
      FROM und w1 JOIN und w2 ON w1.u = w2.u AND w1.v < w2.v
    ),
    closed AS (
      SELECT count(*) AS n_closed
      FROM wedges JOIN pairs p ON p.doc_a = wedges.x AND p.doc_b = wedges.y
    ),
    agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
             (SELECT CAST(n_closed AS BIGINT) FROM closed) AS n_closed
    )
    SELECT n_edges, n_wedges, n_closed,
           CAST(CASE WHEN n_wedges = 0 THEN 1000000
                ELSE (n_closed * 1000000) // n_wedges END AS BIGINT)
             AS transitivity_micro
    FROM agg
    """,
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP GRAPH TRANSITIVITY audit — the global clustering
    coefficient (closed wedges / all wedges) of the verified Jaccard ≥
    0.5 pair graph: the health check for the connected-components
    clustering every keeper/survivorship query builds on
    (`dedup_clusters`, `golden_record_survivorship`). Jaccard ≥ 0.5 is
    NOT transitive (a~b ~c can hold with a,c at 0.33), so components can
    chain together documents that share nothing; transitivity near 10⁶
    means components are tight cliques (safe to pick one keeper),
    transitivity sagging means chain-merging is happening and the
    cluster-based keeper policy needs an edit-distance or centroid
    re-check (`dedup_edit_distance_verify` is the per-pair arm of that).
    A wedge is an ordered neighbor pair (x < y) around a center; each
    triangle closes exactly 3 wedges, so transitivity = n_closed /
    n_wedges IS the standard 3·triangles/wedges. The empty-wedge
    degenerate reports 10⁶ (vacuously transitive) in both engines.
    Scale shape: the pair set is collision-bounded (the LSH contract);
    the wedge join is keyed on the CENTER doc (per-node degree² — bounded
    by near-dup cluster sizes, exactly the quantity
    `dedup_graph_shape_audit` monitors); closure check is one keyed join
    back to the pair set. Shares the persisted shingle/band layers."""
    sh = _doc_ngrams(spark, sf_dir).withColumnRenamed("g", "s")
    # r13: the verified pair table feeds FOUR subplans here (two wedge
    # arms, the closure probe, the edge count) — checkpoint it once so the
    # LSH verification tail runs once, not per consumer (the
    # dedup_graph_shape_audit discipline; measured 1.74 -> 0.83 s
    # best-of-3 at sf0.1, AQE stage jobs 36 -> 10)
    pairs = (
        dedup.minhash_lsh_pairs(
            load_table(spark, "documents", sf_dir),
            shingles=sh,
            bands=_doc_bands(spark, sf_dir),
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    w1 = und.select(F.col("u").alias("center"), F.col("v").alias("x"))
    w2 = und.select(F.col("u").alias("center"), F.col("v").alias("y"))
    wedges = w1.join(w2, "center").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        pairs.select(
            F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
        ),
        ["x", "y"],
    ).agg(F.count(F.lit(1)).cast("long").alias("n_closed"))
    ne = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nw = wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
    return (
        ne.crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(closed))
        .select(
            "n_edges",
            "n_wedges",
            "n_closed",
            F.expr(
                "CAST(CASE WHEN n_wedges = 0 THEN 1000000"
                " ELSE (n_closed * 1000000) div n_wedges END AS BIGINT)"
            ).alias("transitivity_micro"),
        )
    )


@register(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH {_minhash_bands_ctes()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT cand.doc_a, cand.doc_b,
             len(list_filter(generate_series(1, {dedup.NUM_HASHES}),
                             i -> sa.sg[i] = sb.sg[i])) AS est,
             len(list_intersect(sa.ss, sb.ss)) AS common,
             len(sa.ss) AS size_a, len(sb.ss) AS size_b
      FROM cand
      JOIN sig sa ON sa.doc_id = cand.doc_a
      JOIN sig sb ON sb.doc_id = cand.doc_b
    ),
    jacs AS (
      SELECT est,
             CAST(floor(CAST(common AS DOUBLE)
                        / (size_a + size_b - common) * 1000000.0)
                  AS BIGINT) AS jac
      FROM scored
    )
    SELECT CAST(est AS BIGINT) AS est_matches,
           CAST(est * 1000000 // {dedup.NUM_HASHES} AS BIGINT)
             AS predicted_micro,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(jac) // count(*) AS BIGINT) AS mean_jac_micro,
           CAST(min(jac) AS BIGINT) AS min_jac_micro,
           CAST(max(jac) AS BIGINT) AS max_jac_micro
    FROM jacs GROUP BY est
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH ESTIMATOR CALIBRATION — per signature-agreement level
    (0..{NH} matching hashes), the exact-Jaccard distribution of the
    band-collision candidate pairs: the table that tells you whether
    "est = matches/{NH}" is an unbiased similarity estimate ON YOUR
    CORPUS, and therefore whether the candidate threshold can be trusted
    to track the ≥ 0.5 verification line. `lsh_recall_audit` scores the
    BANDING (did collisions find the truly-similar pairs?); this scores
    the ESTIMATOR (do agreement counts predict similarity?) — the two
    failure modes are independent (banding can recall perfectly while a
    skewed shingle distribution biases the per-hash agreement). Unlike
    the pair queries, the ≥ 0.5 verification filter is deliberately NOT
    applied: calibration needs the full curve, including the
    low-similarity candidates the dedup queries discard. Composes the
    SHARED layers end to end — candidates from the persisted band table,
    agreements from the same signature construction, exact Jaccard from
    the persisted shingle rows via keyed joins on the bounded candidate
    set. Scale shape: band self-join on bucket keys (the family's audited
    candidate discovery, never all-pairs), two doc-keyed joins, one
    {NH1}-row-max aggregate."""
    bands = _doc_bands(spark, sf_dir)
    # r13 (VERDICT #1: this query regressed 1.08 -> 1.58 s on the driver
    # box under the r12 four-join shape). The candidate list is lazily
    # checkpointed once (tiny, collision-bounded; the minhash_lsh_pairs
    # discipline — an interleaved A/B measured the checkpointed in-plan
    # candidate list FASTER than reading a persisted candidate layer,
    # 0.45 vs 0.67 s on dedup_minhash_lsh), and ONE candidate-bounded
    # per-doc aggregate computes BOTH the 16 signature mins and the
    # shingle array+size — the r12 shape ran the 16-md5 min-aggregate
    # corpus-wide, the collect_list corpus-wide, and four doc-keyed
    # joins; this runs one aggregate over colliding docs' shingle rows
    # only and TWO joins. Values identical: the semi-join keeps every
    # shingle row of a kept doc (mins and arrays unchanged), joins reach
    # exactly the same docs, and the agreement/jaccard arithmetic is
    # untouched. Measured steady-state at sf0.1 (8 runs, fresh session):
    # ~1.0 -> ~0.78 s; the semi-join cuts the hashed/aggregated shingle
    # rows 260k -> 24k (477 colliding docs, 256 candidate pairs).
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _doc_ngrams(spark, sf_dir)
    hashed = sh.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id",
        "g",
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("g"))).alias(f"h{i}")
            for i in range(dedup.NUM_HASHES)
        ],
    )
    per_doc = hashed.groupBy("doc_id").agg(
        F.collect_list("g").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("sz"),
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(dedup.NUM_HASHES)],
    ).localCheckpoint(eager=False)
    agree = F.expr(
        "CAST("
        + " + ".join(
            f"CASE WHEN a_mh{i} = b_mh{i} THEN 1 ELSE 0 END"
            for i in range(dedup.NUM_HASHES)
        )
        + " AS BIGINT)"
    )
    pa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ss").alias("ss_a"),
        F.col("sz").alias("size_a"),
        *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(dedup.NUM_HASHES)],
    )
    pb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ss").alias("ss_b"),
        F.col("sz").alias("size_b"),
        *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(dedup.NUM_HASHES)],
    )
    # band collisions always share >= 1 shingle (equal band key => equal
    # minhashes => a shared argmin shingle), so common >= 1 mirrors the
    # old inner join exactly (r12 note, unchanged).
    jacs = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn(
            "common", F.size(F.array_intersect("ss_a", "ss_b")).cast("long")
        )
        .filter(F.col("common") >= 1)
        .select(
            agree.alias("est"),
            F.expr(
                "CAST(floor(CAST(common AS DOUBLE)"
                " / (size_a + size_b - common) * 1000000.0) AS BIGINT)"
            ).alias("jac"),
        )
    )
    return jacs.groupBy("est").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(sum(jac) div count(*) AS BIGINT)").alias("mean_jac_micro"),
        F.min("jac").cast("long").alias("min_jac_micro"),
        F.max("jac").cast("long").alias("max_jac_micro"),
    ).select(
        F.col("est").alias("est_matches"),
        F.expr(f"CAST(est * 1000000 div {dedup.NUM_HASHES} AS BIGINT)").alias(
            "predicted_micro"
        ),
        "n_pairs",
        "mean_jac_micro",
        "min_jac_micro",
        "max_jac_micro",
    )


dedup_minhash_calibration.__doc__ = dedup_minhash_calibration.__doc__.replace(
    "{NH1}", str(dedup.NUM_HASHES + 1)
).replace("{NH}", str(dedup.NUM_HASHES))


KFOLD_K = 5  # folds for the leakage-safe split plan


@register(
    "split_kfold_plan",
    oracle=f"""
    WITH comp AS (SELECT doc_id, component FROM ({_clusters_oracle()})),
    keyed AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS group_key,
             CASE WHEN c.component IS NOT NULL THEN 1 ELSE 0 END AS in_cluster
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, group_key, in_cluster,
           CAST(('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 8))::BIGINT
                % {KFOLD_K} AS BIGINT) AS fold
    FROM keyed
    """,
)
def split_kfold_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE K-FOLD assignment — the cross-validation sibling of
    `split_leakage_safe` (that one splits train/eval once; this assigns
    {K} rotation folds): every document's fold is a deterministic hash of
    its near-dup GROUP key (the connected-component label from the
    registered `dedup_clusters`, its own doc_id for singletons), so all
    members of a near-dup cluster land in the SAME fold by construction
    and no rotation ever trains on one copy of a document while
    validating on another — the subtle leak that inflates k-fold scores
    on undeduplicated corpora. Composes the registered member on both
    sides (engine calls the fn, oracle interpolates its SQL — the
    capstone discipline), and the fold hash is the house md5-prefix
    integer (`cdc_gap_detection`'s drop rule), identical in both
    engines. Scale shape: the cluster table is collision-bounded (≪
    corpus), one doc_id-keyed left join, per-row hash arithmetic — no
    new shuffles beyond the member's own."""
    cl = (
        dedup.connected_components(
            dedup.minhash_lsh_pairs(
                load_table(spark, "documents", sf_dir),
                shingles=_doc_ngrams(spark, sf_dir),
                bands=_doc_bands(spark, sf_dir),
            )
        )
        .select("doc_id", "component")
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    keyed = docs.join(cl, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("group_key"),
        F.col("component").isNotNull().cast("int").cast("long").alias(
            "in_cluster"
        ),
    )
    fold = (
        F.conv(
            F.substring(F.md5(F.col("group_key").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % KFOLD_K
    )
    return keyed.select(
        "doc_id", "group_key", "in_cluster", fold.cast("long").alias("fold")
    )


split_kfold_plan.__doc__ = split_kfold_plan.__doc__.replace("{K}", str(KFOLD_K))


@register(
    "embedding_label_separation",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    ex AS (
      SELECT label, i AS pos, CAST(round(v[i] * 1e9) AS BIGINT) AS nano
      FROM e, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    sm AS (
      SELECT label, pos, CAST(sum(nano) AS BIGINT) AS s, count(*) AS c
      FROM ex GROUP BY label, pos
    ),
    cent AS (
      SELECT label,
             list(CAST(s AS DOUBLE) / (CAST(c AS DOUBLE) * 1e9)
                  ORDER BY pos) AS cv,
             CAST(max(c) AS BIGINT) AS n_vecs
      FROM sm GROUP BY label
    ),
    intra AS (
      SELECT e.label,
             CAST(sum(CAST(floor(list_dot_product(e.v, cent.cv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(cent.cv, cent.cv)))
                     * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_cos,
             CAST(count(*) AS BIGINT) AS n
      FROM e JOIN cent ON cent.label = e.label
      GROUP BY e.label
    ),
    inter AS (
      SELECT a.label,
             b.label AS other_label,
             CAST(floor(list_dot_product(a.cv, b.cv)
                  / (sqrt(list_dot_product(a.cv, a.cv))
                     * sqrt(list_dot_product(b.cv, b.cv)))
                  * 1000000 + 0.5) AS BIGINT) AS cc
      FROM cent a JOIN cent b ON a.label != b.label
    ),
    nearest AS (
      SELECT label, other_label AS nearest_other_label,
             cc AS nearest_other_cos_micro
      FROM (SELECT *, row_number() OVER (PARTITION BY label
                      ORDER BY cc DESC, other_label) AS rn FROM inter)
      WHERE rn = 1
    )
    SELECT CAST(cent.label AS BIGINT) AS label, cent.n_vecs,
           CAST(intra.s_cos // intra.n AS BIGINT) AS intra_mean_cos_micro,
           CAST(nearest.nearest_other_label AS BIGINT) AS nearest_other_label,
           nearest.nearest_other_cos_micro,
           CAST(intra.s_cos // intra.n - nearest.nearest_other_cos_micro
                AS BIGINT) AS separation_margin_micro
    FROM cent JOIN intra ON intra.label = cent.label
              JOIN nearest ON nearest.label = cent.label
    """,
)
def embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-SEPARATION audit over the embedding space — "do the class
    labels actually cluster?": per label, the mean cosine of members to
    their own label CENTROID (cohesion) vs the cosine to the NEAREST
    other label centroid (the confusable neighbor), and the margin
    between them — the fitness check a team runs before trusting
    `quality_classifier_train`'s features or using labels for stratified
    sampling (a negative margin says the label is not linearly separable
    in this space, so a linear classifier on it is noise). Exactness:
    centroids are integer nano-grid sums divided ONCE in double (the
    `embedding_source_drift`/`kmeans_centroids` policy), cosines are
    in-order folds floor-microed per pair — identical doubles, identical
    integers in both engines. Scale shape: one (label × dim)-keyed
    map-side-combined aggregate, a broadcast centroid join back for the
    per-member cosines (one scan), and a |labels|²-bounded centroid
    grid — never a vector-pair join."""
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", similarity.as_double(F.col("embedding")).alias("v")
    )
    ex = e.select(
        "label", F.posexplode(F.col("v")).alias("pos", "x")
    )
    sm = ex.groupBy("label", "pos").agg(
        F.sum(F.round(F.col("x") * F.lit(1e9)).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    mean = (
        F.col("s").cast("double") / (F.col("c").cast("double") * F.lit(1e9))
    ).alias("m")
    cent = (
        sm.select("label", "pos", mean, "c")
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv"),
            F.max("c").cast("long").alias("n_vecs"),
        )
    )
    cos_micro = lambda a, b: F.floor(  # noqa: E731
        similarity.dot(a, b)
        / (F.sqrt(similarity.dot(a, a)) * F.sqrt(similarity.dot(b, b)))
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    intra = (
        e.join(F.broadcast(cent.select("label", "cv")), "label")
        .select("label", cos_micro(F.col("v"), F.col("cv")).alias("cm"))
        .groupBy("label")
        .agg(
            F.sum("cm").cast("long").alias("s_cos"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    a = cent.select(F.col("label"), F.col("cv"))
    b = cent.select(
        F.col("label").alias("other_label"), F.col("cv").alias("cv_b")
    )
    inter = a.join(
        F.broadcast(b), F.col("label") != F.col("other_label")
    ).select(
        "label",
        "other_label",
        cos_micro(F.col("cv"), F.col("cv_b")).alias("cc"),
    )
    wn = Window.partitionBy("label").orderBy(
        F.col("cc").desc(), "other_label"
    )
    nearest = (
        inter.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.col("other_label").cast("long").alias("nearest_other_label"),
            F.col("cc").alias("nearest_other_cos_micro"),
        )
    )
    return (
        cent.select(F.col("label").cast("long").alias("label"), "n_vecs")
        .join(intra.select(F.col("label").cast("long").alias("label"), "s_cos", "n"), "label")
        .join(nearest.select(F.col("label").cast("long").alias("label"), "nearest_other_label", "nearest_other_cos_micro"), "label")
        .select(
            "label",
            "n_vecs",
            F.expr("CAST(s_cos div n AS BIGINT)").alias("intra_mean_cos_micro"),
            "nearest_other_label",
            "nearest_other_cos_micro",
            F.expr(
                "CAST(s_cos div n - nearest_other_cos_micro AS BIGINT)"
            ).alias("separation_margin_micro"),
        )
    )


DF_CUTOFF_AUDIT = 64  # the family's hot-shingle cutoff under audit


@register(
    "dedup_shingle_df_profile",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(tk) - 2, 1)),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS s
      FROM toks WHERE len(tk) >= 1
    ),
    df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s),
    b AS (
      SELECT CAST(floor(log2(df)) AS BIGINT) AS bucket, df FROM df
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(df) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(df AS HUGEINT) * (df - 1) // 2) AS BIGINT)
                     AS n_pairs,
                   CAST(sum(CASE WHEN df > {DF_CUTOFF_AUDIT}
                            THEN CAST(df AS HUGEINT) * (df - 1) // 2
                            ELSE 0 END) AS BIGINT) AS n_pairs_cut
            FROM df)
    SELECT b.bucket,
           CAST(power(2, b.bucket) AS BIGINT) AS df_lo,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(b.df) AS BIGINT) AS n_rows,
           CAST(sum(CAST(b.df AS HUGEINT) * (b.df - 1) // 2) AS BIGINT)
             AS n_pairs,
           CAST(sum(CAST(b.df AS HUGEINT) * (b.df - 1) // 2) * 1000000
                // tot.n_pairs AS BIGINT) AS pair_share_micro,
           CAST(tot.n_pairs_cut * 1000000 // tot.n_pairs AS BIGINT)
             AS cutoff_saves_micro
    FROM b, tot
    GROUP BY b.bucket, tot.n_pairs, tot.n_pairs_cut
    """,
)
def dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHINGLE DOCUMENT-FREQUENCY PROFILE — the audit that justifies (or
    indicts) the dedup family's df ≤ {CUT} hot-shingle cutoff: shingles
    bucketed by ⌊log₂ df⌋, each bucket carrying its count, row mass, and
    — the number that matters — its share of the INVERTED-INDEX PAIR
    VOLUME Σ df·(df−1)/2, the quantity that actually explodes on
    boilerplate (a single df = 10⁶ shingle contributes 5·10¹¹ candidate
    pairs). The `cutoff_saves_micro` column reports what fraction of
    total pair volume the current cutoff removes — the direct evidence
    for tuning it per corpus (the ngram-Jaccard / exact-substring /
    prefix-filter members all guard with this constant). Exact integers:
    df·(df−1)/2 is integer-exact (consecutive product), shares are
    truncating micro divisions. Scale shape: one pass over the shared
    shingle layer into a (shingle)-keyed map-side-combined count, then a
    ~32-row log₂ bucket rollup and one 1-row total broadcast — the
    cheapest possible view of the family's worst-case join cost."""
    sh = _doc_ngrams(spark, sf_dir)
    df_ = sh.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    b = df_.select(
        F.floor(F.log2("df")).cast("long").alias("bucket"), "df"
    )
    tot = df_.agg(
        F.sum(F.expr("CAST(df AS DECIMAL(38,0)) * (df - 1) div 2"))
        .cast("long")
        .alias("n_pairs"),
        F.sum(
            F.expr(
                f"CASE WHEN df > {DF_CUTOFF_AUDIT}"
                " THEN CAST(df AS DECIMAL(38,0)) * (df - 1) div 2"
                " ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_pairs_cut"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("n_rows"),
            F.sum(F.expr("CAST(df AS DECIMAL(38,0)) * (df - 1) div 2"))
            .cast("long")
            .alias("n_pairs"),
        )
        .crossJoin(F.broadcast(tot.select("n_pairs_cut", F.col("n_pairs").alias("tp"))))
        .select(
            "bucket",
            F.expr("CAST(power(2, bucket) AS BIGINT)").alias("df_lo"),
            "n_shingles",
            "n_rows",
            "n_pairs",
            F.expr("CAST(n_pairs * 1000000 div tp AS BIGINT)").alias(
                "pair_share_micro"
            ),
            F.expr("CAST(n_pairs_cut * 1000000 div tp AS BIGINT)").alias(
                "cutoff_saves_micro"
            ),
        )
    )


dedup_shingle_df_profile.__doc__ = dedup_shingle_df_profile.__doc__.replace(
    "{CUT}", str(DF_CUTOFF_AUDIT)
)


# ---------------------------------------------------------------------------
# dup x quality interaction — does duplicated content differ in quality?
# ---------------------------------------------------------------------------


def _dup_quality_oracle() -> str:
    """Compose from the REGISTERED member oracles (the capstone pattern):
    dedup_exact supplies the group/keeper rule, text_quality the score —
    drift between this cross-tab and the members is impossible."""
    from postgres_cdc_example_spark.queries import REGISTRY

    return f"""
    WITH cl AS (SELECT doc_id, component
                FROM ({REGISTRY["dedup_clusters"].oracle})),
    q AS (SELECT doc_id, quality FROM ({REGISTRY["text_quality"].oracle})),
    t AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks
      FROM documents
    ),
    cls AS (
      SELECT t.doc_id, t.n_toks,
             CASE WHEN cl.doc_id IS NULL THEN 'unique'
                  WHEN cl.component = t.doc_id THEN 'keeper'
                  ELSE 'duplicate' END AS dup_class,
             CAST(least(floor(q.quality * 5), 4) AS BIGINT) AS q_bucket,
             CAST(floor(q.quality * 1000000 + 0.5) AS BIGINT) AS q_micro
      FROM t
      LEFT JOIN cl ON cl.doc_id = t.doc_id
      JOIN q ON q.doc_id = t.doc_id
    )
    SELECT dup_class, q_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(q_micro) // count(*) AS BIGINT) AS mean_quality_micro
    FROM cls GROUP BY dup_class, q_bucket
    """


@register("dedup_quality_interaction", oracle=_dup_quality_oracle())
def dedup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATION × QUALITY cross-tab — the curation-policy question the
    isolated families can't answer: is duplicated content systematically
    lower-quality (boilerplate, spam mirrors) or HIGHER (popular reference
    text copied everywhere)? The answer decides whether dedup and the
    quality gate are redundant or complementary filters — if every
    duplicate already fails quality, dedup's marginal token savings is
    near zero and the cheap gate can run FIRST (gate order is a real cost
    lever when one filter is a projection and the other builds an index).
    Rows are (dup_class × quality quintile): `unique` (not in any
    near-dup component), `keeper` (the component survivor — min doc_id,
    the pipeline's stage-2 rule), `duplicate` (the removed members;
    near-dups are NOT byte-identical, so keeper/duplicate quality really
    can differ — exactly the asymmetry `dedup_keeper_by_quality` exists
    to exploit, here measured instead of assumed). Classification uses
    the NEAR-dup clusters, not exact groups: this corpus (like most
    curated fixtures) has zero byte-identical pairs, and a cross-tab
    whose interesting classes are structurally empty would be a vacuous
    operator. Composes BOTH registered members (engine calls the member
    fns over the shared band layers, oracle interpolates their SQL — the
    capstone discipline). Mean quality is exact micro (floor(q·10⁶+0.5)
    of the round-6 double, summed as bigints, ONE floor division); the
    quintile edge floor(q·5) evaluates the same IEEE product in both
    engines. Scale shape: one hash-keyed join onto the bounded group
    table, one doc-keyed quality join, a ≤15-row rollup — all broadcast
    or map-side-combined; no windows."""
    from postgres_cdc_example_spark.operators.dedup import word_tokens
    from postgres_cdc_example_spark.queries import REGISTRY

    docs = load_table(spark, "documents", sf_dir)
    cl = REGISTRY["dedup_clusters"].fn(spark, sf_dir).select(
        "doc_id", "component"
    )
    q = REGISTRY["text_quality"].fn(spark, sf_dir).select("doc_id", "quality")
    t = docs.select(
        "doc_id",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    cls = (
        t.join(cl, "doc_id", "left")
        .join(q, "doc_id")
        .select(
            "n_toks",
            F.expr(
                "CASE WHEN component IS NULL THEN 'unique'"
                " WHEN component = doc_id THEN 'keeper'"
                " ELSE 'duplicate' END"
            ).alias("dup_class"),
            F.expr("CAST(least(floor(quality * 5), 4) AS BIGINT)").alias(
                "q_bucket"
            ),
            F.expr("CAST(floor(quality * 1000000 + 0.5) AS BIGINT)").alias(
                "q_micro"
            ),
        )
    )
    return cls.groupBy("dup_class", "q_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.expr("CAST(sum(q_micro) div count(*) AS BIGINT)").alias(
            "mean_quality_micro"
        ),
    )


# ---------------------------------------------------------------------------
# PQ distortion by coarse cluster — WHERE the codebook hurts
# ---------------------------------------------------------------------------


def _pq_distortion_oracle() -> str:
    """Coarse k-means training (shared `_kmeans_cte` prefix) + the PQ
    Lloyd/encode chain (prefixed `pq` so the two trainings' a{t}/m{t}
    stage names coexist) + per-vector reconstruction error joined onto
    the rounded-centroid assignment."""
    D = similarity.PQ_D
    d2 = (
        f"list_sum(list_transform(generate_series(1, {D}),"
        " d -> (x.sv[d] - b.cv[d]) * (x.sv[d] - b.cv[d])))"
    )
    M = similarity.PQ_M
    pq_parts = [
        _PQ_EM_CTE,
        f"""sv AS MATERIALIZED (
      SELECT vec_id, u.s AS s, vm[u.s * {D} + 1 : u.s * {D} + {D}] AS sv
      FROM em, unnest(generate_series(0, {M - 1})) AS u(s)
    )""",
    ] + _pq_lloyd_parts("sv", pre="pq")
    return (
        _kmeans_cte()
        + ",\n    "
        + ",\n    ".join(pq_parts)
        + f""",
    cr AS (
      SELECT cluster_id, list_transform(cv, x -> round(x, 6)) AS cv2 FROM c3
    ),
    cent AS (
      SELECT cluster_id, cv2, sqrt(list_dot_product(cv2, cv2)) AS cn2 FROM cr
    ),
    asg0 AS (
      SELECT n.vec_id, c.cluster_id,
             round(list_dot_product(n.v, c.cv2) / (n.nrm * c.cn2), 6) AS ccos
      FROM n, cent c
    ),
    asg AS (
      SELECT vec_id, cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cluster_id) AS r
        FROM asg0)
      WHERE r = 1
    ),
    dist AS (
      SELECT c.vec_id, CAST(sum({d2}) AS BIGINT) AS distortion
      FROM sv x
      JOIN pqcodes c ON c.vec_id = x.vec_id AND c.s = x.s
      JOIN pqcbF b ON b.s = c.s AND b.code = c.code
      GROUP BY c.vec_id
    )
    SELECT a.cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(d.distortion) AS BIGINT) AS total_distortion,
           CAST(sum(d.distortion) // count(*) AS BIGINT) AS mean_distortion,
           CAST(max(d.distortion) AS BIGINT) AS max_distortion
    FROM dist d JOIN asg a ON a.vec_id = d.vec_id
    GROUP BY a.cluster_id
    """
    )


@register("ann_pq_distortion_by_cluster", oracle=_pq_distortion_oracle())
def ann_pq_distortion_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ DISTORTION PROFILE by coarse cluster — the recall audits say
    WHETHER quantization hurts; this says WHERE: per learned-IVF cluster,
    the exact integer reconstruction error Σ‖sv − codeword‖² (micro² grid)
    of the trained PQ codebook over that cluster's vectors. A cluster
    whose mean distortion towers over the rest is the one whose traffic
    the shared codebook underfits — the signal that decides between
    per-cluster codebooks (IVF-PQ with local tables) and a global retrain,
    and the batch complement of `ivf_assign_stream`'s at-ingest drift
    counters. Composes THREE memoized layers (coarse centroids, PQ
    codebook, subvector table) — zero new training. Scale shape: encode
    and assignment are zero-shuffle literal-codebook projections; the
    distortion is one vec-keyed aggregate (8 rows/vector) joined onto the
    assignment by vec_id; output is ≤ k rows. The oracle replays BOTH
    trainings as unrolled CTEs (`pq` prefix keeps the two Lloyd chains'
    stage names disjoint)."""
    emb = load_table(spark, "embeddings", sf_dir)
    cb = _pq_trio(spark, sf_dir)["full"]
    cents = _trained_centroids(spark, sf_dir)
    if not cb or not cents:  # empty corpus: nothing trained
        vid = F.col("vec_id").cast("long")
        return emb.limit(0).select(
            vid.cast("int").alias("cluster_id"),
            vid.alias("n_vectors"),
            vid.alias("total_distortion"),
            vid.alias("mean_distortion"),
            vid.alias("max_distortion"),
        )
    base = similarity._with_subvecs(emb)
    codes = similarity.pq_encode_base(base, cb)
    K = similarity.PQ_K
    j = base.join(codes, "vec_id")
    terms = []
    for s in range(similarity.PQ_M):
        # one parsed SQL string per subspace table (r12, the
        # _codebook_sql lesson): the nested-F.lit form cost ~1000 py4j
        # round-trips per call (~1 s of driver chatter); values identical
        cw = F.element_at(
            F.expr(
                "array("
                + ",".join(
                    "array(" + ",".join(f"{int(x)}L" for x in cb[s][k]) + ")"
                    for k in range(K)
                )
                + ")"
            ),
            (F.col(f"c{s}") + 1).cast("int"),
        )
        terms.append(
            F.aggregate(
                F.zip_with(
                    F.col(f"sv{s}"), cw, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        )
    dist = j.select(
        "vec_id",
        sum(terms[1:], terms[0]).cast("long").alias("distortion"),
    )
    rounded = similarity.rounded_centroids(spark, cents)
    asg = similarity._normed(emb).select(
        "vec_id", similarity.assign_to_literal_centroids(rounded)
    )
    return (
        dist.join(asg, "vec_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("distortion").cast("long").alias("total_distortion"),
            F.expr("CAST(sum(distortion) div count(*) AS BIGINT)").alias(
                "mean_distortion"
            ),
            F.max("distortion").cast("long").alias("max_distortion"),
        )
    )


# ---------------------------------------------------------------------------
# mixture shift under dedup — does dedup silently re-weight the corpus?
# ---------------------------------------------------------------------------

MIX_SHIFT_FLAG_MICRO = 10_000  # flag a source whose token share moves > 1pp


def _mixture_shift_oracle() -> str:
    from postgres_cdc_example_spark.queries import REGISTRY

    return f"""
    WITH ex AS (SELECT keeper_id AS doc_id
                FROM ({REGISTRY["dedup_exact"].oracle})),
    cl AS (SELECT doc_id, component FROM ({REGISTRY["dedup_clusters"].oracle})),
    t AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_toks
      FROM documents
    ),
    kept AS (
      SELECT t.* FROM t
      JOIN ex ON ex.doc_id = t.doc_id
      LEFT JOIN cl ON cl.doc_id = t.doc_id
      WHERE cl.doc_id IS NULL OR cl.component = t.doc_id
    ),
    bt AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tb FROM t),
    at AS (SELECT CAST(sum(n_toks) AS BIGINT) AS ta FROM kept),
    per AS (
      SELECT t.source,
             CAST(sum(t.n_toks) AS BIGINT) AS tokens_before,
             CAST(coalesce(sum(t.n_toks) FILTER (WHERE k.doc_id IS NOT NULL),
                           0) AS BIGINT) AS tokens_after
      FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
      GROUP BY t.source
    )
    SELECT p.source, p.tokens_before, p.tokens_after,
           CAST(p.tokens_before * 1000000 // bt.tb AS BIGINT)
             AS share_before_micro,
           CAST(p.tokens_after * 1000000 // at.ta AS BIGINT)
             AS share_after_micro,
           CAST(p.tokens_after * 1000000 // at.ta
                - p.tokens_before * 1000000 // bt.tb AS BIGINT)
             AS shift_micro,
           CAST(CASE WHEN abs(p.tokens_after * 1000000 // at.ta
                              - p.tokens_before * 1000000 // bt.tb)
                          > {MIX_SHIFT_FLAG_MICRO}
                     THEN 1 ELSE 0 END AS BIGINT) AS shift_flag
    FROM per p, bt, at
    """


@register("dedup_mixture_shift", oracle=_mixture_shift_oracle())
def dedup_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE SHIFT UNDER DEDUP — the production surprise this table
    exists to catch: dedup removes tokens NON-uniformly (mirror-heavy web
    sources lose far more than curated books), so the post-dedup source
    mixture silently diverges from the one the mixing plan
    (`source_mixture_weights`, `mixture_epoch_plan`) was tuned on. Per
    source: token mass before, after the pipeline's keeper rule (exact
    keepers ∩ near-dup component keepers — stage s1∧s2 of
    `pipeline_end_to_end`, composed from the SAME registered members),
    both shares on the micro grid, the signed share shift (a difference
    of two already-floored non-negative micros — no signed-division
    engine trap), and a flag at > 1 percentage point. Scale shape: two
    doc-keyed member joins, one source rollup, two 1-row total
    broadcasts; the members come off the shared band/shingle layers."""
    from postgres_cdc_example_spark.operators.dedup import word_tokens
    from postgres_cdc_example_spark.queries import REGISTRY

    t = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "source",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    ex = (
        REGISTRY["dedup_exact"]
        .fn(spark, sf_dir)
        .select(F.col("keeper_id").alias("doc_id"), F.lit(1).alias("exk"))
    )
    cl = REGISTRY["dedup_clusters"].fn(spark, sf_dir).select(
        "doc_id", "component"
    )
    flagged = (
        t.join(ex, "doc_id", "left")
        .join(cl, "doc_id", "left")
        .select(
            "source",
            "n_toks",
            (
                F.col("exk").isNotNull()
                & (
                    F.col("component").isNull()
                    | (F.col("component") == F.col("doc_id"))
                )
            ).alias("kept"),
        )
    )
    # r13 (guide §5): the corpus totals are COLUMN SUMS of the per-source
    # rollup (identical integers — sum of per-group sums; the per-group
    # coalesce makes group-level ta 0 exactly where the flat sum skipped
    # NULLs), so deriving them from `per` instead of from `flagged` stops
    # the member-join subtree from executing twice; the ≤|sources|-row
    # rollup is checkpointed for its two consumers.
    per = flagged.groupBy("source").agg(
        F.sum("n_toks").cast("long").alias("tokens_before"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN kept THEN n_toks END")), F.lit(0)
        )
        .cast("long")
        .alias("tokens_after"),
    ).localCheckpoint(eager=False)
    tots = per.agg(
        F.sum("tokens_before").cast("long").alias("tb"),
        F.coalesce(F.sum("tokens_after"), F.lit(0)).cast("long").alias("ta"),
    )
    return per.crossJoin(F.broadcast(tots)).select(
        "source",
        "tokens_before",
        "tokens_after",
        F.expr("CAST(tokens_before * 1000000 div tb AS BIGINT)").alias(
            "share_before_micro"
        ),
        F.expr("CAST(tokens_after * 1000000 div ta AS BIGINT)").alias(
            "share_after_micro"
        ),
        F.expr(
            "CAST(tokens_after * 1000000 div ta"
            " - tokens_before * 1000000 div tb AS BIGINT)"
        ).alias("shift_micro"),
        F.expr(
            f"CAST(CASE WHEN abs(tokens_after * 1000000 div ta"
            f" - tokens_before * 1000000 div tb) > {MIX_SHIFT_FLAG_MICRO}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("shift_flag"),
    )

# ---------------------------------------------------------------------------
# SimHash calibration — hamming distance vs exact Jaccard, banded discovery
# ---------------------------------------------------------------------------

SIMHASH_CAL_BANDS = 4  # 4 bytes of the 32-bit hash; candidates agree on >= 2
SIMHASH_CAL_FULL_H = 3  # verify EVERY pair at hamming <= this ...
SIMHASH_CAL_SAMPLE_DIV = 16  # ... and a deterministic 1/16 sample above


def _simhash_cal_oracle() -> str:
    sums = []
    for b in range(dedup.SIMHASH_BITS):
        nib = _nib("h", b // 4 + 1)
        sums.append(
            f"sum((CAST(floor({nib} / {2 ** (b % 4)}) AS BIGINT) % 2) * 2 - 1)"
            f" AS s{b}"
        )
    weights = " + ".join(
        f"CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(dedup.SIMHASH_BITS)
    )
    bands = ", ".join(
        f"struct_pack(b := CAST({bi} AS BIGINT),"
        f" v := (simhash >> {8 * bi}) & 255)"
        for bi in range(SIMHASH_CAL_BANDS)
    )
    pick = (
        f"(hamming <= {SIMHASH_CAL_FULL_H} OR"
        " strpos('0123456789abcdef',"
        " substr(md5(concat(CAST(doc_a AS VARCHAR), ':',"
        f" CAST(doc_b AS VARCHAR))), 1, 1)) - 1 < 16 // {SIMHASH_CAL_SAMPLE_DIV})"
    )
    jac = (
        "CAST(floor(CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)"
        " / (len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs)))"
        " * 1000000.0) AS BIGINT)"
    )
    return f"""
    WITH toks0 AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    hs AS (SELECT doc_id, md5(tok) AS h FROM toks0),
    s AS (SELECT doc_id, {", ".join(sums)} FROM hs GROUP BY doc_id),
    sh AS (SELECT doc_id, ({weights}) AS simhash FROM s),
    bd AS (
      SELECT sh.doc_id, sh.simhash, u.b AS band_idx, u.v AS band_val
      FROM sh, unnest([{bands}]) AS un(u)
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(max(a.simhash), max(b.simhash))) AS BIGINT)
               AS hamming
      FROM bd a JOIN bd b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    picked AS (SELECT * FROM cand WHERE {pick}),
    tk AS (SELECT doc_id, {_TOKS} AS tks FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(tks) - 2, 1)),
               i -> concat_ws(' ', tks[i], tks[i+1], tks[i+2]))) AS gs
      FROM tk WHERE len(tks) >= 1
    ),
    jacs AS (
      SELECT p.hamming, {jac} AS jac
      FROM picked p
      JOIN grams ga ON ga.doc_id = p.doc_a
      JOIN grams gb ON gb.doc_id = p.doc_b
    ),
    lv AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
           FROM cand GROUP BY hamming),
    vb AS (
      SELECT hamming,
             CAST(count(*) AS BIGINT) AS n_verified,
             CAST(sum(CASE WHEN jac >= 500000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_sampled,
             CAST(sum(jac) // count(*) AS BIGINT) AS mean_jac_micro,
             CAST(min(jac) AS BIGINT) AS min_jac_micro,
             CAST(max(jac) AS BIGINT) AS max_jac_micro
      FROM jacs GROUP BY hamming
    )
    SELECT lv.hamming, lv.n_pairs,
           COALESCE(vb.n_verified, 0) AS n_verified,
           COALESCE(vb.n_true_sampled, 0) AS n_true_sampled,
           vb.mean_jac_micro, vb.min_jac_micro, vb.max_jac_micro
    FROM lv LEFT JOIN vb ON vb.hamming = lv.hamming
    """


@register("dedup_simhash_calibration", oracle=_simhash_cal_oracle())
def dedup_simhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMHASH ESTIMATOR CALIBRATION — completes the calibration trio
    (classic minhash r10, OPH r11): per HAMMING DISTANCE between 32-bit
    frequency-weighted SimHashes, the exact-Jaccard distribution of the
    banded candidates, answering "which hamming radius equals my J ≥ 0.5
    policy ON THIS CORPUS" — the radius every simhash-based dedup
    (Charikar/Manku-style) must choose and almost never measures.
    Candidates come from byte banding (4 bands of 8 bits, agreement on
    ≥ 2 — pigeonhole-guaranteed recall at hamming ≤ 2, probabilistic
    above), so discovery is an equi-join on (band_idx, band_val) — never
    all-pairs. Per-level PAIR COUNTS are exact (hamming is codegen
    `bit_count(xor)`, verified bit-identical across engines); the
    expensive exact-Jaccard verification is STRATIFIED — every pair at
    hamming ≤ {FH} plus a deterministic 1/{DIV} md5-hash sample above
    (`n_verified` makes the stratum visible) — because this corpus's
    closed vocabulary makes simhashes cluster densely (2.6M byte-band
    collisions, 282k ≥2-band candidates at sf0.1 — the documented
    simhash failure mode on topically homogeneous text; the measurement
    itself is the evidence), and verifying every noise pair would buy
    nothing the sample doesn't. Scale shape: one occurrence-layer simhash
    aggregate (32 map-side-combined sums), a 4×-fanout band table,
    bucket-keyed self-join + pair rollup (collision volume ∝ Σ bucket²,
    near-linear on diverse corpora — dense here by construction), keyed
    exact-Jaccard on the bounded verified stratum, ≤ 33-row output."""
    from postgres_cdc_example_spark.queries.llmdata import _simhash_cand

    cand = _simhash_cand(spark, sf_dir)
    picked = cand.filter(
        F.expr(
            f"hamming <= {SIMHASH_CAL_FULL_H} OR"
            " CAST(instr('0123456789abcdef',"
            " substring(md5(concat(CAST(doc_a AS STRING), ':',"
            " CAST(doc_b AS STRING))), 1, 1)) - 1 AS INT)"
            f" < 16 div {SIMHASH_CAL_SAMPLE_DIV}"
        )
    )
    sh_rows = _doc_ngrams(spark, sf_dir)
    # r12: array_intersect verification off one (doc, array, size)
    # aggregate (the minhash_lsh_pairs lesson). The doc-keyed joins always
    # match, and size(array_intersect) is 0 for zero-overlap pairs — the
    # exact values the old LEFT-join + coalesce(common, 0) produced
    # (sampled candidates with zero shared shingles are real calibration
    # points, not rows to drop).
    arrs = sh_rows.groupBy("doc_id").agg(
        F.collect_list("g").alias("ss"), F.count(F.lit(1)).cast("long").alias("sz")
    )
    jacs = (
        picked.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("ss").alias("ss_a"),
                F.col("sz").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("ss").alias("ss_b"),
                F.col("sz").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "common", F.size(F.array_intersect("ss_a", "ss_b")).cast("long")
        )
        .select(
            "hamming",
            F.expr(
                "CAST(floor(CAST(coalesce(common, 0) AS DOUBLE)"
                " / (size_a + size_b - coalesce(common, 0)) * 1000000.0)"
                " AS BIGINT)"
            ).alias("jac"),
        )
    )
    lv = cand.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    vb = jacs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_verified"),
        F.sum(F.expr("CASE WHEN jac >= 500000 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_true_sampled"),
        F.expr("CAST(sum(jac) div count(*) AS BIGINT)").alias("mean_jac_micro"),
        F.min("jac").cast("long").alias("min_jac_micro"),
        F.max("jac").cast("long").alias("max_jac_micro"),
    )
    return lv.join(vb, "hamming", "left").select(
        "hamming",
        "n_pairs",
        F.coalesce("n_verified", F.lit(0)).cast("long").alias("n_verified"),
        F.coalesce("n_true_sampled", F.lit(0))
        .cast("long")
        .alias("n_true_sampled"),
        "mean_jac_micro",
        "min_jac_micro",
        "max_jac_micro",
    )


dedup_simhash_calibration.__doc__ = dedup_simhash_calibration.__doc__.replace(
    "{FH}", str(SIMHASH_CAL_FULL_H)
).replace("{DIV}", str(SIMHASH_CAL_SAMPLE_DIV))


# ---------------------------------------------------------------------------
# packing-strategy efficiency audit (r12)
# ---------------------------------------------------------------------------


def _pack_efficiency_oracle() -> str:
    from postgres_cdc_example_spark.queries import REGISTRY

    return f"""
    WITH ffd_asg AS ({REGISTRY["pack_documents_ffd"].oracle}),
    nf_packs AS ({REGISTRY["pack_documents"].oracle}),
    tot AS (
      SELECT CAST(sum(pack_tokens) AS BIGINT) AS t,
             CAST((sum(pack_tokens) + {FFD_CAP} - 1) // {FFD_CAP} AS BIGINT)
               AS lb
      FROM nf_packs
    ),
    rows_ AS (
      SELECT 'lower_bound' AS strategy, lb AS n_bins, t AS packed_tokens,
             lb AS lb2
      FROM tot
      UNION ALL
      SELECT 'ffd', (SELECT CAST(count(DISTINCT bin_id) AS BIGINT)
                     FROM ffd_asg), t, lb
      FROM tot
      UNION ALL
      SELECT 'bucketed_nextfit',
             (SELECT CAST(count(*) AS BIGINT) FROM nf_packs), t, lb
      FROM tot
    )
    SELECT strategy, n_bins, packed_tokens,
           CAST(n_bins * {FFD_CAP} - packed_tokens AS BIGINT)
             AS slack_tokens,
           CAST((n_bins * {FFD_CAP} - packed_tokens) * 1000000
                // (n_bins * {FFD_CAP}) AS BIGINT) AS slack_share_micro,
           CAST(n_bins * 1000000 // lb2 AS BIGINT) AS bins_vs_lb_micro
    FROM rows_
    ORDER BY strategy
    """


@register("pack_efficiency_audit", oracle=_pack_efficiency_oracle())
def pack_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING-STRATEGY EFFICIENCY AUDIT — the planner's cost sheet for
    the r12 planning story: how many {CAP}-token bins does each strategy
    spend on the same corpus, versus the information-theoretic floor
    ceil(Σtokens/{CAP})? Three rows: the LOWER BOUND itself, FFD (the
    offline near-optimal the batch planner ships —
    ``pack_documents_ffd``), and the BUCKETED NEXT-FIT arrival-order
    plan (``pack_documents`` — what the streaming planning snapshot can
    maintain incrementally; its overhead versus FFD is exactly the price
    of online packing, now measured instead of argued). Both strategies
    come from the REGISTERED members (engine composes the fns, oracle
    interpolates their SQL — the capstone discipline, zero drift
    possible), the audit itself is three 1-row aggregates: slack =
    n_bins·{CAP} − Σtokens, micro-floored shares (non-negative operands,
    ``div`` ≡ ``//``), and n_bins/LB on the micro grid. Scale shape: the
    members' own cost dominates; the audit adds bounded rollups only."""
    from postgres_cdc_example_spark.queries import REGISTRY

    nf = REGISTRY["pack_documents"].fn(spark, sf_dir)
    ffd = REGISTRY["pack_documents_ffd"].fn(spark, sf_dir)
    tot = nf.agg(
        F.sum("pack_tokens").cast("long").alias("t"),
        F.expr(
            f"CAST((sum(pack_tokens) + {FFD_CAP} - 1) div {FFD_CAP}"
            " AS BIGINT)"
        ).alias("lb"),
    )
    lb_row = tot.select(
        F.lit("lower_bound").alias("strategy"),
        F.col("lb").alias("n_bins"),
        F.col("t").alias("packed_tokens"),
        F.col("lb").alias("lb2"),
    )
    ffd_row = (
        ffd.agg(F.countDistinct("bin_id").cast("long").alias("n_bins"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit("ffd").alias("strategy"),
            "n_bins",
            F.col("t").alias("packed_tokens"),
            F.col("lb").alias("lb2"),
        )
    )
    nf_row = (
        nf.agg(F.count(F.lit(1)).cast("long").alias("n_bins"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit("bucketed_nextfit").alias("strategy"),
            "n_bins",
            F.col("t").alias("packed_tokens"),
            F.col("lb").alias("lb2"),
        )
    )
    return (
        lb_row.unionByName(ffd_row)
        .unionByName(nf_row)
        .select(
            "strategy",
            "n_bins",
            "packed_tokens",
            F.expr(
                f"CAST(n_bins * {FFD_CAP} - packed_tokens AS BIGINT)"
            ).alias("slack_tokens"),
            F.expr(
                f"CAST((n_bins * {FFD_CAP} - packed_tokens) * 1000000"
                f" div (n_bins * {FFD_CAP}) AS BIGINT)"
            ).alias("slack_share_micro"),
            F.expr("CAST(n_bins * 1000000 div lb2 AS BIGINT)").alias(
                "bins_vs_lb_micro"
            ),
        )
        .orderBy("strategy")
    )


pack_efficiency_audit.__doc__ = pack_efficiency_audit.__doc__.replace(
    "{CAP}", str(FFD_CAP)
)


# ---------------------------------------------------------------------------
# IVF probe-count recall curve (r12)
# ---------------------------------------------------------------------------

IVF_PROBE_GRID = (1, 2, 4, 8)  # nprobe candidates; 8 = every cluster (exact)


def _probe_recall_oracle(k: int = 8, iterations: int = 3) -> str:
    cf = f"c{iterations}"
    return (
        _kmeans_cte(k, iterations)
        + f"""
    , cr AS (
      SELECT cluster_id, list_transform(cv, x -> round(x, 6)) AS cv2 FROM {cf}
    ),
    cent AS (
      SELECT cluster_id, cv2, sqrt(list_dot_product(cv2, cv2)) AS cn2 FROM cr
    ),
    asg0 AS (
      SELECT n.vec_id, n.v, n.nrm, c.cluster_id,
             round(list_dot_product(n.v, c.cv2) / (n.nrm * c.cn2), 6) AS ccos
      FROM n, cent c
    ),
    asg AS (
      SELECT vec_id, v, nrm, cluster_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cluster_id) AS r
        FROM asg0)
      WHERE r = 1
    ),
    qr AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn, cluster_id, ccos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY ccos DESC, cluster_id) AS probe_rank
      FROM asg0 WHERE vec_id < 10
    ),
    grid AS (SELECT unnest(ARRAY{list(IVF_PROBE_GRID)}) AS n_probe),
    cand AS (
      SELECT grid.n_probe, qr.q_id, qr.qv, qr.qn, qr.cluster_id
      FROM qr JOIN grid ON qr.probe_rank <= grid.n_probe
    ),
    scored AS (
      SELECT cand.n_probe, cand.q_id, c.vec_id AS nbr_id,
             round(list_dot_product(cand.qv, c.v) / (cand.qn * c.nrm), 6)
               AS cos_r
      FROM cand JOIN asg c
        ON c.cluster_id = cand.cluster_id AND c.vec_id != cand.q_id
    ),
    approx AS (
      SELECT n_probe, q_id, nbr_id FROM (
        SELECT *, row_number() OVER (PARTITION BY n_probe, q_id
                                     ORDER BY cos_r DESC, nbr_id) AS rnk
        FROM scored)
      WHERE rnk <= 5
    ),
    tscored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS nbr_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_r
      FROM n a JOIN n b ON b.vec_id != a.vec_id
      WHERE a.vec_id < 10
    ),
    truth AS (
      SELECT q_id, nbr_id FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos_r DESC, nbr_id) AS rnk
        FROM tscored)
      WHERE rnk <= 5
    ),
    nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS q FROM truth),
    hits AS (
      SELECT ap.n_probe, CAST(count(*) AS BIGINT) AS n_hits
      FROM approx ap JOIN truth t
        ON t.q_id = ap.q_id AND t.nbr_id = ap.nbr_id
      GROUP BY ap.n_probe
    ),
    vol AS (
      SELECT n_probe, CAST(count(*) AS BIGINT) AS n_candidates
      FROM scored GROUP BY n_probe
    )
    SELECT CAST(v.n_probe AS BIGINT) AS n_probe, v.n_candidates,
           COALESCE(h.n_hits, 0) AS n_hits,
           nq.q * 5 AS n_truth,
           CAST(COALESCE(h.n_hits, 0) * 1000000 // (nq.q * 5) AS BIGINT)
             AS recall_micro
    FROM vol v LEFT JOIN hits h ON h.n_probe = v.n_probe, nq
    ORDER BY n_probe
    """
    )


@register("ann_probe_recall_curve", oracle=_probe_recall_oracle())
def ann_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF PROBE-COUNT RECALL CURVE — the operating table every IVF
    deployment tunes against: for nprobe ∈ {GRID}, recall@5 of probing
    the query's nprobe nearest learned clusters versus brute-force
    ground truth, NEXT TO the candidate volume each probe level scans
    (the latency proxy) — "how much recall does the next probe buy, and
    at what scan cost". Completes the ANN calibration story the way the
    minhash/OPH/simhash trio completes dedup: the single-operating-point
    audits (``ann_recall_audit`` family) become a measured CURVE, with
    nprobe = 8 (= k, exhaustive) pinned at recall 1.0 as the built-in
    positive control and nprobe = 1 reproducing ``ann_ivf_kmeans_topk``'s
    operating point. Training reuses the memoized session centroids
    (zero new Lloyd iterations); probe ranks are a 10×8 broadcast
    product; candidate scoring stays cluster-keyed (never all-pairs);
    recall is integer micro-floored. Scale shape: the fixed audit query
    sample bounds the exact side exactly as the recall audits do."""
    emb = load_table(spark, "embeddings", sf_dir)
    import math as _math

    rounded = similarity.rounded_centroids(
        spark, _trained_centroids(spark, sf_dir)
    )
    base = similarity._normed(emb)
    # repartition the corpus side (the ``embedding_near_dup_pairs``
    # lesson): the broadcast-join's streamed side is otherwise the single
    # scan partition and every interpreted cosine runs in one task
    assigned = base.select(
        F.col("vec_id"), "v", "nrm",
        similarity.assign_to_literal_centroids(rounded),
    ).repartition(spark.sparkContext.defaultParallelism)
    cent = spark.createDataFrame(
        [
            (cid, cv, _math.sqrt(sum(x * x for x in cv)))
            for cid, cv in rounded
        ],
        "c_cluster int, cv array<double>, cn double",
    )
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qr = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "q_id", "qv", "qn", F.col("c_cluster").alias("cluster_id"),
            F.round(
                F.expr(
                    "aggregate(zip_with(qv, cv, (x, y) -> x * y), 0.0D,"
                    " (a, b) -> a + b)"
                )
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("ccos"),
        )
        .select(
            "q_id", "qv", "qn", "cluster_id",
            F.row_number()
            .over(
                Window.partitionBy("q_id").orderBy(
                    F.col("ccos").desc(), "cluster_id"
                )
            )
            .alias("probe_rank"),
        )
    )
    grid = spark.createDataFrame(
        [(int(p),) for p in IVF_PROBE_GRID], "n_probe int"
    )
    cand = qr.crossJoin(F.broadcast(grid)).filter(
        F.col("probe_rank") <= F.col("n_probe")
    )
    scored = (
        cand.join(
            assigned.select(
                F.col("vec_id").alias("nbr_id"), F.col("v").alias("cv_"),
                F.col("nrm").alias("cn_"), F.col("cluster_id").alias("cc"),
            ),
            (F.col("cc") == F.col("cluster_id"))
            & (F.col("nbr_id") != F.col("q_id")),
        )
        .select(
            "n_probe", "q_id", "nbr_id",
            F.round(
                F.expr(
                    "aggregate(zip_with(qv, cv_, (x, y) -> x * y), 0.0D,"
                    " (a, b) -> a + b)"
                )
                / (F.col("qn") * F.col("cn_")),
                6,
            ).alias("cos_r"),
        )
        # r13 (guide §5): scored feeds TWO consumers (the recall ranking
        # and the candidate-volume rollup) — without the cut the
        # assignment join + per-candidate cosine fold runs twice per
        # invocation. Bounded: |grid| × per-query probed-cluster members
        # (the audit's fixed query sample), never corpus-scale.
        .localCheckpoint(eager=False)
    )
    approx = (
        scored.select(
            "n_probe", "q_id", "nbr_id",
            F.row_number()
            .over(
                Window.partitionBy("n_probe", "q_id").orderBy(
                    F.col("cos_r").desc(), "nbr_id"
                )
            )
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 5)
    )
    # r13 (guide §5): truth feeds the q-count scalar AND the hit join —
    # checkpoint the ≤ (10 queries × k) row result so the brute-force
    # scorer runs once per invocation.
    truth = (
        similarity.brute_force_topk(emb)
        .select("q_id", "nbr_id")
        .localCheckpoint(eager=False)
    )
    nq = truth.agg(
        F.countDistinct("q_id").cast("long").alias("q")
    )
    hits = (
        approx.join(
            truth.select(
                F.col("q_id").alias("t_qid"), F.col("nbr_id").alias("t_nbr")
            ),
            (F.col("q_id") == F.col("t_qid"))
            & (F.col("nbr_id") == F.col("t_nbr")),
        )
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    vol = scored.groupBy("n_probe").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    return (
        vol.join(hits, "n_probe", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("n_probe").cast("long").alias("n_probe"),
            "n_candidates",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.col("q") * 5).cast("long").alias("n_truth"),
            F.expr(
                "CAST(coalesce(n_hits, 0) * 1000000 div (q * 5) AS BIGINT)"
            ).alias("recall_micro"),
        )
        .orderBy("n_probe")
    )


ann_probe_recall_curve.__doc__ = ann_probe_recall_curve.__doc__.replace(
    "{GRID}", str(IVF_PROBE_GRID)
)


# ---------------------------------------------------------------------------
# intrinsic dimensionality (TwoNN) of the embedding space (r12)
# ---------------------------------------------------------------------------


TWONN_ANCHOR_GATE = 4096  # below this, every vector anchors (exact)
TWONN_ANCHOR_TARGET = 2048  # expected anchors above the gate


@register(
    "embedding_intrinsic_dim",
    oracle=_VEC_BASE
    + f"""
    , nn AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM n),
    anch AS (
      SELECT n.* FROM n, nn
      WHERE nn.nv <= {TWONN_ANCHOR_GATE}
         OR CAST(('0x' || substr(md5(CAST(n.vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) * nn.nv
            <= {TWONN_ANCHOR_TARGET} * 4294967296
    ),
    pc AS (
      SELECT a.vec_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_r,
             b.vec_id AS nbr
      FROM anch a JOIN n b ON b.vec_id != a.vec_id
    ),
    top2 AS (
      SELECT vec_id, cos_r, rn FROM (
        SELECT vec_id, cos_r,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_r DESC, nbr) AS rn
        FROM pc)
      WHERE rn <= 2
    ),
    pair2 AS (
      SELECT vec_id,
             max(CASE WHEN rn = 1 THEN cos_r END) AS c1,
             max(CASE WHEN rn = 2 THEN cos_r END) AS c2
      FROM top2 GROUP BY vec_id
    ),
    mu AS (
      SELECT vec_id,
             CAST(floor(ln((1.0 - c2) / (1.0 - c1)) * 1000000 + 0.5)
                  AS BIGINT) AS lnmu_micro
      FROM pair2 WHERE 1.0 - c1 > 0 AND c2 IS NOT NULL
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM n) AS n_vectors,
           (SELECT CAST(count(*) AS BIGINT) FROM anch) AS n_anchors,
           CAST(count(*) AS BIGINT) AS n_used,
           CAST(sum(lnmu_micro) AS BIGINT) AS sum_lnmu_micro,
           CAST(CASE WHEN sum(lnmu_micro) = 0 THEN NULL
                ELSE count(*) * 1000000000000 // sum(lnmu_micro) END
                AS BIGINT) AS id_micro
    FROM mu
    """,
)
def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRINSIC DIMENSIONALITY of the embedding space via the TwoNN
    estimator (Facco et al. 2017): with d1, d2 each point's distances to
    its two nearest neighbors, μ = d2/d1 is Pareto(1/ID)-distributed on a
    manifold of dimension ID, so the MLE is ID = n / Σ ln μ — the ONE
    number that says whether a 64-dim embedding column really spans 64
    dimensions or lives on a ~10-dim manifold (governs how hard IVF/PQ
    compression can squeeze it, and explains the recall curves measured
    beside it). Exactness: cosine distance on the round-6 grid every ANN
    oracle shares, per-point ln μ micro-rounded BEFORE the sum (integer
    addition — order-independent across engines/partitionings, the NLL
    recipe), final MLE one integer division; exact-duplicate points
    (d1 = 0) are excluded the way the estimator's derivation requires,
    and the all-μ=1 degenerate corpus reports an honest NULL. Scale
    shape: the anchor side is COUNT-GATED (every vector below
    {TWONN_ANCHOR_GATE} — fixtures stay exact; a deterministic
    ~{TWONN_ANCHOR_TARGET}-anchor md5 sample above, identical rule in
    the oracle), so cost is m·N, never N² — the ungated all-pairs form
    measured 109× at 10× rows, the gated form is the estimator run the
    way its derivation intends (ID converges at thousands of anchors,
    Facco §2)."""
    emb = load_table(spark, "embeddings", sf_dir)
    side = similarity.collect_vectors(emb)
    nv = side.num_rows
    # count-gated ANCHOR sample (the 100 TB path IN CODE, not argued):
    # TwoNN is a corpus statistic — the MLE over a deterministic random
    # anchor subset against ALL candidates is the estimator working as
    # designed (Facco sec. 2: thousands of points suffice). Below the
    # gate every vector anchors (exact); above it the md5-hash rule
    # keeps ~TWONN_ANCHOR_TARGET anchors at ANY N, so cost is m*N, not
    # N^2 (measured: ungated 109x at 10x rows; gated ~linear).
    anch = emb
    if nv > TWONN_ANCHOR_GATE:
        anch = emb.filter(
            F.expr(
                "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT)"
            )
            * F.lit(nv).cast("long")
            <= F.lit(TWONN_ANCHOR_TARGET) * F.lit(4294967296)
        )
    # repartition the STREAMED side (the ``embedding_near_dup_pairs``
    # lesson): the fixture is one parquet file -> one scan partition, and
    # the kernel runs per streamed partition — without this every one of
    # the m*N cosines runs in a single task (measured 46.6 s at sf0.1
    # under the nested-loop join the kernel replaced; 2.9 s after)
    a = anch.repartition(spark.sparkContext.defaultParallelism)
    pc = similarity.raw_cosine_pairs(a, side, top2=True).select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("nbr"),
        F.round("raw", 6).alias("cos_r"),
    )
    top2 = pc.select(
        "vec_id",
        "cos_r",
        F.row_number()
        .over(
            Window.partitionBy("vec_id").orderBy(F.col("cos_r").desc(), "nbr")
        )
        .alias("rn"),
    ).filter(F.col("rn") <= 2)
    pair2 = top2.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cos_r"))).alias("c1"),
        F.max(F.when(F.col("rn") == 2, F.col("cos_r"))).alias("c2"),
    )
    mu = pair2.filter(
        (F.lit(1.0) - F.col("c1") > 0) & F.col("c2").isNotNull()
    ).select(
        F.floor(
            F.log((F.lit(1.0) - F.col("c2")) / (F.lit(1.0) - F.col("c1")))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lnmu_micro")
    )
    # one aggregate over the mu rows and the anchor rows: no join, so no
    # nested loop for the 1-row sides
    rows = mu.select("lnmu_micro", F.lit(False).alias("anchor")).unionByName(
        anch.select(
            F.lit(None).cast("long").alias("lnmu_micro"), F.lit(True).alias("anchor")
        )
    )
    return rows.agg(
        F.count_if(~F.col("anchor")).alias("n_used"),
        F.sum("lnmu_micro").cast("long").alias("sum_lnmu_micro"),
        F.count_if("anchor").alias("n_anchors"),
    ).select(
        F.lit(nv).cast("long").alias("n_vectors"),
        "n_anchors",
        "n_used",
        "sum_lnmu_micro",
        F.expr(
            "CAST(CASE WHEN sum_lnmu_micro = 0 THEN NULL"
            " ELSE n_used * 1000000000000 div sum_lnmu_micro END AS BIGINT)"
        ).alias("id_micro"),
    )


embedding_intrinsic_dim.__doc__ = embedding_intrinsic_dim.__doc__.replace(
    "{TWONN_ANCHOR_GATE}", str(TWONN_ANCHOR_GATE)
).replace("{TWONN_ANCHOR_TARGET}", str(TWONN_ANCHOR_TARGET))


# ---------------------------------------------------------------------------
# language x source association (r12)
# ---------------------------------------------------------------------------


@register(
    "lang_source_association",
    oracle="""
    WITH d AS (SELECT lang, source FROM documents),
    cell AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
             FROM d GROUP BY lang, source),
    r AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS rn FROM cell GROUP BY lang),
    c AS (SELECT source, CAST(sum(obs) AS BIGINT) AS cn
          FROM cell GROUP BY source),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cell),
    cells AS (
      SELECT r.lang, c.source, r.rn, c.cn, COALESCE(cell.obs, 0) AS obs
      FROM r CROSS JOIN c
      LEFT JOIN cell ON cell.lang = r.lang AND cell.source = c.source
    ),
    x AS (
      SELECT CAST((CAST(cells.obs AS HUGEINT) * n.n
                   - CAST(cells.rn AS HUGEINT) * cells.cn)
                  * (CAST(cells.obs AS HUGEINT) * n.n
                     - CAST(cells.rn AS HUGEINT) * cells.cn)
                  * 1000000
                  // (CAST(n.n AS HUGEINT) * cells.rn * cells.cn) AS BIGINT)
               AS chi2_cell_micro
      FROM cells CROSS JOIN n
    ),
    t AS (SELECT CAST(sum(chi2_cell_micro) AS BIGINT) AS chi2_total_micro
          FROM x),
    dim AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS nr,
                   CAST(count(DISTINCT source) AS BIGINT) AS nc
            FROM cell)
    SELECT n.n AS n_docs, dim.nr AS n_langs, dim.nc AS n_sources,
           t.chi2_total_micro,
           CAST((dim.nr - 1) * (dim.nc - 1) AS BIGINT) AS dof,
           CAST(CASE WHEN least(dim.nr - 1, dim.nc - 1) = 0 THEN 0
                ELSE t.chi2_total_micro
                     // (n.n * least(dim.nr - 1, dim.nc - 1))
                END AS BIGINT) AS cramers_v2_micro
    FROM t, n, dim
    """,
)
def lang_source_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE × SOURCE association strength (Cramér's V², the
    ``priority_status_cramers_v`` integer recipe on the corpus planning
    axes): a mixture planner that balances per-source token budgets
    implicitly assumes language composition is roughly independent of
    source — V² near 0 says per-source quotas also balance languages,
    V² near 1 says the two axes are aliased and the planner must
    stratify on (lang, source) jointly (``mixture_epoch_plan`` per cell,
    not per source). Same cleared-denominator exactness: per-cell
    (obs·n − r·c)²·10⁶ // (n·r·c) summed as integers over the COMPLETE
    r×c grid (empty cells carry mass r·c/n — on sparse planning tables
    they are the rule; this query's planted aliased control is what
    caught the parent recipe's extra ·N and missing zero cells, the
    r10-heatmap bug class), effect size
    χ²/(n·min(r−1, c−1)) on the micro grid — no expected-count float
    ever materializes. The reported EFFECT SIZE carries the planning
    decision; the df here (dozens of sources) sits far beyond the
    χ² literal table, so no reject flag is emitted (the honest-NULL
    rule would make one vacuous). Scale shape: one (lang, source)
    map-side-combined aggregate; everything after lives on the bounded
    grid."""
    d = load_table(spark, "documents", sf_dir).select("lang", "source")
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    r = cell.groupBy("lang").agg(F.sum("obs").cast("long").alias("rn"))
    c = cell.groupBy("source").agg(F.sum("obs").cast("long").alias("cn"))
    n = cell.agg(F.sum("obs").cast("long").alias("n"))
    # COMPLETE r x c grid: empty cells carry chi2 mass R*C/N — on a
    # sparse lang x source table (dozens of sources) they are the rule,
    # not the exception
    cells = (
        r.crossJoin(F.broadcast(c))
        .join(cell, ["lang", "source"], "left")
        .select(
            "rn", "cn",
            F.coalesce("obs", F.lit(0)).cast("long").alias("obs"),
        )
    )
    x = (
        cells.crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST((CAST(obs AS DECIMAL(38,0)) * n"
                " - CAST(rn AS DECIMAL(38,0)) * cn)"
                " * (CAST(obs AS DECIMAL(38,0)) * n"
                "    - CAST(rn AS DECIMAL(38,0)) * cn)"
                " * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * rn * cn) AS BIGINT)"
            ).alias("chi2_cell_micro")
        )
    )
    t = x.agg(
        F.sum("chi2_cell_micro").cast("long").alias("chi2_total_micro")
    )
    dim = cell.agg(
        F.countDistinct("lang").cast("long").alias("nr"),
        F.countDistinct("source").cast("long").alias("nc"),
    )
    return (
        n.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(dim))
        .select(
            F.col("n").alias("n_docs"),
            F.col("nr").alias("n_langs"),
            F.col("nc").alias("n_sources"),
            "chi2_total_micro",
            F.expr("CAST((nr - 1) * (nc - 1) AS BIGINT)").alias("dof"),
            F.expr(
                "CAST(CASE WHEN least(nr - 1, nc - 1) = 0 THEN 0"
                " ELSE chi2_total_micro"
                " div (n * least(nr - 1, nc - 1)) END AS BIGINT)"
            ).alias("cramers_v2_micro"),
        )
    )
