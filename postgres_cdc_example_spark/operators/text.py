"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are JVM-side built-ins (whole-stage codegen, no
Python UDFs): tokenization via ``split``, ratios via ``regexp_replace`` +
``length``, language ID via marker-phrase occurrence counting (the
replace-length trick — portable to the DuckDB oracle), fingerprints via
``md5`` over normalized text and character shingles.

Scale notes: every operator is a narrow projection or a single hash
aggregation on ``doc_id`` — no shuffles besides the final groupBy where one
exists; shingle explosion repartitions first so parallelism never depends on
input split count (single-file test fixtures read as one task).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from postgres_cdc_example_spark.operators.dedup import word_tokens

# marker phrases per language — deliberately tiny and deterministic; real
# deployments would swap in a trained n-gram profile, the *plan shape* is
# identical (pure column expressions, no UDF)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "fr": (" le ", " et ", " la "),
    "es": (" el ", " y ", " de la "),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")


def occurrence_count(text: Column, phrase: str) -> Column:
    """# of occurrences of ``phrase`` via the replace-length trick —
    pure string built-ins, identical semantics in any SQL engine."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(phrase), F.lit(""))))
        / len(phrase)
    ).cast("int")


def token_stats(df: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (4 chars/token heuristic over non-space mass) + char stats."""
    t = F.col("text")
    toks = word_tokens(t)
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    return df.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.length(t).alias("n_chars_measured"),
        nonspace.alias("n_nonspace_chars"),
        F.ceil(nonspace / 4).cast("long").alias("n_subword_est"),
        F.round(nonspace / F.greatest(F.size(toks), F.lit(1)), 4).alias("avg_token_len"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Quality scoring: length score, punctuation ratio, stopword ratio,
    mean word length — the standard cheap pre-filters for LLM corpus prep,
    combined into one 0..1 score."""
    t = F.col("text")
    toks = word_tokens(t)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    punct_ratio = punct / F.greatest(F.length(t), F.lit(1))
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS])))
    # distinct-token ratio as a repetitiveness signal
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    length_score = F.least(F.length(t) / F.lit(400.0), F.lit(1.0))
    score = (
        0.4 * length_score
        + 0.3 * distinct_ratio
        + 0.2 * (1.0 - F.least(punct_ratio * 10, F.lit(1.0)))
        + 0.1 * F.least(stop_hits / F.lit(5.0), F.lit(1.0))
    )
    return df.select(
        F.col("doc_id"),
        F.length(t).alias("n_chars_measured"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
        stop_hits.alias("stopword_hits"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Language ID by marker-phrase counting with deterministic tie-break
    (en > de > fr > es).  Counts are plain column arithmetic → pushdown-safe
    and oracle-portable."""
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    counts = {
        lang: sum(
            (occurrence_count(padded, m) for m in markers[1:]),
            occurrence_count(padded, markers[0]),
        )
        for lang, markers in LANG_MARKERS.items()
    }
    en, de, fr, es = counts["en"], counts["de"], counts["fr"], counts["es"]
    detected = (
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    return df.select(
        F.col("doc_id"),
        en.alias("hits_en"),
        de.alias("hits_de"),
        fr.alias("hits_fr"),
        es.alias("hits_es"),
        detected.alias("detected_lang"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text plus
    rolling-window (shingle) extremal hashes — min/max md5 over all
    8-char windows, an order-invariant locality signature."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    d = df.select(F.col("doc_id"), norm.alias("__norm"))
    n_sh = F.greatest(F.length("__norm") - 7, F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.md5(F.col("__norm").substr(i, F.lit(8))),
    )
    return d.select(
        F.col("doc_id"),
        F.md5("__norm").alias("content_hash"),
        F.array_min(shingles).alias("min_shingle_hash"),
        F.array_max(shingles).alias("max_shingle_hash"),
    )


def content_hash60(id_col: Column, text_col: Column) -> Column:
    """60-bit content hash: first 15 hex chars of md5(id:text) as a bigint —
    the per-row term of the corpus manifest's order-independent XOR
    checksum (queries/llmdata.corpus_manifest and its streaming twin).
    15 nibbles keep the value under 2^60, comfortably inside int64, and
    ``conv``'s STRING result is cast explicitly (Spark sharp edge)."""
    return F.conv(
        F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(":"), text_col)), 1, 15),
        16,
        10,
    ).cast("long")
