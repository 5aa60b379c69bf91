"""Deterministic sampling + compression utilities for corpus curation.

**Hash-based sampling** replaces ``df.sample()`` for training-data work:
Bernoulli sampling is seed- and partitioning-dependent (a repartition
changes the sample), while hashing the *stable row key* gives a sample that
is reproducible across runs, engines, and cluster layouts — the property a
100 TB corpus snapshot needs for auditability. The rate is a lexicographic
threshold over the key's md5 hex prefix (2 hex chars → 1/256 granularity),
a pure per-row filter: no shuffle, pushdown-compatible, identical in any
engine with md5.

**Stratified rates** extend the same trick with a per-stratum threshold —
e.g. downsample crawl data, keep all curated sources.

**Int8 quantization** is the standard embedding-storage compression (4×
smaller, ~0.4% max error at dim 64): per-vector symmetric scale
``max|x|/127``, elementwise round. All column arithmetic — the scale is
materialized as a column BEFORE the per-element transform (see
operators/dedup.py on higher-order-function re-evaluation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column) -> Column:
    """2-hex-char md5 prefix of the key — 256 stable, uniform buckets."""
    return F.substring(F.md5(key.cast("string")), 1, 2)


def hash_sample(df: DataFrame) -> DataFrame:
    """Keep rows whose ``doc_id`` hash bucket sorts below the hex prefix
    '1a' (26/256 ≈ 10.2%). Deterministic, partitioning-independent,
    engine-portable."""
    return df.filter(hash_bucket(F.col("doc_id")) < "1a")


def stratified_sample(df: DataFrame) -> DataFrame:
    """Per-``source`` hash thresholds (hex-prefix strings): '80' (≈50%) for
    the curated sources src0 and src1, '1a' (≈10%) for every other."""
    thr = F.lit("1a")
    for stratum in ("src0", "src1"):
        thr = F.when(F.col("source") == stratum, F.lit("80")).otherwise(thr)
    return df.filter(hash_bucket(F.col("doc_id")) < thr)


HASH_SPACE = 4294967296  # 2^32 — the md5-prefix hash space


def keep_by_hash_ratio(df: DataFrame) -> DataFrame:
    """Graded deterministic sampling: keep rows whose 32-bit md5 prefix of
    the stable key ``doc_id`` falls below ``keep_ratio_micro/1e6`` of the
    hash space — generalizes :func:`hash_sample`'s 256-step hex-prefix
    thresholds to micro-resolution per-row ratios (the ratio can come from a joined
    column, e.g. a per-source temperature weight). The comparison is pure
    int64 arithmetic (``hash·1e6 < ratio_micro·2^32``, both ≤ 4.3e15), so
    it is exact, partition-independent, and bit-identical across engines."""
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return df.filter(h * F.lit(1_000_000) < F.col("keep_ratio_micro") * F.lit(HASH_SPACE))


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction-error
    audit columns (worst-case abs error in nano units — integer output so
    oracles compare exactly)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = df.select(F.col("vec_id"), v.alias("v")).select(
        "vec_id",
        "v",
        (F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)).alias("scale"),
    )
    q = F.transform(
        "v", lambda x: F.round(x / F.col("scale")).cast("int")
    )
    d = d.select(F.col("vec_id"), "v", "scale", q.alias("q"))
    err = F.array_max(
        F.zip_with("v", "q", lambda x, qi: F.abs(x - qi * F.col("scale")))
    )
    return d.select(
        F.col("vec_id"),
        F.floor(F.col("scale") * F.lit(1e9)).cast("long").alias("scale_nano"),
        F.element_at("q", 1).alias("q_first"),
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)).alias(
            "q_l1_norm"
        ),
        F.floor(err * F.lit(1e9)).cast("long").alias("max_abs_err_nano"),
    )


def quota_sample(df: DataFrame) -> DataFrame:
    """Exactly ``min(40, |source|)`` rows per ``source``, chosen by the hash
    rank of ``doc_id`` — the balanced-dataset builder. Unlike rate-based
    sampling the quota is a COUNT, so small strata are kept whole while huge
    ones are capped; unlike ``rand()`` ordering the hash rank is reproducible
    across runs, engines, and partitionings. One window shuffle on the stratum; ties broken by the
    key itself so the cut is total-ordered."""
    w = Window.partitionBy("source").orderBy(
        hash_bucket_full(F.col("doc_id")), F.col("doc_id")
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 40)
        .drop("__rk")
    )


def hash_bucket_full(key: Column) -> Column:
    """Full md5 hex of the key — a total hash order (vs the 2-char bucket
    used for rate sampling)."""
    return F.md5(key.cast("string"))
