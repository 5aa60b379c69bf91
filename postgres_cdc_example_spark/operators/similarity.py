"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exactness baseline; IVF (inverted-file)
bucketing is the scale path — assignment to the nearest centroid is a
broadcast nested-loop against a tiny centroid set, and the search join then
shuffles on ``cluster_id`` so each query only meets its own bucket. At 100 TB
/ 1000 executors the brute-force variant is O(Q·N) dot products and only
viable for small Q with the query side broadcast; IVF with √N centroids cuts
the candidate set by ~1/√N per probe.

Cosines are dot products summed in element order from 0.0. Most operators
fold them JVM-side with ``zip_with`` + ``aggregate`` (:func:`dot`). The two
exact all-pairs shapes, :func:`embedding_near_dup_pairs` and the TwoNN pair
join of ``queries.extensions.embedding_intrinsic_dim``, instead run
:func:`raw_cosine_pairs`: one ``mapInArrow`` kernel that does the same IEEE
operations in the same order over numpy chunks, against the other side
collected once and shipped in the kernel's closure. Cosine is *rounded to 6
dp before any threshold or ranking decision*, always by Spark's ``round``,
so engine-level float summation-order differences (~1e-15) can never flip a
comparison — the DuckDB oracle applies the identical rounding.

The reference has no vector surface (SURVEY.md §2.8); these are the
SURVEY.md §7.2-step-7 extension operators on the ``embeddings`` fixture.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_QUERIES = 10  # query set = vec_id < 10 (deterministic, fixture-stable)
N_CENTROIDS = 8  # IVF centroids = vec_id < 8
TOP_K = 5


def as_double(vec: Column) -> Column:
    """float32 → float64 element-wise, so all math downstream is double
    precision in the exact order written (matches the oracle's ::DOUBLE[])."""
    return F.transform(vec, lambda x: x.cast("double"))


EMB_DIM = 64  # fixture embedding dimension


def double_array_sql(vals) -> Column:
    """Literal ``array<double>`` built as ONE parsed SQL string (r12):
    ``F.array(*[F.lit(x) ...])`` pays a py4j round-trip per element —
    ~1 ms each, so a k×dim literal centroid table costs ~0.5 s of pure
    driver chatter PER QUERY CALL. ``repr`` round-trips a double exactly
    and ``CAST(string AS DOUBLE)`` parses correctly rounded, so the
    resulting literals are bit-identical to the ``F.lit`` form."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in vals) + ")"
    )


def long_array_sql(vals) -> Column:
    """Literal ``array<bigint>`` as one parsed SQL string (see
    :func:`double_array_sql`)."""
    return F.expr("array(" + ",".join(f"{int(x)}L" for x in vals) + ")")


def dot(a: Column, b: Column) -> Column:
    """In-order elementwise-product sum — deterministic double summation.

    The higher-order ``zip_with``+``aggregate`` fold is the measured winner:
    although the lambdas run on the interpreted expression path, the fold
    walks the two ArrayData buffers in one tight loop, while the
    "codegen-friendly" unrolled ``0.0 + a[0]*b[0] + …`` projection pays a
    bounds-checked, null-checked ``GetArrayItem`` per element — measured
    3–6× SLOWER at every scale tried (sf0.1 brute-force scorer 0.5 s vs
    1.3 s; 10× corpus 0.54 s vs 1.71 s; 50× corpus / 1M scored pairs 0.8 s
    vs 4.7 s — idle machine, value-identical outputs asserted; the
    execution gap GROWS with rows, so this is per-row cost, not plan
    overhead). The ~10× interpreted-vs-codegen penalty
    `operators/dedup.py:21-28` measured for minhash does not transfer: that
    shape interpreted a lambda per md5 call, this one amortizes one lambda
    dispatch over a primitive-array walk.

    The fold stays where each pair set is bounded by construction: a
    10-query sample or an 8-centroid grid against the corpus, or pairs
    inside one cluster or bucket. The all-pairs shapes, whose pair count
    grows as N², run :func:`raw_cosine_pairs` instead; its kernel computes
    the same values bit for bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def _normed(df: DataFrame) -> DataFrame:
    v = as_double(F.col("embedding"))
    return df.select(F.col("vec_id"), v.alias("v")).withColumn("nrm", norm(F.col("v")))


def cosine_rounded(va: Column, na: Column, vb: Column, nb: Column) -> Column:
    return F.round(dot(va, vb) / (na * nb), 6)


def brute_force_topk(df: DataFrame) -> DataFrame:
    """Exact cosine top-k: tiny query side broadcast against the full table,
    per-query ranking window (shuffle keyed on q_id — never a global sort)."""
    base = _normed(df)
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = base.select(
        F.col("vec_id").alias("nbr_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("nbr_id") != F.col("q_id"))
        .select(
            "q_id",
            "nbr_id",
            cosine_rounded(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")).alias(
                "cos_r"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_r").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "nbr_id", "rank", "cos_r")
    )


def ivf_assign(df: DataFrame) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties → lowest centroid
    id). Centroids here are the first ``N_CENTROIDS`` vectors — a
    deterministic stand-in for k-means, which would drop in unchanged (the
    assignment plan is identical; only the centroid table differs)."""
    base = _normed(df)
    cent = base.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = base.crossJoin(F.broadcast(cent)).select(
        F.col("vec_id"),
        "v",
        "nrm",
        "cid",
        cosine_rounded(F.col("v"), F.col("nrm"), F.col("cv"), F.col("cn")).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cid"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(F.col("vec_id"), "v", "nrm", F.col("cid").alias("cluster_id"))
    )


def ivf_topk(df: DataFrame) -> DataFrame:
    """IVF ANN, probe=1: search only the query's own cluster. The candidate
    join shuffles on ``cluster_id`` — per-bucket work, never all-pairs."""
    assigned = ivf_assign(df)
    return _cluster_search(assigned)


def _cluster_search(assigned: DataFrame) -> DataFrame:
    """Shared IVF search phase: per-query top-k within the query's own
    cluster (equi-join on cluster_id, query side broadcast)."""
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "cluster_id",
    )
    c = assigned.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("cluster_id").alias("c_cluster"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("c_cluster") == F.col("cluster_id"))
            & (F.col("nbr_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            "cluster_id",
            "nbr_id",
            cosine_rounded(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")).alias(
                "cos_r"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_r").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "cluster_id", "nbr_id", "rank", "cos_r")
    )


def ivf_topk_learned(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF ANN over LEARNED centroids: :func:`train_kmeans` trains the
    coarse quantizer, vectors assign to its (round-6) centroids via the
    same zero-shuffle literal projection the trainer uses, and the search
    runs within the query's cluster — the real IVF build/search composition
    (train once, assign in bulk, probe per query). Rounded centroids make
    assignment engine-exact, so the whole chain stays oracle-checkable.

    ``cent_rows`` (unrounded trained centroids) lets callers train ONCE per
    session and reuse — the production shape; without it every invocation
    re-runs the 3-iteration Lloyd loop (~7 Spark jobs)."""
    if cent_rows is None:
        cent_rows = train_kmeans(df)
    rounded = rounded_centroids(df.sparkSession, cent_rows)
    base = _normed(df)
    assigned = base.select(
        F.col("vec_id"), "v", "nrm", assign_to_literal_centroids(rounded)
    )
    return _cluster_search(assigned)


def rounded_centroids(
    spark, cent_rows: list[tuple[int, list[float]]]
) -> list[tuple[int, list[float]]]:
    """Round trained centroids to 6 dp IN SPARK (one tiny literal-frame job,
    k rows) so the values are bit-identical to the engine's ``F.round`` —
    Python's ``round`` is banker's rounding and can differ in the last ulp,
    which would silently diverge assignment from the DuckDB oracle."""
    final = spark.createDataFrame(cent_rows, "cluster_id int, centroid array<double>")
    return sorted(
        (r.cluster_id, list(r.centroid_r))
        for r in final.select(
            "cluster_id",
            F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid_r"),
        ).collect()
    )


N_PLANES = 8  # sign-LSH hyperplanes → 2^8 buckets


def hyperplane_weights(n_planes: int = N_PLANES, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from md5 — no RNG
    state, so the exact same doubles are embeddable as literals in the
    DuckDB oracle (shortest-roundtrip repr parses back bit-identically).
    Components are uniform in [-0.5, 0.5): md5-32-bit / 2^32 − 0.5, all
    dyadic rationals, hence exactly representable."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:8], 16) / 2**32 - 0.5
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def hyperplane_bucket(v: Column, weights: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit j = (⟨v, h_j⟩ ≥ 0), packed little-endian.
    Cosine-similar vectors agree on most signs → land in the same bucket
    with probability (1 − θ/π)^planes. The dot is rounded to 6 dp before
    the sign test (same guard as every cosine comparison here)."""
    bits = []
    for j, row in enumerate(weights):
        # one parsed SQL string per plane (r12): element-wise F.lit cost a
        # py4j round-trip per weight (~0.4 s/call at planes×dim); values
        # bit-identical (repr round-trips, CAST is correctly rounded)
        hp = double_array_sql(row)
        bits.append(
            F.when(F.round(dot(v, hp), 6) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def hyperplane_topk_multiprobe(df: DataFrame) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query also searches every bucket at
    Hamming distance 1 from its own (flip one sign bit → ``bucket XOR
    (1<<j)``), because the nearest misses are exactly the vectors that
    disagree on ONE borderline hyperplane. Probe count grows the query side
    only (×(planes+1) rows — queries are the tiny side), candidate work per
    probe is unchanged, and recall typically jumps several-fold over
    single-probe at the same plane count. The corpus side is never
    re-hashed or re-shuffled."""
    base = _normed(df)
    w = hyperplane_weights()
    sig = base.withColumn("bucket", hyperplane_bucket(F.col("v"), w))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
    )
    q = (
        sig.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("bucket").alias("home_bucket"),
            F.explode(probes).alias("probe_bucket"),
        )
    )
    c = sig.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("c_bucket") == F.col("probe_bucket"))
            & (F.col("nbr_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col("home_bucket").alias("bucket"),
            "nbr_id",
            cosine_rounded(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")).alias(
                "cos_r"
            ),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cos_r").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "bucket", "nbr_id", "rank", "cos_r")
    )


def hyperplane_topk(df: DataFrame) -> DataFrame:
    """Sign-LSH ANN: rank only candidates in the query's hyperplane bucket.

    Unlike IVF there is no centroid table to learn or broadcast — the bucket
    is a pure per-row expression, so assignment is embarrassingly parallel
    and the ONLY shuffle is the per-query ranking window (the candidate join
    keeps the tiny query side broadcast). More buckets (planes) trade recall
    for candidate-set size; multi-probe = also search buckets at Hamming
    distance 1, which adds a small explode, not a rescan."""
    base = _normed(df)
    w = hyperplane_weights()
    sig = base.withColumn("bucket", hyperplane_bucket(F.col("v"), w))
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "bucket",
    )
    c = sig.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("c_bucket") == F.col("bucket"))
            & (F.col("nbr_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            "bucket",
            "nbr_id",
            cosine_rounded(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")).alias(
                "cos_r"
            ),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cos_r").desc(), F.col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "bucket", "nbr_id", "rank", "cos_r")
    )


def assign_to_literal_centroids(cent_rows: list[tuple[int, list[float]]]) -> Column:
    """Argmax-cosine cluster assignment as ONE zero-shuffle projection.

    Centroids live on the driver (k×dim — genuinely small), so each becomes
    a literal array and the assignment is ``greatest`` over per-centroid
    ``(round-6 cosine, -cluster_id)`` structs — max cosine, ties → lowest
    id, all inside whole-stage codegen with NO shuffle, versus the
    crossJoin + row_number-window formulation that shuffles every vector
    per iteration. Norms are computed in Python with the same left-to-right
    summation order as the engine's in-order fold, so the doubles are
    bit-identical to the DuckDB oracle's ``sqrt(list_dot_product(cv, cv))``.
    """
    best = _best_literal_centroid(cent_rows)
    return (-best["n"]).cast("int").alias("cluster_id")


def _best_literal_centroid(cent_rows: list[tuple[int, list[float]]]) -> Column:
    """The (max round-6 cosine, -cluster_id) struct behind
    :func:`assign_to_literal_centroids` — exposed separately so callers
    needing BOTH the winning cluster and its cosine (the streaming
    assignment/drift monitor) evaluate the centroid scan once."""
    structs = []
    for cid, cv in cent_rows:
        cn = math.sqrt(sum(x * x for x in cv))  # left-to-right, like dot()
        # ONE parsed SQL string per centroid vector (r12): element-wise
        # F.lit is a py4j round-trip per element (~0.5 s of driver chatter
        # per call at k×dim = 512); repr() round-trips doubles exactly and
        # CAST(string AS DOUBLE) is correctly rounded, so the literal
        # array is bit-identical to the F.lit form.
        lit_v = double_array_sql(cv)
        ccos = F.round(dot(F.col("v"), lit_v) / (F.col("nrm") * F.lit(cn)), 6)
        structs.append(F.struct(ccos.alias("c"), F.lit(-cid).alias("n")))
    return F.greatest(*structs) if len(structs) > 1 else structs[0]


def ivf_assign_projection(
    df: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """STATELESS argmax-cosine assignment against frozen (rounded) literal
    centroids, plus the per-vector drift evidence: ``ccos_micro`` (round-6
    cosine to the OWN centroid on the micro grid — exact, the rounded
    double times 1e6 is integral) and ``drift_micro = 1e6 - ccos_micro``
    (0 = on-centroid). Works identically on a batch frame and a streaming
    frame (pure projection, no shuffle, no state) — the ingest-path twin
    of the assignment stage inside :func:`ivf_topk_learned`, which is the
    equality the streaming test pins."""
    base = _normed(df)
    best = _best_literal_centroid(cent_rows)
    return base.select(
        F.col("vec_id"),
        (-best["n"]).cast("int").alias("cluster_id"),
        F.floor(best["c"] * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("ccos_micro"),
    ).withColumn("drift_micro", F.lit(1_000_000) - F.col("ccos_micro"))


def train_kmeans(df: DataFrame) -> list[tuple[int, list[float]]]:
    """The Lloyd training loop alone: returns the final UNROUNDED centroids
    as driver-side ``(cluster_id, vector)`` rows (k×dim — genuinely small).

    Per iteration: centroids are collected to the driver and pushed back as
    LITERALS, so assignment is a zero-shuffle projection
    (:func:`assign_to_literal_centroids`); the new means come from one
    ``posexplode`` + groupBy(cluster, dim) — the only shuffle per iteration,
    keyed on k×dim regardless of input size. Assignment = max cosine (ties →
    lowest centroid id), deterministic init = first k vectors, so runs are
    reproducible; the DuckDB oracle replays the whole loop (see
    ``queries/extensions._kmeans_cte``). Separated from
    :func:`kmeans_centroids` so a session can train once and share the
    result between the centroid query and learned-IVF search."""
    base = _normed(df).select(
        F.col("vec_id").alias("_vid"), "v", "nrm"
    )
    # materialize once, lineage-truncated: the training loop re-reads base
    # every iteration plus init — localCheckpoint (same pattern as
    # dedup.connected_components) turns the repeated scan+norm
    # recomputations into one, and is GC'd with the returned frame
    base = base.localCheckpoint(eager=True)
    cent_rows = [
        (i, r.v) for i, r in enumerate(base.orderBy("_vid").limit(N_CENTROIDS).collect())
    ]
    for _ in range(3):
        assigned = base.select("v", assign_to_literal_centroids(cent_rows))
        # Exact order-independent mean: sum integer nano-units (bigint — no
        # float summation-order drift), divide once in double. Both factors
        # are exact, so the mean is the same double on every engine — the
        # DuckDB oracle replicates this arithmetic literally.
        means = (
            assigned.select("cluster_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("x") * F.lit(1e9)).cast("long")).cast("double")
                    / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
                ).alias("m")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r.cluster_id, {})[r.pos] = r.m
        cent_rows = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cluster.items())
        ]
    return cent_rows


def kmeans_centroids(
    df: DataFrame, cent_rows: list[tuple[int, list[float]]] | None = None
) -> DataFrame:
    """Lloyd's k-means over DataFrames — the iterative-algorithm shape.
    Training lives in :func:`train_kmeans`; this builds the reportable
    output (round-6 centroids + member counts). Pass ``cent_rows`` to reuse
    an already-trained model (one assignment projection + a k-keyed groupBy
    instead of the full loop)."""
    if cent_rows is None:
        cent_rows = train_kmeans(df)
    base = _normed(df)
    final = df.sparkSession.createDataFrame(
        cent_rows, "cluster_id int, centroid array<double>"
    )
    counts = (
        base.select(assign_to_literal_centroids(cent_rows))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    return final.join(counts, "cluster_id", "left").select(
        "cluster_id",
        F.transform("centroid", lambda x: F.round(x, 6)).alias("centroid_r"),
        F.coalesce("n_members", F.lit(0)).alias("n_members"),
    )


NEAR_DUP_COS = 0.45  # cos_r cut of the exact near-dup pairs
# Rounding to 6 dp is monotone and moves a value by at most 5e-7, so a raw
# cosine this far below a cut can never round onto the kept side of it.
ROUND_SLACK = 1e-6
KERNEL_CELLS = 1 << 20  # pair cells per kernel step, whatever the corpus size


def _fold_pairs(at: np.ndarray, bt: np.ndarray) -> np.ndarray:
    """Dot products of every column of ``at`` with every column of ``bt``
    (both dim × rows), added in element order from 0.0. Those are the IEEE
    operations of ``aggregate(zip_with(a, b, x*y), 0.0, acc+x)``, so the
    sums are bit-identical to :func:`dot`. No ``@``, ``einsum`` or BLAS:
    they reorder the sum."""
    acc = np.zeros((at.shape[1], bt.shape[1]))
    tmp = np.empty_like(acc)
    for ak, bk in zip(at, bt):
        np.multiply(ak[:, None], bk, out=tmp)
        acc += tmp
    return acc


def _norms(mt: np.ndarray) -> np.ndarray:
    """:func:`norm` of each column of ``mt`` (dim × rows), in the same order."""
    acc = np.zeros(mt.shape[1])
    for k in mt:
        acc += k * k
    return np.sqrt(acc)


def _by_length(ids: pa.Array, emb: pa.Array) -> dict:
    """The rows that can pair, grouped by vector length:
    ``{dim: (ids, dim × rows float64 matrix, norms)}``.

    ``zip_with`` pads the shorter vector with nulls, so the fold's dot is
    null between lengths; a null vector, a null element or a null id pairs
    with nothing. float32 → float64 is exact, as in :func:`as_double`."""
    held = pc.fill_null(pc.list_value_length(emb), 0).to_numpy()
    starts = np.cumsum(held) - held
    unpaired = pc.or_(emb.is_null(), ids.is_null()).to_numpy(zero_copy_only=False)
    dims = np.where(unpaired, -1, held)
    values = pc.list_flatten(emb)
    if values.null_count:
        holes = values.is_null().to_numpy(zero_copy_only=False)
        dims[pc.list_parent_indices(emb).to_numpy()[holes]] = -1
    flat = values.to_numpy(zero_copy_only=False).astype(np.float64)
    id_np = pc.fill_null(ids, 0).to_numpy()
    groups = {}
    for d in np.unique(dims[dims >= 0]):
        rows = np.flatnonzero(dims == d)
        mt = np.ascontiguousarray(flat[starts[rows][:, None] + np.arange(d)].T)
        groups[int(d)] = (id_np[rows], mt, _norms(mt))
    return groups


def collect_vectors(df: DataFrame) -> pa.Table:
    """``(vec_id, embedding)`` of ``df`` as one local Arrow table:
    the side every streamed row of :func:`raw_cosine_pairs` is scored
    against. It is bounded by the limit the session already puts on a
    broadcast side, ``spark.sql.autoBroadcastJoinThreshold``, as the
    nested-loop join this replaces was; the collect stops one row past it."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    limit = max(conf.autoBroadcastJoinThreshold(), 0)  # bytes; -1 turns broadcasts off
    cap = limit // (8 * (EMB_DIM + 1))
    side = df.select("vec_id", "embedding").limit(cap + 1).toArrow()
    held = pc.sum(pc.list_value_length(side["embedding"])).as_py() or 0
    if side.num_rows > cap or 8 * (side.num_rows + held) > limit:
        raise ValueError(
            f"exact all-pairs cosine: more than {cap} vectors (or {limit}"
            " bytes, spark.sql.autoBroadcastJoinThreshold)"
            " to hold in one process; use the IVF path (ivf_assign + pairs"
            " within a cluster, semantic_dedup_flags) or sign-LSH bucketing"
            " (hyperplane_topk) at this scale"
        )
    return side


def raw_cosine_pairs(streamed: DataFrame, side: pa.Table, top2: bool) -> DataFrame:
    """Unrounded cosines ``(vec_a, vec_b, raw)`` of each ``streamed`` row
    against the ``side`` rows, as one ``mapInArrow`` kernel.

    The values are the fold's to the bit: :func:`_fold_pairs` for the dot,
    :func:`_norms` for the norms, then ``dot / (na * nb)``. The kernel only
    narrows the pairs to a superset of what the caller keeps after Spark's
    ``round(raw, 6)``:

    * ``top2=False``: ``vec_a < vec_b`` and raw ≥ ``NEAR_DUP_COS`` −
      ``ROUND_SLACK`` (the near-dup cut);
    * ``top2=True``: ``vec_a != vec_b`` and raw ≥ the row's second-largest
      raw − ``ROUND_SLACK`` (its two nearest neighbours, ties included).

    NaN sorts above every number in Spark, so a NaN cosine is always kept.
    A zero norm product raises ``DIVIDE_BY_ZERO`` under ANSI mode, as the
    fold's division does; otherwise that pair is null and dropped.

    The streamed side keeps its partitioning, so the work spreads over its
    tasks; each Arrow batch is scored in steps of at most ``KERNEL_CELLS``
    pairs. The side's float64 matrix travels in the kernel's closure,
    which PySpark broadcasts once it passes 1 MB."""
    ansi = streamed.sparkSession.conf.get("spark.sql.ansi.enabled") == "true"
    side_groups = _by_length(
        side["vec_id"].combine_chunks(), side["embedding"].combine_chunks()
    )
    id_type = streamed.schema["vec_id"].dataType.simpleString()

    def kernel(batches):
        for batch in batches:
            ids, emb = batch.column("vec_id"), batch.column("embedding")
            for d, (ida, at, na) in _by_length(ids, emb).items():
                if d not in side_groups:
                    continue
                idb, bt, nb = side_groups[d]
                step = max(1, KERNEL_CELLS // len(idb))
                for lo in range(0, len(ida), step):
                    a = ida[lo:lo + step]
                    pair = a[:, None] != idb if top2 else a[:, None] < idb
                    den = na[lo:lo + step, None] * nb
                    if ansi and np.any(pair & (den == 0)):
                        i, j = np.argwhere(pair & (den == 0))[0]
                        raise ZeroDivisionError(
                            f"[DIVIDE_BY_ZERO] cosine of vec_id {a[i]} and"
                            f" {idb[j]}: a zero norm"
                        )
                    pair &= den != 0
                    with np.errstate(divide="ignore", invalid="ignore"):
                        raw = _fold_pairs(at[:, lo:lo + step], bt) / den
                    key = np.where(np.isnan(raw), np.inf, raw)
                    if top2:
                        key = np.where(pair, key, -np.inf)
                        nth = max(key.shape[1] - 2, 0)
                        cut = np.partition(key, nth, axis=1)[:, nth:nth + 1]
                        keep = pair & (key >= cut - ROUND_SLACK)
                    else:
                        keep = pair & (key >= NEAR_DUP_COS - ROUND_SLACK)
                    i, j = np.nonzero(keep)
                    if len(i):
                        yield pa.RecordBatch.from_arrays(
                            [pa.array(a[i], ids.type), pa.array(idb[j], ids.type),
                             pa.array(raw[i, j])],
                            names=["vec_a", "vec_b", "raw"],
                        )

    return streamed.select("vec_id", "embedding").mapInArrow(
        kernel, f"vec_a {id_type}, vec_b {id_type}, raw double"
    )


def embedding_near_dup_pairs(df: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos_r ≥ 0.45, on the
    6-dp-rounded value so the cut is engine-stable).

    This is the *exact* all-pairs variant — O(N²/2) — correct at fixture
    scale and the verification step at any scale; the discovery step at
    100 TB is ``ivf_assign`` + within-cluster pairs (same plan as
    :func:`ivf_topk`'s candidate join) or sign-LSH bucketing. Past the
    session's broadcast limit :func:`collect_vectors` raises and names them.

    The STREAMED side is explicitly repartitioned to the session's full
    parallelism: the fixture is one parquet file → one scan partition, and
    the kernel runs per streamed partition — without the repartition all
    N²/2 cosines ran in a single task (measured 32 s at sf0.1 under the
    nested-loop join this kernel replaced). The one-time shuffle moves N
    thin rows, nothing at pair scale."""
    side = collect_vectors(df)
    a = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return (
        raw_cosine_pairs(a, side, top2=False)
        .select("vec_a", "vec_b", F.round("raw", 6).alias("cos_r"))
        .filter(F.col("cos_r") >= NEAR_DUP_COS)
    )


def semantic_dedup_flags(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    a_min_id: int | None = None,
) -> DataFrame:
    """Cluster-scoped semantic dedup (the SemDeDup shape): assign every
    vector to its nearest trained centroid, then compare pairs ONLY within a
    cluster — a vector is dropped when a lower-id vector in the same cluster
    has round-6 cosine ≥ 0.45.

    Semantics are deliberately relational, not sequential-greedy: the drop
    test is against every lower-id cluster member (kept or not), so the
    result is order-independent and expressible as one equi-join +
    aggregation on both engines. Returns one row per input vector:
    ``(vec_id, cluster_id, is_kept, dup_of, dup_cos)`` where ``dup_of`` is
    the lowest-id similar neighbor (NULL for keepers) and ``dup_cos`` the
    max similarity among lower-id neighbors.

    Scale shape: assignment is the zero-shuffle literal projection
    (:func:`assign_to_literal_centroids`); the pair search is an equi-join
    keyed on ``cluster_id`` — never a cartesian product. At 100 TB the
    centroid count grows with the corpus (k ≈ N / target-cluster-size, the
    SemDeDup deployment rule), so per-cluster candidate sets stay bounded
    and the join cost is Σ|cluster|², not N².

    ``a_min_id`` is the INCREMENTAL arm: only vectors with id >= it are
    tested (the per-batch delta), each against every lower-id corpus
    member of its cluster — the a side shrinks to the delta BEFORE the
    join, so per-batch cost is O(delta × cluster density), and because
    the drop rule only ever looks at lower ids, the incremental result
    is by construction the full run filtered to the delta."""
    from postgres_cdc_example_spark.operators import hints

    base = _normed(df).select(
        F.col("vec_id"), "v", "nrm", assign_to_literal_centroids(cent_rows)
    )
    # r12 optimization (guide §2.3/§3.1): the cluster-keyed pair join was
    # a sort-merge join shuffling BOTH sides' 64-double vectors — ~250k
    # joined rows of ~1 KB each sorted and materialized before a single
    # cosine ran (measured: the join carried 1.5 s of the query's 2.5 s;
    # the cosines themselves are cheap). Size-gate-broadcast the b side
    # instead: pair generation becomes a zero-shuffle BroadcastHashJoin
    # whose streamed side is the scan-parallelism-healed assignment
    # projection. Above the gate (a corpus too big to broadcast) the plan
    # degrades to the same sort-merge join as before — never an OOM.
    a_src = hints.heal_scan_parallelism(base)
    a_base = (
        a_src if a_min_id is None else a_src.filter(F.col("vec_id") >= a_min_id)
    )
    a = a_base.select(
        F.col("vec_id").alias("vec_a"),
        "cluster_id",
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = hints.broadcast_if_small(
        base.select(
            F.col("vec_id").alias("vec_b"),
            "cluster_id",
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        )
    )
    drops = (
        a.join(b, "cluster_id")
        .filter(F.col("vec_a") > F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine_rounded(F.col("va"), F.col("na"), F.col("vb"), F.col("nb")).alias(
                "cos_r"
            ),
        )
        .filter(F.col("cos_r") >= 0.45)
        .groupBy("vec_a")
        .agg(F.min("vec_b").alias("dup_of"), F.max("cos_r").alias("dup_cos"))
    )
    return (
        a_base.select(F.col("vec_id"), "cluster_id")
        .join(drops, F.col("vec_id") == drops["vec_a"], "left")
        .select(
            F.col("vec_id"),
            "cluster_id",
            F.col("vec_a").isNull().alias("is_kept"),
            "dup_of",
            "dup_cos",
        )
    )


# --- Product Quantization (PQ) --------------------------------------------------

PQ_M = 8  # subspaces
PQ_D = EMB_DIM // PQ_M  # dims per subspace
PQ_K = 16  # codewords per subspace
PQ_ITERS = 2  # unrolled Lloyd iterations per subspace codebook
PQ_TOPK = 10


def micro_vec(vec: Column) -> Column:
    """float -> exact micro-int array (the covariance/PCA grid): every PQ
    quantity downstream — training means, assignment distances, ADC tables
    — is then PURE INTEGER arithmetic, a strictly stronger determinism
    story than the cosine family's round-6 doubles."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast("long")
    )


def _subvec(vm: Column, s: int) -> Column:
    return F.slice(vm, s * PQ_D + 1, PQ_D)


def _codebook_sql(codebook: list[list[list[int]]], s: int) -> str:
    """Subspace ``s``'s 16 codewords as ONE literal array of (k, cv)
    structs — the argmin then iterates it with a single ``transform``, so
    the subvector expression appears once, not 16 times (the expression-
    copy formulation re-evaluated the whole micro conversion per candidate
    per row — measured ~25x slower). Rendered as a SQL STRING, not a
    Column tree: the Column formulation cost ~1000 py4j round-trips per
    argmin (≈3 s of pure driver time per encode at ANY data size); one
    ``F.expr`` parse of the same tree is ~ms (measured 6.2 s → 0.9 s on
    the full ADC query)."""
    words = ",".join(
        "named_struct('k',{k},'cv',array({cv}))".format(
            k=k, cv=",".join(f"{int(c)}L" for c in codebook[s][k])
        )
        for k in range(len(codebook[s]))  # may be < PQ_K on a short corpus
    )
    return f"array({words})"


def pq_code_col(codebook: list[list[list[int]]], sv_name: str, s: int) -> Column:
    """argmin codeword for subspace ``s`` over an ALREADY-MATERIALIZED
    subvector column named ``sv_name`` (callers project subvectors through
    a Generate barrier first): array_min over (d2, k) structs — ties break
    to the lowest code, exactly like the oracle's (d2, code) row_number."""
    d2 = (
        f"aggregate(zip_with({sv_name}, e.cv, (a, b) -> (a - b) * (a - b)),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return F.expr(
        f"array_min(transform({_codebook_sql(codebook, s)},"
        f" e -> struct({d2} AS d2, e.k AS k))).k"
    )


def _with_subvecs(emb: DataFrame) -> DataFrame:
    """(vec_id, sv0..sv{M-1}) with the micro conversion and slicing forced
    into ATTRIBUTES via a 1-element Generate barrier (the pinned
    projection-collapse trick) and the scan hash-spread across cores
    (single-file fixtures arrive as one split)."""
    from postgres_cdc_example_spark.operators.dedup import _spread

    vm = micro_vec(F.col("embedding"))
    spread = _spread(emb.select("vec_id", "embedding"), "vec_id")
    return spread.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(
                    *[_subvec(vm, s).alias(f"sv{s}") for s in range(PQ_M)]
                )
            )
        ).alias("r"),
    ).select(
        "vec_id", *[F.col(f"r.sv{s}").alias(f"sv{s}") for s in range(PQ_M)]
    )


def _tdiv_int(a: int, b: int) -> int:
    """Toward-zero integer division — DuckDB HUGEINT ``//`` / Spark ``div``
    semantics (Python's ``//`` floors, which differs on negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def train_pq_multi(
    bases: dict[str, DataFrame], checkpointed: bool = False
) -> dict[str, list[list[list[int]]]]:
    """Train SEVERAL independent PQ codebooks in fused Spark jobs — the
    bench-prebuild governor for the staleness-audit family, where three
    trainings (full / frozen-base-slice / drifted-retrained) ran three
    separate Lloyd chains over the same embeddings scan (10.8 s of the
    21.2 s r8 layer build). Each chain's SEMANTICS are untouched: its init
    is the PQ_K lowest-vec_id rows of ITS OWN base, and each iteration's
    per-(subspace, code) sums group by a chain tag, so no row of one chain
    ever influences another's centroids — the fusion only shares the job
    round-trips and (via ``checkpointed=True``, when the caller already
    localCheckpointed a common parent) the input scan. A chain whose base
    is empty yields ``[]``.

    Each chain is the distributed/driver split of PQ codebook training:
    per iteration, ONE corpus-wide aggregate computes per-(subspace, code)
    dimension sums and counts (DECIMAL(38,0) — exact at any corpus size)
    and the driver closes the integer means (sum toward-zero-div count, so
    centroids STAY on the micro grid); assignment re-broadcasts the
    <= M*K*D-int codebook as literals. Init = the PQ_K lowest-vec_id
    subvectors (deterministic); a code that loses all members keeps its
    previous codeword. Each base carries (vec_id, sv0..sv{M-1}) — raw
    subvectors for plain PQ, coarse-residual subvectors for IVF-PQ."""
    prepared = {
        tag: (b if checkpointed else b.localCheckpoint(eager=False))
        for tag, b in bases.items()
    }
    cbs: dict[str, list[list[list[int]]]] = {}
    for tag, b in prepared.items():
        init_rows = b.orderBy("vec_id").limit(PQ_K).collect()
        # empty corpus: no codebook (callers return empty)
        cbs[tag] = (
            [
                [
                    [int(r[f"sv{s}"][d]) for d in range(PQ_D)]
                    for r in init_rows
                ]
                for s in range(PQ_M)
            ]
            if init_rows
            else []
        )
    live = [t for t in prepared if cbs[t]]
    for _ in range(PQ_ITERS):
        aggs = []
        for tag in live:
            # all M argmin assignments in ONE row pass (explode of per-
            # subspace structs), not an M-way union that re-scans the base
            # M times per chain per iteration
            rows = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            pq_code_col(cbs[tag], f"sv{s}", s).alias("code"),
                            F.col(f"sv{s}").alias("sv"),
                        )
                        for s in range(PQ_M)
                    ]
                )
            )
            aggs.append(
                prepared[tag]
                .select(F.lit(tag).alias("tag"), rows.alias("r"))
                .select("tag", "r.s", "r.code", "r.sv")
            )
        if not aggs:
            break
        allsub = aggs[0]
        for a in aggs[1:]:
            allsub = allsub.unionByName(a)
        sums = (
            allsub.groupBy("tag", "s", "code")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.col("sv")[d].cast("decimal(38,0)")).alias(f"s{d}")
                    for d in range(PQ_D)
                ],
            )
            .collect()
        )
        newcbs = {
            tag: [[list(cw) for cw in cbs[tag][s]] for s in range(PQ_M)]
            for tag in live
        }
        for r in sums:
            tag, s, k, n = r["tag"], int(r["s"]), int(r["code"]), int(r["n"])
            if n > 0:
                newcbs[tag][s][k] = [
                    _tdiv_int(int(r[f"s{d}"]), n) for d in range(PQ_D)
                ]
        for tag in live:
            cbs[tag] = newcbs[tag]
    return cbs


def pq_encode(emb: DataFrame, codebook: list[list[list[int]]]) -> DataFrame:
    """Bulk encoding of raw subvectors (see ``pq_encode_base``)."""
    return pq_encode_base(_with_subvecs(emb), codebook)


def pq_encode_base(
    base: DataFrame,
    codebook: list[list[list[int]]],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Bulk encoding: 8 argmin expressions over literal codewords — a
    zero-shuffle projection, the serving shape (codes are 8 small ints per
    vector: 64 bits replacing 256 bytes). ``carry`` names extra columns of
    ``base`` to keep alongside the codes (IVF-PQ carries ``cid``)."""
    enc = base.select(
        "vec_id",
        *carry,
        *[
            pq_code_col(codebook, f"sv{s}", s).alias(f"c{s}")
            for s in range(PQ_M)
        ],
    )
    # second Generate barrier: downstream ADC references each code column
    # many times (once per query's table lookup); without the barrier,
    # projection collapse re-inlines the argmin per REFERENCE — and the
    # interpreted fold path has no common-subexpression elimination, so the
    # encode ran ~10x per row (measured 6 s -> sub-second at sf0.1)
    return enc.select(
        "vec_id",
        *carry,
        F.explode(
            F.array(F.struct(*[F.col(f"c{s}") for s in range(PQ_M)]))
        ).alias("r"),
    ).select(
        "vec_id",
        *carry,
        *[F.col(f"r.c{s}").alias(f"c{s}") for s in range(PQ_M)],
    )


# --- IVF-PQ: coarse integer quantizer + residual PQ -----------------------------

IVFPQ_C = 4  # coarse clusters (probe=1 at search time)


def coarse_centroids(emb: DataFrame) -> list[list[int]]:
    """The IVFPQ_C lowest-vec_id micro vectors as the coarse quantizer — a
    deterministic stand-in for a trained coarse k-means, exactly like
    ``ivf_assign``'s centroid choice (a learned table would drop in
    unchanged); IVFPQ_C * EMB_DIM ints of driver state."""
    rows = (
        emb.filter(F.col("vec_id") < IVFPQ_C)
        .select("vec_id", micro_vec(F.col("embedding")).alias("vm"))
        .orderBy("vec_id")
        .collect()
    )
    return [[int(x) for x in r["vm"]] for r in rows]


def _cents_sql(cents: list[list[int]]) -> str:
    words = ",".join(
        "named_struct('k',{k},'cv',array({cv}))".format(
            k=k, cv=",".join(f"{int(c)}L" for c in cents[k])
        )
        for k in range(len(cents))
    )
    return f"array({words})"


def ivfpq_residual_subvecs(
    emb: DataFrame, cents: list[list[int]]
) -> DataFrame:
    """(vec_id, cid, sv0..sv{M-1}): assign each vector to its exact-L2
    nearest coarse centroid (argmin over the literal centroid table, ties
    to the lowest cid — a zero-shuffle projection) and slice the INTEGER
    residual (vm - centroid) into PQ subvectors. Generate barriers keep
    vm and the chosen centroid single-evaluation attributes (the pinned
    projection-collapse trick)."""
    from postgres_cdc_example_spark.operators.dedup import _spread

    spread = _spread(emb.select("vec_id", "embedding"), "vec_id")
    vm = spread.select(
        "vec_id",
        F.explode(
            F.array(F.struct(micro_vec(F.col("embedding")).alias("vm")))
        ).alias("r"),
    ).select("vec_id", F.col("r.vm").alias("vm"))
    d2 = (
        "aggregate(zip_with(vm, e.cv, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    best = F.expr(
        f"array_min(transform({_cents_sql(cents)},"
        f" e -> struct({d2} AS d2, e.k AS k, e.cv AS cv)))"
    )
    withb = vm.select(
        "vec_id",
        F.explode(
            F.array(F.struct(F.col("vm").alias("vm"), best.alias("b")))
        ).alias("r"),
    ).select("vec_id", F.col("r.vm").alias("vm"), F.col("r.b").alias("b"))
    rsv = [
        F.zip_with(
            _subvec(F.col("vm"), s),
            _subvec(F.col("b.cv"), s),
            lambda a, b: a - b,
        ).alias(f"sv{s}")
        for s in range(PQ_M)
    ]
    return withb.select(
        "vec_id",
        F.explode(
            F.array(F.struct(F.col("b.k").alias("cid"), *rsv))
        ).alias("r"),
    ).select(
        "vec_id",
        F.col("r.cid").alias("cid"),
        *[F.col(f"r.sv{s}").alias(f"sv{s}") for s in range(PQ_M)],
    )


def save_ivfpq_codes(codes: DataFrame, path: str) -> None:
    """At-rest layout of the IVF-PQ code table: directory-partitioned by
    ``cid``, so a probe-1 serve is a PARTITION-PRUNED read of ~1/IVFPQ_C
    of the corpus — the claim ``ann_ivfpq_topk``'s docstring makes about
    the serving plan, materialized (the fixture-scale query filters
    qcid == cid after a full scan; at rest the filter becomes directory
    pruning and the non-probed lists are never opened). Codes are 8 small
    ints + vec_id per row, so the index is ~1/30 the corpus bytes before
    partitioning even helps. Plan-pinned by
    ``tests/test_plans.py::test_ivfpq_code_table_partition_pruning``."""
    codes.write.mode("overwrite").partitionBy("cid").parquet(path)


def read_ivfpq_probe(spark, path: str) -> DataFrame:
    """Probe-1 read of a persisted IVF-PQ index: the ``cid = 1`` equality
    lands in PartitionFilters (directory pruning), not a post-scan
    filter."""
    return spark.read.parquet(path).filter(F.col("cid") == 1)
