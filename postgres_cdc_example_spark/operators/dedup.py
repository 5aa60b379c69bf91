"""Deduplication operators for large-scale training-data pipelines.

Four families, all expressed as declarative DataFrame plans (no Python UDFs
anywhere, and no higher-order array functions in any hot path — see the
performance note below), each with an exact DuckDB-SQL oracle twin in
``queries/extensions.py``:

- **exact**: hash-groupBy on a normalized content hash (``dropDuplicates``
  semantics, but keeps group stats so the decision is auditable).
- **MinHash + LSH**: char-shingle rows → k salted-md5 min-aggregates → band
  keys → bucket self-join for candidates → exact-Jaccard verification of
  candidates only. The self-join is on the *band key*, so only colliding
  docs ever meet; at 100 TB this is the dedup family that scales to
  all-pairs discovery, because it never enumerates non-colliding pairs.
- **SimHash**: 32-bit frequency-weighted sign-hash per document; near-dups
  land in the same bucket. One explode + one groupBy shuffle on ``doc_id``.
- **n-gram Jaccard**: exact similarity over word n-gram sets via a
  shingle-inverted-index self-join with a document-frequency cutoff
  (prefix-filtering flavor) so hot shingles can't create quadratic blowup.

PERFORMANCE NOTE (measured, sf0.1): higher-order functions
(``transform``/``aggregate`` lambdas) run on Spark's interpreted expression
path — outside whole-stage codegen — and any compound expression referenced
inside the lambda is re-evaluated per array ELEMENT. A transform-based
minhash signature cost ~20 s at sf0.1; the row-explode + 16-column-md5 +
min-aggregate formulation below (pure codegen, map-side partial agg) runs
the same computation in ~2 s. Shingles/tokens are therefore always exploded
to ROWS and aggregated relationally, never folded with array lambdas.

Portability notes (the oracle must reproduce values bit-for-bit):
- hashes are md5 hex strings — identical across engines; lexicographic
  min/max over lowercase-hex ASCII is engine-independent.
- Jaccard is reported as ``jac_micro = floor(common/union * 1e6)`` (bigint)
  so the comparison never depends on float formatting.

Reference parity note: the reference has no dedup surface (SURVEY.md §2.8 —
no extension points); these are the SURVEY.md §7.2-step-7 extension ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.operators import hints

# tunables — mirrored literally in the DuckDB oracle strings
SHINGLE_CHARS = 8  # char-shingle width for minhash
NUM_HASHES = 16  # minhash signature length
NUM_BANDS = 4  # LSH bands (rows per band = 16/4 = 4)
SIMHASH_BITS = 32
NGRAM_WORDS = 3
MAX_DOC_FREQ = 64  # inverted-index df cutoff (prefix-filter analog)


def normalized(text: Column) -> Column:
    """Whitespace-collapsed lowercase text — the canonical form every dedup
    family hashes. Pure built-ins; identical in DuckDB."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def word_tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token filtering."""
    return F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda t: t != "")


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-spread a narrow scan across all cores before compute-heavy
    per-row work. Single-file test fixtures arrive as ONE input split, which
    would serialize the md5/shingle hot loops; a real 100 TB table already
    has thousands of splits, in which case this is a no-op (the
    partition-count check costs a plan, not a job). Streaming frames pass
    through untouched: ``.rdd`` is illegal on them, and the micro-batch
    source already controls its split count."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy: one shuffle on the content hash (near
    uniform — md5 — so never skewed). ``keeper_id`` = min id of the group,
    i.e. deterministic `dropDuplicates` with an auditable survivor choice."""
    return (
        df.select(F.md5(normalized(F.col("text"))).alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


def shingle_rows(df: DataFrame) -> DataFrame:
    """Distinct ``SHINGLE_CHARS``-char shingles as ROWS ``(id, s)`` — the
    codegen-friendly layout every minhash stage consumes. One narrow explode
    (no shuffle) + one distinct (shuffle with map-side partial agg)."""
    normed = _spread(df.select(F.col("doc_id"), F.col("text")), "doc_id").select(
        F.col("doc_id"), normalized(F.col("text")).alias("nm")
    )
    n_sh = F.greatest(F.length("nm") - (SHINGLE_CHARS - 1), F.lit(1))
    return (
        normed.select(
            F.col("doc_id"), F.col("nm"), F.explode(F.sequence(F.lit(1), n_sh)).alias("i")
        )
        .select(
            F.col("doc_id"), F.col("nm").substr(F.col("i"), F.lit(SHINGLE_CHARS)).alias("s")
        )
        .distinct()
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """``NUM_HASHES`` min-hashes per doc: min over shingle rows of md5 salted
    with the hash index. 16 md5 projections per row stay inside whole-stage codegen;
    the min-aggregate combines map-side, so the shuffle carries one 16-hash
    row per doc per input partition. Salted-md5 stands in for k independent
    permutations; min over lowercase hex is portable to any engine."""
    hashed = sh.select(
        F.col("doc_id"),
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(NUM_HASHES)]
    )


def minhash_bands(sig: DataFrame) -> DataFrame:
    """LSH band keys from a minhash signature table: ``NUM_BANDS`` small
    rows per doc, ``band_key`` = md5 over the band's hash slice. The band
    table is what both same-set pair discovery and delta-vs-corpus
    incremental dedup join on."""
    rows = NUM_HASHES // NUM_BANDS
    return sig.select(
        F.col("doc_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                            )
                        ).alias("band_key"),
                    )
                    for b in range(NUM_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")


def lsh_candidate_pairs(sh: DataFrame, bands: DataFrame | None = None) -> DataFrame:
    """Band-collision candidate pairs (the LSH *discovery* stage, before
    exact verification): minhash the shingle rows, explode band keys, and
    self-join on ``(band_idx, band_key)`` — only true bucket collisions
    meet, all-pairs is never materialized. Factored out of
    :func:`minhash_lsh_pairs` so recall/precision audits can measure the
    candidate stage in isolation. ``bands``: optionally pass a precomputed
    (ideally persisted) band table — the 16-md5 min-aggregate is the
    layer's dominant cost and is shared by every LSH consumer in a
    session (the same reuse argument as the ``shingles`` parameter)."""
    if bands is None:
        bands = minhash_bands(minhash_signatures(sh))
    ba = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("band_idx").alias("bi"),
        F.col("band_key").alias("bk"),
    )
    bb = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_idx").alias("bi2"),
        F.col("band_key").alias("bk2"),
    )
    return (
        ba.join(
            bb,
            (F.col("bi") == F.col("bi2"))
            & (F.col("bk") == F.col("bk2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified.

    Plan shape (the 100 TB story): shingle rows feed a map-side-combined
    min-aggregate (one shuffle on doc id); band keys explode 4 small rows
    per doc; the candidate join shuffles on ``(band_idx, band_key)`` so only
    true bucket collisions meet — all-pairs is never materialized; the
    verification joins shingle rows back in semi-joined down to the (tiny)
    candidate list, counting common shingles relationally.

    Shingle basis: word n-grams (``ngram_rows``) — the standard granularity
    for document-level near-dup (and ~6× fewer min-hash inputs per doc than
    char shingles; use :func:`shingle_rows` instead for short-text /
    fuzzy-edit workloads).

    ``shingles``: optionally pass a precomputed (ideally persisted)
    ``ngram_rows`` result. The shingle subtree feeds FOUR consumers in this
    plan (signatures, sizes, both verification sides); a persisted input
    turns those into cache reads instead of four explode+distinct
    re-executions — and lets callers share the same shingles across several
    dedup queries in one session.
    """
    sh = (
        shingles
        if shingles is not None
        else ngram_rows(df)
    ).withColumnRenamed("g", "s")
    cand = lsh_candidate_pairs(sh, bands=bands)
    if not cand.isStreaming:
        cand = cand.localCheckpoint(eager=False)

    # r12 optimization (guide §2.3): verification used to join RAW SHINGLE
    # ROWS twice (candidates × per-doc shingles on doc_a, then an equi-join
    # on (shingle, doc_b)) and re-aggregate — three shuffles proportional
    # to the shingle layer per invocation, and ~10 registered queries
    # invoke this operator. One (doc, shingle-array, size) aggregate now
    # feeds two doc-keyed joins onto the collision-bounded candidate list
    # and the common count is a per-pair ``array_intersect`` (shingle rows
    # are distinct by construction, so set-intersect size == the old
    # match-count) — measured 0.41 → 0.30 s at sf0.1, values identical.
    # ``common >= 1`` keeps the old inner-join semantics exactly (a
    # zero-overlap candidate never surfaced) for ANY threshold.
    # r13 (ADVICE r12): semi-join the shingle rows down to docs appearing
    # in at least one candidate pair BEFORE the array aggregate, so the
    # per-doc full-shingle-set array row only ever materializes/shuffles
    # for COLLIDING docs — collision-bounded again at corpus scale, like
    # the row-join shape it replaced. Values unchanged: the semi-join
    # keeps every shingle row of a kept doc, so both ``ss`` and ``sz``
    # are identical for every doc the candidate joins can reach.
    # ``cand`` is lazily localCheckpoint'ed above so the band self-join
    # materializes ONCE and both ``cand_ids`` and the pair join read the
    # (tiny, collision-bounded) result: re-deriving the id set from a
    # DUPLICATED candidate subtree measured 1.9 -> 4.4 s / 44 -> 124 AQE
    # stage jobs on dedup_transitivity_audit at sf0.1, and a hot-bucket
    # count over the band table (4 extra exchanges per invocation)
    # measured 0.43 -> 0.82 s on dedup_minhash_lsh — the checkpoint is
    # the only shape whose id-set derivation costs no re-execution.
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    arrs = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("ss"), F.count(F.lit(1)).alias("sz"))
    )
    scored = (
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
            F.size(F.array_intersect("ss_a", "ss_b")).alias("common"),
            "size_a",
            "size_b",
        )
        .filter(F.col("common") >= 1)
    )
    jac_micro = F.floor(
        F.col("common").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("common"))
        * F.lit(1000000.0)
    ).cast("long")
    return scored.select(
        "doc_a", "doc_b", "common", "size_a", "size_b", jac_micro.alias("jac_micro")
    ).filter(F.col("jac_micro") >= int(threshold * 1_000_000))


DRIVER_CC_THRESHOLD = 100_000  # pairs; below this, union-find on the driver


def connected_components(
    pairs: DataFrame, driver_threshold: int = DRIVER_CC_THRESHOLD
) -> DataFrame:
    """Group near-dup PAIRS into duplicate CLUSTERS: connected components by
    min-label propagation. Returns ``(doc_id, component)`` where ``component``
    is the smallest doc id reachable through the pair graph — i.e. the
    cluster's deterministic keeper.

    Each iteration is one join + one min-aggregate over the *edge* set (both
    shuffles on the key), and converges in O(component diameter) rounds —
    near-dup clusters are shallow (diameter rarely > a few hops), so this is
    a handful of small jobs over a pair list that LSH already shrank by
    orders of magnitude. The driver-side loop only checks a changed-count
    scalar per round; all data stays distributed. (At extreme densities the
    large-star/small-star variant halves round count; unnecessary here.)
    """
    # materialize the (tiny) pair list ONCE before fanning out: the union
    # below reads it twice, the size/label joins more — without this the
    # upstream pair-discovery pipeline (e.g. the whole MinHash+LSH plan)
    # re-executes per branch
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint()
    n_pairs = pairs.count()
    if n_pairs <= driver_threshold:
        # LSH shrinks the pair graph by orders of magnitude, so the common
        # case is a FEW HUNDRED edges — running 2 Spark jobs per propagation
        # round on that is pure scheduler overhead. Union-find on the driver
        # is exact, deterministic (min root), and done in microseconds; the
        # distributed loop below remains the >threshold path and stays
        # exercised by tests via driver_threshold=0.
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in pairs.collect():
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        return pairs.sparkSession.createDataFrame(
            rows, f"doc_id {pairs.schema['doc_a'].dataType.simpleString()}, "
                  f"component {pairs.schema['doc_a'].dataType.simpleString()}"
        )
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.union(rev).persist()
    # localCheckpoint (not persist) each round: iterative self-reference
    # otherwise DOUBLES the logical plan per iteration — by round ~10 the
    # driver OOMs just stringifying the plan. Checkpointing truncates
    # lineage to the materialized partitions.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    for _ in range(25):
        neighbor = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        new_labels = (
            labels.union(neighbor)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "id")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


def _hex_nibble(h: str, pos: int) -> str:
    """SQL for the value 0..15 of hex char ``pos`` (1-based) of ``h`` —
    ascii arithmetic, no lookup tables, so the same expression runs in any
    SQL engine."""
    c = f"ascii(substring({h}, {pos}, 1))"
    return f"({c} - 48 - CASE WHEN {c} >= 97 THEN 39 ELSE 0 END)"


def simhash_buckets(df: DataFrame, tokens: DataFrame | None = None) -> DataFrame:
    """32-bit SimHash per doc + bucket size (docs sharing the hash).

    Frequency-weighted: every token occurrence votes ±1 on each bit of its
    md5. One explode + one groupBy(``doc_id``) shuffle (32 codegen'd sums,
    map-side combined); the window count is a second small shuffle on the
    hash. Bits come from md5 hex nibbles via ascii arithmetic so the oracle
    reproduces them exactly.

    ``tokens``: optionally pass precomputed (ideally persisted) occurrence
    rows ``(id, tok)`` — shared with the LM-statistics family.
    """
    toks = (
        tokens
        if tokens is not None
        else _spread(df.select(F.col("doc_id"), F.col("text")), "doc_id").select(
            F.col("doc_id"), F.explode(word_tokens(F.col("text"))).alias("tok")
        )
    )
    # NOTE (r13, measured, rejected): hashing once per DISTINCT token into
    # a vocabulary-bounded ±1 vote table joined back (the dictionary
    # trick; fixture vocabulary is 31 tokens vs 270k occurrence rows)
    # measured a WASH at best — 1.16 s min-of-6 with a forced broadcast vs
    # 1.20 s for this per-row form — and a 5× blowup (6.4 s in the full
    # bench) when the planner picked a shuffle join on the 31-value key
    # (extreme skew). The md5+nibble arithmetic is codegen-fused off the
    # cached occurrence scan and is NOT the bottleneck; kept as is. The
    # fold is written as SQL strings: built from Column calls, the same
    # expressions took 1,606 py4j round trips and ~170 ms per build, against
    # 99 and ~9 ms (4-core box, call-site capture off).
    sums = [
        F.expr(
            f"sum(floor({_hex_nibble('md5(tok)', b // 4 + 1)} / {2 ** (b % 4)})"
            f" % 2 * 2 - 1) AS s{b}"
        )
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*sums)
    simhash = " + ".join(
        f"CASE WHEN s{b} >= 0 THEN {1 << b}L ELSE 0L END" for b in range(SIMHASH_BITS)
    )
    hashed = agg.select(F.col("doc_id"), F.expr(f"{simhash} AS simhash"))
    return hashed.withColumn(
        "n_bucket", F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    )


def ngram_rows(df: DataFrame) -> DataFrame:
    """Distinct word n-grams as ROWS ``(doc_id, g)`` via posexplode + lead()
    windows — fully codegen (no array lambdas). Tail rule matches the
    list-index oracle: a document shorter than ``NGRAM_WORDS`` tokens yields
    exactly one short gram (its whole token sequence). A ZERO-token document
    (empty/whitespace-only) yields no rows at all and therefore never
    enters the minhash/Jaccard universe — deliberate: Jaccard over empty
    sets is 0/0, and empty-content duplicates are exactly what
    :func:`exact_dedup`'s normalized content hash already groups."""
    toks = _spread(df.select(F.col("doc_id"), F.col("text")), "doc_id").select(
        F.col("doc_id"), F.posexplode(word_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = toks.select(
        F.col("doc_id"),
        F.col("pos"),
        *[F.lead("tok", j).over(w).alias(f"t{j}") for j in range(NGRAM_WORDS)],
    )
    gram = F.concat_ws(" ", *[F.col(f"t{j}") for j in range(NGRAM_WORDS)])
    return (
        leads.filter(F.col(f"t{NGRAM_WORDS - 1}").isNotNull() | (F.col("pos") == 0))
        .select(F.col("doc_id"), gram.alias("g"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df: int = MAX_DOC_FREQ,
    gram_df: DataFrame | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs via an inverted-index self-join.

    Scale guard: n-grams appearing in more than ``max_df`` docs are dropped
    before the self-join (the prefix-filtering idea — hot shingles are the
    quadratic-blowup / skew risk at 100 TB, and they carry no dedup signal).
    Sizes and intersections are computed over the *filtered* universe so
    Jaccard stays internally consistent.

    ``gram_df``: optionally pass the df-annotated shingle rows
    ``(doc_id, g, df)`` directly (e.g. a persisted layer) — skips the in-plan
    n-gram extraction, df aggregate and join-back. The ``max_df`` cutoff
    applies on either path.
    """
    if gram_df is None:
        ex = ngram_rows(df)
        gram_df = ex.join(ex.groupBy("g").agg(F.count(F.lit(1)).alias("df")), "g")
    kept = gram_df.filter(F.col("df") <= max_df).select("doc_id", "g")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    pairs = (
        a.join(b, (F.col("ga") == F.col("gb")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac_micro = F.floor(
        F.col("common").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("common"))
        * F.lit(1000000.0)
    ).cast("long")
    return (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")), "doc_b")
        .select("doc_a", "doc_b", "common", "size_a", "size_b", jac_micro.alias("jac_micro"))
        .filter(F.col("jac_micro") >= int(threshold * 1_000_000))
    )


SUBSTR_RUN_TOKENS = 20  # sliding-run width (tokens); see exact_substring_spans
MAX_RUN_DF = 64  # hot-gram occurrence cutoff for the span inverted index


def positional_gram_rows(df: DataFrame) -> DataFrame:
    """POSITIONAL word n-grams ``(id, pos, g)`` — unlike :func:`ngram_rows`
    these are NOT distinct and carry the 1-based token offset, because
    exact-substring dedup needs every occurrence at its position so adjacent
    matches can merge into maximal spans. Only complete windows are emitted
    (a doc shorter than ``SUBSTR_RUN_TOKENS`` tokens yields no rows — there
    is no run of that length to share). One explode, zero shuffles: the gram is a
    ``slice``+``concat_ws`` projection over the token array (plain array
    built-ins, not higher-order lambdas — stays codegen), avoiding the
    doc_id-window shuffle the lead() formulation would add."""
    toks = _spread(df.select(F.col("doc_id"), F.col("text")), "doc_id").select(
        F.col("doc_id"), word_tokens(F.col("text")).alias("tk")
    )
    n_grams = F.size("tk") - (SUBSTR_RUN_TOKENS - 1)
    return (
        toks.filter(F.size("tk") >= SUBSTR_RUN_TOKENS)
        .select(
            F.col("doc_id"),
            F.col("tk"),
            F.explode(F.sequence(F.lit(1), n_grams)).alias("pos"),
        )
        .select(
            F.col("doc_id"),
            F.col("pos").cast("long").alias("pos"),
            F.concat_ws(
                " ", F.slice(F.col("tk"), F.col("pos").cast("int"), SUBSTR_RUN_TOKENS)
            ).alias("g"),
        )
    )


def exact_substring_spans(df: DataFrame, delta_min_id: int | None = None) -> DataFrame:
    """Exact-substring dedup (the suffix-array family, relationally): maximal
    shared token runs of >= ``SUBSTR_RUN_TOKENS`` tokens per doc pair — the standard
    complement to document-level MinHash (near-identical docs are caught by
    LSH; long verbatim passages inside otherwise-different docs are caught
    here, the shape suffix-array dedup targets on web corpora).

    Relational formulation instead of a distributed suffix array: sliding
    positional n-grams -> hot-gram cutoff (grams occurring > ``MAX_RUN_DF``
    times are boilerplate — dropped before the self-join, killing the
    quadratic hot-key blowup exactly like :func:`ngram_jaccard_pairs`) ->
    inverted-index equi-join on the gram (shuffle keyed on gram text — never
    doc×doc) -> diagonal islands: matches at offset delta ``pa-pb`` with
    consecutive ``pa`` belong to one maximal run, grouped by the classic
    ``pos - row_number()`` gaps-and-islands key. Returns one row per maximal
    span: ``(doc_a, doc_b, a_start, b_start, run_tokens)`` with
    ``run_tokens = n_grams_in_run + SUBSTR_RUN_TOKENS - 1``.

    ``SUBSTR_RUN_TOKENS`` = 20 here (fixture docs are 10-100 tokens);
    production web-corpus runs use ~50-token windows — the plan is
    width-independent.

    ``delta_min_id`` is the INCREMENTAL arm: only pairs whose doc_b (the
    later document) has id >= the threshold are produced — the per-batch
    shape where new arrivals are checked against the existing corpus
    (and each other) WITHOUT re-pairing the corpus with itself. The
    b-side inverted-index rows shrink to the delta before the join, so
    per-batch collision work is O(delta grams + collisions); the a-side
    gram table is what production PERSISTS between batches (the
    ``minhash_lsh_pairs_between`` deployment note, applied to the
    suffix-array family). df cutoffs stay computed over the UNION
    universe, so the produced spans are EXACTLY the full run's spans
    filtered to doc_b >= threshold — no drift between the batch and
    incremental answers.
    """
    g = positional_gram_rows(df)
    rare = g.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= MAX_RUN_DF
    )
    kept = g.join(rare.select("g"), "g")
    a = kept.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), F.col("g").alias("ga")
    )
    b_src = (
        kept.filter(F.col("doc_id") >= delta_min_id)
        if delta_min_id is not None
        else kept
    )
    b = b_src.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), F.col("g").alias("gb")
    )
    m = a.join(
        b, (F.col("ga") == F.col("gb")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    isl = m.withColumn("grp", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            "doc_a",
            "doc_b",
            "a_start",
            "b_start",
            (F.col("n_grams") + F.lit(SUBSTR_RUN_TOKENS - 1)).alias("run_tokens"),
        )
    )


def substring_removal(df: DataFrame) -> DataFrame:
    """The transformation the suffix-array dedup family actually ships:
    remove every duplicated >= ``SUBSTR_RUN_TOKENS``-token span from the LATER document
    (higher id) in one pass, keeping the first occurrence intact — per-doc
    audit columns (token counts before/after, spans hit) plus the md5 of
    the cleaned token stream so the rewrite itself is oracle-checkable.

    Plan: :func:`exact_substring_spans` -> explode each span into its
    covered positions on the ``doc_b`` side (cost O(duplicated tokens),
    overlap-safe via distinct) -> anti-join against the positional token
    rows -> re-assemble the survivors in position order. Single-pass policy
    (no cascade): a doc's spans are computed against the ORIGINAL corpus,
    matching the oracle exactly; production reruns the pass to fixpoint if
    desired. All joins are keyed on (doc_id, pos) — never doc x doc."""
    spans = exact_substring_spans(df)
    # r13 (guide §5): the span table feeds TWO consumers below (covered
    # positions and the per-doc span count) — without the checkpoint the
    # whole gram/self-join/island pipeline executes twice per run. Spans
    # are maximal-run PAIR rows (collision-bounded by the df cutoff), so
    # the materialization is tiny; streaming inputs never reach this
    # operator (positional grams explode is batch-only).
    if not spans.isStreaming:
        spans = spans.localCheckpoint(eager=False)
    covered = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(
            F.sequence(F.col("b_start"), F.col("b_start") + F.col("run_tokens") - 1)
        ).alias("pos"),
    ).distinct()
    toks = _spread(df.select(F.col("doc_id"), F.col("text")), "doc_id").select(
        F.col("doc_id"),
        F.posexplode(word_tokens(F.col("text"))).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    survivors = toks.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = survivors.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_after"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("cleaned_hash"),
    )
    n_spans = spans.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    base = df.select(
        F.col("doc_id"),
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_tokens_before"),
    )
    empty_hash = F.md5(F.lit(""))
    return (
        base.join(cleaned, "doc_id", "left")
        .join(n_spans, "doc_id", "left")
        .select(
            F.col("doc_id"),
            "n_tokens_before",
            F.coalesce(F.col("n_tokens_after"), F.lit(0)).cast("long").alias(
                "n_tokens_after"
            ),
            (
                F.col("n_tokens_before")
                - F.coalesce(F.col("n_tokens_after"), F.lit(0))
            ).cast("long").alias("n_tokens_removed"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("cleaned_hash"), empty_hash).alias("cleaned_hash"),
        )
    )


def minhash_lsh_pairs_between(
    delta_sh: DataFrame,
    corpus_sh: DataFrame,
    broadcast_max_rows: int | None = hints.BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup discovery — the production
    dedup shape: a new ingest batch is checked against the existing corpus
    WITHOUT re-pairing the corpus with itself. Both inputs are shingle rows
    (``ngram_rows`` output). The delta's band table is normally tiny and
    broadcasts — but only after the size gate proves it
    (``hints.broadcast_if_small``; an oversized ingest batch degrades to a
    shuffle join instead of OOMing executors). The corpus side never
    shuffles more than its band rows, and corpus×corpus pairs are never
    enumerated — per-batch cost is O(delta bands + collisions), independent
    of corpus pair count. Returns
    ``(new_id, corpus_id, common, size_new, size_corpus, jac_micro)`` at
    ``jac_micro >= 500_000``.

    At 100 TB the corpus band table is the thing you PERSIST between
    batches (bucketed by band_key); each ingest batch then runs this join
    against it unchanged.
    """
    ds = delta_sh.withColumnRenamed("g", "s")
    cs = corpus_sh.withColumnRenamed("g", "s")
    db = minhash_bands(minhash_signatures(ds)).select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_key"
    )
    cb = minhash_bands(minhash_signatures(cs)).select(
        F.col("doc_id").alias("corpus_id"), "band_idx", "band_key"
    )
    # Two-stage gate evidence (band rows = NUM_BANDS × delta docs):
    # 1. cheap: an early-exit LIMIT probe of raw shingle rows — docs ≤
    #    rows, so a small row count already proves the bound, with no
    #    aggregate and no md5s;
    # 2. precise: only when stage 1 is inconclusive (rows ≫ docs for
    #    normal documents), one distinct-doc count over the (typically
    #    cached) shingle rows — still far cheaper than running the minhash
    #    pipeline twice, and it keeps moderate batches on the broadcast
    #    fast path instead of degrading them ~shingles-per-doc too early.
    if broadcast_max_rows is not None:
        cap = broadcast_max_rows // NUM_BANDS
        n_sh = ds.limit(cap + 1).count()
        if n_sh <= cap:
            bound = n_sh * NUM_BANDS  # rows ≥ docs ⇒ bound ≥ band rows
        else:
            bound = ds.select("doc_id").distinct().count() * NUM_BANDS
    else:
        bound = None
    cand = (
        hints.broadcast_if_small(db, broadcast_max_rows, upper_bound=bound)
        .join(cb, ["band_idx", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    size_d = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("size_new"))
    size_c = cs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("size_corpus"))
    da = ds.select(F.col("doc_id").alias("new_id"), F.col("s").alias("s_a"))
    ca = cs.select(F.col("doc_id").alias("corpus_id2"), F.col("s").alias("s_b"))
    common = (
        cand.join(da, "new_id")
        .join(
            ca,
            (F.col("s_a") == F.col("s_b"))
            & (F.col("corpus_id2") == F.col("corpus_id")),
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac_micro = F.floor(
        F.col("common").cast("double")
        / (F.col("size_new") + F.col("size_corpus") - F.col("common"))
        * F.lit(1000000.0)
    ).cast("long")
    return (
        common.join(
            size_d.select(F.col("doc_id").alias("new_id"), "size_new"), "new_id"
        )
        .join(
            size_c.select(F.col("doc_id").alias("corpus_id"), "size_corpus"),
            "corpus_id",
        )
        .select(
            "new_id", "corpus_id", "common", "size_new", "size_corpus",
            jac_micro.alias("jac_micro"),
        )
        .filter(F.col("jac_micro") >= 500_000)
    )
