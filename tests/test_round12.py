"""Round-12 fixes: planted-arm and member-consistency pins for the
round's analytics queries and CDC detectors (the curation-stream tests
live in test_curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_erasure_roundtrip_planted_lifecycle_and_detector_fires(
    spark, sf_dir, tmp_path
):
    """Planted CDC lifecycle for the erasure round-trip audit: key A ends
    in an OLD tombstone (past the span-proportional retention line ->
    must be purged everywhere), key B ends in a FRESH tombstone (inside
    retention -> stays), key C stays live. Assert exact per-store
    accounting and zero residuals in both engines; then prove the
    residual DETECTOR can fire by pointing it at the pre-purge history
    (the audit's semi-join re-scan finds key A's rows there), so a leaky
    purge cannot hide behind an always-zero column."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY
    from tests.oracle_utils import compare_to_oracle
    from tests.test_round11 import _events_df, _mini, _stage_single_parquet

    q.queries()
    # span 2024-01-01 .. 2024-04-10 (100 days) -> retention = span/100 = 1 day
    # ids are event_id % 120; signup->I, error->D, else U
    rows = [
        # key 1 (A): I, U, then terminal D on Jan 10 — dead ~91 days > 1 day
        (1, "2024-01-01 00:00:00", 1, "signup", 1.0, "{}"),
        (121, "2024-01-05 00:00:00", 1, "view", 2.0, "{}"),
        (241, "2024-01-10 00:00:00", 1, "error", 0.0, "{}"),
        # key 2 (B): I then terminal D 6 hours before the watermark (fresh)
        (2, "2024-01-02 00:00:00", 2, "signup", 1.0, "{}"),
        (122, "2024-04-09 18:00:00", 2, "error", 0.0, "{}"),
        # key 3 (C): live — I then U at the watermark
        (3, "2024-01-03 00:00:00", 3, "signup", 1.0, "{}"),
        (123, "2024-04-10 00:00:00", 3, "purchase", 9.0, "{}"),
    ]
    mini = _mini(sf_dir, tmp_path, "sf_erase")
    _stage_single_parquet(
        _events_df(spark, rows), tmp_path, mini, "events", "erase_st"
    )
    e = REGISTRY["cdc_erasure_roundtrip"]
    compare_to_oracle(spark, str(mini), e.fn, e.oracle)
    got = {r.store: r for r in e.fn(spark, str(mini)).collect()}
    # only key 1 is purgable; history loses its 3 rows, rollup its 1 row
    h = got["scd2_history"]
    assert (h.n_keys_purged, h.n_rows_purged, h.n_rows_before) == (1, 3, 7)
    assert h.n_rows_after == 4 and h.n_residual_rows == 0
    r = got["key_rollup"]
    assert (r.n_keys_purged, r.n_rows_purged) == (1, 1)
    assert r.n_rows_after == 2 and r.n_residual_rows == 0
    c = got["current_state"]
    # current state holds only the live key (B's fresh tombstone removed
    # it from compaction; A purged) — and never contained a purgable key
    assert c.n_rows_before == 1 and c.n_keys_purged == 0
    assert c.n_residual_rows == 0

    # detector-fires arm: the same semi-join re-scan applied to the
    # UNPURGED history must count key 1's rows — nonzero by construction
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from postgres_cdc_example_spark.queries.cdc import (
        TOMBSTONE_RETENTION_DIV,
        _changes,
    )

    ch = _changes(spark, str(mini))
    wkd = Window.partitionBy("id").orderBy(F.col("seq").desc())
    flag = ch.select(
        "id", "action", "created_at",
        F.row_number().over(wkd).alias("rn_desc"),
    )
    wm = ch.agg(
        F.max("created_at").alias("w"),
        F.expr(
            "CAST(timestampdiff(MICROSECOND, min(created_at),"
            f" max(created_at)) div {TOMBSTONE_RETENTION_DIV} AS BIGINT)"
        ).alias("ret_us"),
    )
    purg = (
        flag.filter((F.col("rn_desc") == 1) & (F.col("action") == "D"))
        .crossJoin(F.broadcast(wm))
        .filter(
            F.expr("timestampdiff(MICROSECOND, created_at, w) > ret_us")
        )
        .select("id")
    )
    leaked = ch.join(F.broadcast(purg), "id", "left_semi").count()
    assert leaked == 3  # the detector sees key 1's rows when not purged


def test_session_gap_curve_monotone_and_member_consistent(spark, sf_dir):
    """Structural pins for the gap-sensitivity curve: n_sessions is
    non-increasing in the threshold, the sessions(T) = n_users + breaks
    identity holds row-by-row, and — the member-consistency check — the
    curve's value at gap_s = 21600 equals the REGISTERED 6-hour
    ``event_sessionization`` operator's session count (same strict-``>``
    gap rule, so the one-pass curve must reproduce the full operator)."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY

    q.queries()
    rows = sorted(
        REGISTRY["event_session_gap_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r.gap_s,
    )
    assert [r.gap_s for r in rows] == [900, 1800, 3600, 21600, 86400, 259200]
    counts = [r.n_sessions for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r.n_sessions >= r.n_users
        assert r.avg_events_per_session_micro == (
            r.n_events * 1_000_000 // r.n_sessions
        )
    six_h = next(r for r in rows if r.gap_s == 21600)
    n_sessions_member = REGISTRY["event_sessionization"].fn(
        spark, sf_dir
    ).count()
    assert six_h.n_sessions == n_sessions_member


def test_probe_recall_curve_monotone_with_exact_arm(spark, sf_dir):
    """The probe curve must be monotone in both coordinates (more probes
    -> more candidates, never less recall) and its exhaustive arm
    (nprobe = 8 = k) is a built-in positive control: scanning every
    cluster IS brute force, so recall must be exactly 1.0."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY

    q.queries()
    rows = sorted(
        REGISTRY["ann_probe_recall_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == [1, 2, 4, 8]
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.recall_micro >= a.recall_micro
    assert rows[-1].recall_micro == 1_000_000
    assert all(r.n_truth == rows[0].n_truth for r in rows)


def test_pack_efficiency_invariants(spark, sf_dir):
    """Bin-packing arithmetic: LB <= FFD <= bucketed next-fit, slack
    accounting exact, and every strategy at or above the lower bound on
    the micro ratio."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.queries.extensions import FFD_CAP

    q.queries()
    rows = {
        r.strategy: r
        for r in REGISTRY["pack_efficiency_audit"].fn(spark, sf_dir).collect()
    }
    lb, ffd, nf = (
        rows["lower_bound"], rows["ffd"], rows["bucketed_nextfit"],
    )
    assert lb.n_bins <= ffd.n_bins <= nf.n_bins
    assert lb.packed_tokens == ffd.packed_tokens == nf.packed_tokens
    for r in rows.values():
        assert r.slack_tokens == r.n_bins * FFD_CAP - r.packed_tokens
        assert r.bins_vs_lb_micro >= 1_000_000
    assert lb.bins_vs_lb_micro == 1_000_000


def test_rank_agreement_bounds_and_member_consistency(spark, sf_dir):
    """tau in [-1, 1] on the micro grid, concordant+discordant never
    exceeds the pair count, and n_common equals the actual top-10
    intersection of the two REGISTERED member rankings."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY

    q.queries()
    got = {
        r.tok: r
        for r in REGISTRY["retrieval_rank_agreement"].fn(spark, sf_dir)
        .collect()
    }
    b = REGISTRY["bm25_doc_ranking"].fn(spark, sf_dir).collect()
    ql = REGISTRY["lm_dirichlet_ranking"].fn(spark, sf_dir).collect()
    bset: dict[str, set] = {}
    for r in b:
        bset.setdefault(r.tok, set()).add(r.doc_id)
    qset: dict[str, set] = {}
    for r in ql:
        qset.setdefault(r.tok, set()).add(r.doc_id)
    assert set(got) == set(bset)
    for tok, row in got.items():
        inter = len(bset[tok] & qset.get(tok, set()))
        assert row.n_common == inter
        assert row.overlap_micro == inter * 100_000
        if row.n_common >= 2:
            assert abs(row.tau_micro) <= 1_000_000
            assert (
                row.c_pairs + row.d_pairs
                <= row.n_common * (row.n_common - 1) // 2
            )


def test_lang_source_association_planted_arms(spark, sf_dir, tmp_path):
    """Two-arm control for the association measure: a perfectly ALIASED
    corpus (each source carries exactly one language) must measure
    V^2 ~= 1, a perfectly BALANCED corpus (every source carries every
    language in equal counts) must measure exactly 0 — both engines
    agreeing on both planted minis."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY
    from tests.oracle_utils import compare_to_oracle
    from tests.test_round11 import _mini, _stage_single_parquet

    q.queries()
    e = REGISTRY["lang_source_association"]
    langs = ["en", "de", "fr", "es"]
    for aliased, name in ((True, "sf_alias"), (False, "sf_balanced")):
        rows = []
        did = 0
        for si in range(4):
            for j in range(20):
                did += 1
                lang = langs[si] if aliased else langs[j % 4]
                rows.append((did, f"text {did}", lang, f"s{si}", 10))
        mini = _mini(sf_dir, tmp_path, name)
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        _stage_single_parquet(df, tmp_path, mini, "documents", name + "_st")
        compare_to_oracle(spark, str(mini), e.fn, e.oracle)
        row = e.fn(spark, str(mini)).first()
        if aliased:
            assert row.cramers_v2_micro >= 900_000, row
        else:
            assert row.cramers_v2_micro == 0 and row.chi2_total_micro == 0


def test_intrinsic_dim_excludes_duplicates_and_null_degenerate(
    spark, sf_dir, tmp_path
):
    """Planted arms for TwoNN: exact-duplicate vectors (d1 = 0) are
    EXCLUDED from the estimator exactly as the derivation requires, and
    a corpus where every mu = 1 (uniform angular grid: d2/d1 identical)
    reports an honest NULL-free positive id... while the fully
    degenerate two-point corpus reports NULL. Both engines agree on the
    planted minis."""
    import math

    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY
    from tests.oracle_utils import compare_to_oracle
    from tests.test_round11 import _mini, _stage_single_parquet

    q.queries()
    e = REGISTRY["embedding_intrinsic_dim"]

    def vec(theta):
        v = [0.0] * 64
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    # arc corpus with irregular spacing + one exact-duplicate pair
    thetas = [0.0, 0.013, 0.04, 0.09, 0.17, 0.30, 0.52, 0.81]
    rows = [(i, [float(x) for x in vec(t)], "a") for i, t in enumerate(thetas)]
    rows.append((len(rows), [float(x) for x in vec(0.0)], "a"))  # dup of 0
    mini = _mini(sf_dir, tmp_path, "sf_twonn")
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    _stage_single_parquet(df, tmp_path, mini, "embeddings", "twonn_st")
    compare_to_oracle(spark, str(mini), e.fn, e.oracle)
    row = e.fn(spark, str(mini)).first()
    assert row.n_vectors == 9
    # the two exact duplicates have d1 = 0 -> excluded
    assert row.n_used == 7
    assert row.id_micro is not None and row.id_micro > 0


def test_chi2_cramers_v_planted_arms_after_scale_fix(spark, sf_dir, tmp_path):
    """Two-arm control for the r12 chi-square scale fix (the parent
    recipe divided by N twice and dropped empty cells — the
    engine-mirrors-oracle bug class the r10 heatmap taught): a perfectly
    ALIASED priority->status corpus must measure Cramer's V^2 ~= 1 and a
    chi2 equal to N*min_dim on the micro grid; a perfectly BALANCED one
    must measure exactly 0. Both engines agree on both planted orders
    minis, and order_priority_chi2's total equals the cleared-form
    hand computation."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.queries import REGISTRY
    from tests.oracle_utils import compare_to_oracle
    from tests.test_round11 import _mini, _stage_single_parquet

    q.queries()
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    stats = ["O", "F", "P"]
    for aliased, name in ((True, "sf_chi_alias"), (False, "sf_chi_bal")):
        rows = []
        ok = 0
        for pi, pri in enumerate(pris):
            for j in range(30):
                ok += 1
                st = stats[pi] if aliased else stats[j % 3]
                rows.append(
                    (ok, ok % 7, st, 100.0, "2024-01-01 00:00:00", pri)
                )
        mini = _mini(sf_dir, tmp_path, name)
        df = spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate_s string,"
            " o_orderpriority string",
        ).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.col("o_orderdate_s").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
        _stage_single_parquet(df, tmp_path, mini, "orders", name + "_st")
        for qn in ("order_priority_chi2", "priority_status_cramers_v"):
            e = REGISTRY[qn]
            compare_to_oracle(spark, str(mini), e.fn, e.oracle)
        v = REGISTRY["priority_status_cramers_v"].fn(spark, str(mini)).first()
        chi = REGISTRY["order_priority_chi2"].fn(spark, str(mini)).first()
        if aliased:
            # perfect association: chi2 = N*min_dim = 90*2, V^2 = 1
            assert chi.chi2_total_micro == 90 * 2 * 1_000_000
            assert v.cramers_v2_micro == 1_000_000, v
            # the 3x3 grid must emit ALL 9 cells incl. the six zero ones
            n_rows = REGISTRY["order_priority_chi2"].fn(
                spark, str(mini)
            ).count()
            assert n_rows == 9
        else:
            assert chi.chi2_total_micro == 0
            assert v.cramers_v2_micro == 0, v


def test_contingency_chi2_cleared_form_within_floor_budget():
    """Hypothesis proof of the r12 chi-square contingency fix: for ANY
    table (zero cells included — the complete-grid part of the fix),
    the per-cell cleared form floor((obs*n - r*c)^2 * 1e6 / (n*r*c))
    summed over the COMPLETE r x c margins grid sits within |cells|
    micro-units BELOW the Fraction-exact chi2 * 1e6 and never above
    (each cell's floor discards < 1 micro-unit), and the derived
    Cramer's V^2 floor stays inside its propagated budget. The broken
    pre-r12 form (extra /n, observed-cells-only sum) violates this for
    any table with n > 1 or an empty cell."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(2, 5),
        st.integers(2, 5),
        st.data(),
    )
    def prove(nr, nc, data):
        counts = data.draw(
            st.lists(
                st.integers(0, 1000), min_size=nr * nc, max_size=nr * nc
            )
        )
        grid = {
            (i, j): counts[i * nc + j] for i in range(nr) for j in range(nc)
        }
        # mirror the query: rows/cols with zero margin do not exist in
        # the data, so they are absent from the margins and the grid
        rmarg = {i: sum(grid[(i, j)] for j in range(nc)) for i in range(nr)}
        cmarg = {j: sum(grid[(i, j)] for i in range(nr)) for j in range(nc)}
        rows = [i for i, v in rmarg.items() if v > 0]
        cols = [j for j, v in cmarg.items() if v > 0]
        n = sum(rmarg.values())
        if n == 0 or len(rows) < 2 or len(cols) < 2:
            return
        cleared = 0
        exact = Fraction(0)
        for i in rows:
            for j in cols:
                o, r, c = grid[(i, j)], rmarg[i], cmarg[j]
                cleared += (o * n - r * c) ** 2 * 1_000_000 // (n * r * c)
                e = Fraction(r * c, n)
                exact += (Fraction(o) - e) ** 2 / e
        exact_micro = exact * 1_000_000
        n_cells = len(rows) * len(cols)
        assert cleared <= exact_micro.__floor__()
        assert exact_micro - cleared <= n_cells
        # Cramer's V^2 floor budget
        min_dim = min(len(rows) - 1, len(cols) - 1)
        v2 = cleared // (n * min_dim)
        assert v2 <= (exact_micro / (n * min_dim)).__floor__()
        assert v2 >= ((exact_micro - n_cells) / (n * min_dim)).__floor__()

    prove()


def test_apply_idempotence_planted_lifecycle_and_detector_fires(
    spark, sf_dir, tmp_path
):
    """Planted I/U/D lifecycle for the idempotence audit (insert-new,
    update-existing, delete-existing, insert-after-delete) — assert the
    once-applied state is exactly right, both engines agree, and the
    symmetric-diff DETECTOR fires when fed the classic non-idempotence
    bug (created_at re-stamped on a replayed insert)."""
    import postgres_cdc_example_spark.queries as q
    from postgres_cdc_example_spark.operators.cdc_apply import apply_changes
    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.queries.cdc import _changes, _state
    from tests.oracle_utils import compare_to_oracle
    from tests.test_round11 import _events_df, _mini, _stage_single_parquet

    q.queries()
    # ids are event_id % 120; signup->I, error->D, else U
    rows = [
        (130, "2024-01-01 00:00:00", 1, "signup", 5.0, "{}"),   # id 10: I (new)
        (250, "2024-01-02 00:00:00", 1, "view", 7.0, "{}"),     # id 10: U
        (11, "2024-01-03 00:00:00", 1, "view", 3.0, "{}"),      # id 11: U (existing state id 11)
        (12, "2024-01-04 00:00:00", 1, "error", 0.0, "{}"),     # id 12: D (existing)
        (13, "2024-01-05 00:00:00", 1, "error", 0.0, "{}"),     # id 13: D then...
        (133, "2024-01-06 00:00:00", 1, "signup", 9.0, "{}"),   # id 13: I after D
    ]
    mini = _mini(sf_dir, tmp_path, "sf_idem")
    _stage_single_parquet(
        _events_df(spark, rows), tmp_path, mini, "events", "idem_st"
    )
    e = REGISTRY["cdc_apply_idempotence"]
    compare_to_oracle(spark, str(mini), e.fn, e.oracle)
    got = e.fn(spark, str(mini)).first()
    # state ids 0..99 (all planted ids pre-exist): id 10's I is an
    # upsert, id 11 updates, id 12 deletes (-1), id 13 delete+recreate
    assert got.n_state == 100 and got.n_changes == 6
    assert got.n_once == got.n_twice == 99
    assert got.n_diff_rows == 0

    # detector-fires arm: re-stamp one replayed insert's created_at
    st, ch = _state(spark, str(mini)), _changes(spark, str(mini))
    kw = dict(value_cols=["status", "amount"], created_col="created_at")
    once = apply_changes(st, ch, **kw).select(
        "id", "status", "amount", "created_at"
    )
    bad = once.withColumn(
        "created_at",
        F.when(F.col("id") == 10,
               F.expr("created_at + INTERVAL 1 DAY")).otherwise(
            F.col("created_at")
        ),
    )
    n_diff = once.exceptAll(bad).count() + bad.exceptAll(once).count()
    assert n_diff == 2  # the detector sees the re-stamped row both ways
