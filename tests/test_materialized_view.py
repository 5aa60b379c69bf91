"""Streaming materialized aggregate view: the maintained (name, n_rows,
sum_cents) aggregate must equal a from-scratch recompute over the state
table after every drain, across restarts (checkpoint continuation) and
group churn (names appearing and draining to zero)."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgres_cdc_example_spark.operators.incremental import agg_snapshot
from postgres_cdc_example_spark.sources.changelog import person_change_json
from postgres_cdc_example_spark.streaming.materialized_view import StreamingAggView
from tests.test_streaming_pipeline import row, write_lines


def _drain(view: StreamingAggView) -> None:
    q = view.start(available_now=True)
    q.awaitTermination(120)
    assert not q.isActive


def _assert_view_matches_recompute(view: StreamingAggView) -> None:
    expect = {
        (r.name, r.n_rows, r.sum_cents)
        for r in agg_snapshot(
            view.state(), "name", F.col("score").cast("long")
        ).collect()
    }
    got = {(r.name, r.n_rows, r.sum_cents) for r in view.view().collect()}
    assert got == expect


def test_streaming_agg_view_tracks_state(spark, tmp_path):
    src = str(tmp_path / "changes")
    view = StreamingAggView(
        spark,
        source_dir=src,
        store_root=str(tmp_path / "mv"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    write_lines(src, "b0.jsonl", [
        person_change_json(1, "I", row=row(1, "alice", 10)),
        person_change_json(2, "I", row=row(2, "alice", 20)),
        person_change_json(3, "I", row=row(3, "bob", 5)),
        "NOT JSON",  # dead letter: counted, and leaves both stores alone
    ])
    _drain(view)
    assert view.dead_letter_count == 1
    _assert_view_matches_recompute(view)
    agg = {r.name: (r.n_rows, r.sum_cents) for r in view.view().collect()}
    assert agg == {"alice": (2, 30), "bob": (1, 5)}

    # update moves a row BETWEEN groups; delete drains bob to zero
    write_lines(src, "b1.jsonl", [
        person_change_json(4, "U", row=row(2, "carol", 21), identity={"id": 2}),
        person_change_json(5, "D", identity={"id": 3}),
    ])
    _drain(view)
    _assert_view_matches_recompute(view)
    agg = {r.name: (r.n_rows, r.sum_cents) for r in view.view().collect()}
    assert agg == {"alice": (1, 10), "carol": (1, 21)}
    assert "bob" not in agg  # drained groups disappear, like a recompute

    # restart: a NEW instance over the same checkpoint continues correctly
    view2 = StreamingAggView(
        spark,
        source_dir=src,
        store_root=str(tmp_path / "mv"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    write_lines(src, "b2.jsonl", [
        person_change_json(6, "I", row=row(3, "bob", 50)),
        person_change_json(7, "U", row=row(1, "alice", 11), identity={"id": 1}),
    ])
    _drain(view2)
    _assert_view_matches_recompute(view2)
    agg = {r.name: (r.n_rows, r.sum_cents) for r in view2.view().collect()}
    assert agg == {"alice": (1, 11), "carol": (1, 21), "bob": (1, 50)}


def test_agg_commit_precedes_state_commit(spark, tmp_path):
    """The documented crash-ordering invariant: after any drain the agg
    store version is never BEHIND the state store version."""
    src = str(tmp_path / "changes")
    view = StreamingAggView(
        spark,
        source_dir=src,
        store_root=str(tmp_path / "mv"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    write_lines(src, "b0.jsonl", [
        person_change_json(1, "I", row=row(1, "alice", 10)),
    ])
    _drain(view)
    assert (view.agg_store.latest_version() or 0) >= (
        view.store.latest_version() or 0
    )


def test_replayed_view_batch_is_noop(spark, tmp_path):
    """Replay guard (same contract as CdcPipeline): re-running an
    already-committed micro-batch must not raise or change either store."""
    view = StreamingAggView(
        spark,
        source_dir=str(tmp_path / "changes"),
        store_root=str(tmp_path / "mv"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = spark.createDataFrame(
        [(person_change_json(1, "I", row=row(1, "alice", 10)),)], "value string"
    )
    view._apply_batch(batch, batch_id=0)
    agg1 = sorted(map(tuple, view.view().collect()))
    st1 = sorted(map(tuple, view.state().collect()))
    view._apply_batch(batch, batch_id=0)  # replay — must be a no-op
    assert sorted(map(tuple, view.view().collect())) == agg1
    assert sorted(map(tuple, view.state().collect())) == st1
    _assert_view_matches_recompute(view)


def test_view_reads_each_batch_once(spark, tmp_path):
    """The aggregate reads the batch back from the state's change directory,
    so summed numInputRows equals the lines written (3× at the parent)."""
    import time

    from postgres_cdc_example_spark.streaming.monitor import ProgressListener

    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "changes")
        view = StreamingAggView(
            spark,
            source_dir=src,
            store_root=str(tmp_path / "mv"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        write_lines(src, "b0.jsonl", [
            person_change_json(1, "I", row=row(1, "alice", 10)),
            person_change_json(2, "I", row=row(2, "bob", 20)),
            person_change_json(3, "U", row=row(1, "bob", 11), identity={"id": 1}),
            "NOT JSON",
        ])
        _drain(view)
        for _ in range(75):  # listener callbacks are async
            if sum(p["numInputRows"] for p in listener.progress) >= 4:
                break
            time.sleep(0.2)
        time.sleep(0.5)  # a late callback would push the sum past 4
        assert sum(p["numInputRows"] for p in listener.progress) == 4
        assert view.dead_letter_count == 1
        _assert_view_matches_recompute(view)
    finally:
        spark.streams.removeListener(listener)
