"""End-to-end CDC pipeline: snapshot backfill + streamed wal2json lines →
versioned state, with the publication row filter, dead-letter handling, and
restart/replay idempotence (the checkpoint is the replication slot)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from postgres_cdc_example_spark.operators.cdc_apply import apply_changes
from postgres_cdc_example_spark.sources.changelog import (
    decode_change_lines,
    flatten_person_changes,
    person_change_json,
    split_corrupt,
)
from postgres_cdc_example_spark.sources.generator import person_batch
from postgres_cdc_example_spark.streaming.monitor import sync_check
from postgres_cdc_example_spark.streaming.pipeline import CdcPipeline


def write_lines(path: str, name: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(path, name))  # atomic: file sources need it


def row(id_, name, score, created="2024-02-01 00:00:00"):
    return {"id": id_, "name": name, "uid": f"uid-{id_}", "score": score, "created_at": created}


def run_to_completion(pipeline):
    q = pipeline.start(available_now=True)
    q.awaitTermination(120)
    assert not q.isActive


def test_pipeline_end_to_end(spark, tmp_path):
    src = str(tmp_path / "changes")
    pipe = CdcPipeline(
        spark,
        source_dir=src,
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # snapshot: 5 seed rows (ids 1..5)
    pipe.backfill(person_batch(spark, 5, seed=3))
    assert pipe.state().count() == 5

    write_lines(src, "batch0.jsonl", [
        person_change_json(1, "I", row=row(10, "new_10", 40)),
        person_change_json(2, "U", row=row(1, "upd_1", 77), identity={"id": 1}),
        "NOT JSON",                                       # dead letter
        person_change_json(3, "D", identity={"id": 2}),   # delete seed row
        person_change_json(4, "I", table="audit", row=row(99, "other", 1)),
        # a key inserted, updated and deleted inside one batch leaves nothing
        person_change_json(5, "I", row=row(31, "c", 30)),
        person_change_json(6, "U", row=row(31, "c2", 31), identity={"id": 31}),
        person_change_json(7, "D", identity={"id": 31}),
    ])
    run_to_completion(pipe)

    state = {r["id"]: r for r in pipe.state().collect()}
    assert set(state) == {1, 3, 4, 5, 10}
    assert state[1]["name"] == "upd_1" and state[1]["score"] == 77
    assert state[10]["name"] == "new_10"
    assert pipe.dead_letter_count == 1

    # created_at preserved across the update (replicator/main.go:234-243)
    orig = {r["id"]: r["created_at"] for r in person_batch(spark, 5, seed=3).collect()}
    assert state[1]["created_at"] == orig[1]

    # second micro-batch continues from the checkpoint
    write_lines(src, "batch1.jsonl", [
        person_change_json(8, "U", row=row(10, "upd_10", 41), identity={"id": 10}),
        person_change_json(9, "D", identity={"id": 3}),
    ])
    run_to_completion(pipe)
    state = {r["id"]: r for r in pipe.state().collect()}
    assert set(state) == {1, 4, 5, 10}
    assert state[10]["name"] == "upd_10"


def test_pipeline_with_row_filter(spark, tmp_path):
    """pubsub mode: publication WHERE (score % 2 = 0) (pubsub/main.go:79)."""
    src = str(tmp_path / "changes")
    pipe = CdcPipeline(
        spark,
        source_dir=src,
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        predicate=F.col("score") % 2 == 0,
    )
    source_snapshot = person_batch(spark, 20, seed=5)
    pipe.backfill(source_snapshot)
    even_seed = source_snapshot.filter(F.col("score") % 2 == 0).count()
    assert pipe.state().count() == even_seed

    write_lines(src, "b0.jsonl", [
        person_change_json(1, "I", row=row(100, "even", 42)),
        person_change_json(2, "I", row=row(101, "odd", 43)),   # filtered out
        person_change_json(3, "D", identity={"id": 100}),      # deletes pass
        person_change_json(4, "I", row=row(102, "even2", 88)),
    ])
    run_to_completion(pipe)
    ids = {r["id"] for r in pipe.state().collect()}
    assert 101 not in ids and 100 not in ids and 102 in ids

    # the pubsub monitor invariant: target == σ(even)(source ⊕ net inserts)
    expected_source = source_snapshot.unionByName(
        spark.createDataFrame(
            [(102, "even2", "uid-102", 88, None)], pipe.state().schema
        )
    )
    verdict = sync_check(expected_source, pipe.state(), F.col("score") % 2 == 0).collect()[0]
    assert verdict["in_sync"] == 1 and verdict["status"] == "✓ In sync"


def test_pipeline_restart_is_idempotent(spark, tmp_path):
    """Kill + restart with the same checkpoint: no double-apply (T2).
    Strictly stronger than the reference's at-most-once slot consumption."""
    src = str(tmp_path / "changes")
    kwargs = dict(
        source_dir=src,
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pipe = CdcPipeline(spark, **kwargs)
    pipe.backfill(person_batch(spark, 3, seed=9))
    write_lines(src, "b0.jsonl", [person_change_json(1, "I", row=row(50, "x", 10))])
    run_to_completion(pipe)
    v1 = sorted(map(tuple, pipe.state().collect()))

    # new pipeline object, same checkpoint: nothing replays, state unchanged
    pipe2 = CdcPipeline(spark, **kwargs)
    run_to_completion(pipe2)
    assert sorted(map(tuple, pipe2.state().collect())) == v1

    # new data after restart is applied exactly once
    write_lines(src, "b1.jsonl", [person_change_json(2, "D", identity={"id": 50})])
    run_to_completion(pipe2)
    ids = {r["id"] for r in pipe2.state().collect()}
    assert 50 not in ids and len(ids) == 3


def test_replayed_batch_commit_is_noop(spark, tmp_path):
    """Crash between state commit and checkpoint ack → Spark replays the
    micro-batch. The store is already at v{batch_id+1}; the replay must be
    a guarded no-op. Without the guard the replay reads v{batch_id+1} and
    overwrites the same directory — Spark refuses and the pipeline wedges
    on every restart."""
    pipe = CdcPipeline(
        spark,
        source_dir=str(tmp_path / "changes"),
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pipe.backfill(person_batch(spark, 3, seed=7))
    batch = spark.createDataFrame(
        [(person_change_json(1, "I", row=row(40, "n", 4)),), ("NOT JSON",)],
        "value string",
    )
    pipe._apply_batch(batch, batch_id=0)
    v1 = sorted(map(tuple, pipe.state().collect()))
    assert pipe.store.latest_version() == 1
    pipe._apply_batch(batch, batch_id=0)  # the replay — must not raise
    assert pipe.store.latest_version() == 1
    assert sorted(map(tuple, pipe.state().collect())) == v1
    assert pipe.dead_letter_count == 1  # the replay counts nothing again


def test_filter_crossing_updates(spark, tmp_path):
    """Postgres row-filter semantics on UPDATEs that cross the filter
    boundary: new image leaves the filter → DELETE (no stale row); new
    image enters the filter → INSERT (row was absent, plain U would no-op).
    Violating either breaks target == σ(pred)(source)."""
    src = str(tmp_path / "changes")
    pipe = CdcPipeline(
        spark,
        source_dir=src,
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        predicate=F.col("score") % 2 == 0,
    )
    snapshot = spark.createDataFrame(
        [(1, "a", "uid-1", 10, None), (2, "b", "uid-2", 11, None)],
        pipe.state().schema,
    )
    pipe.backfill(snapshot)  # only id=1 (even) replicates
    assert {r["id"] for r in pipe.state().collect()} == {1}

    write_lines(src, "b0.jsonl", [
        # id=1: 10 → 11, leaves the filter → must be deleted from target
        person_change_json(1, "U", row=row(1, "a", 11), identity={"id": 1}),
        # id=2: 11 → 12, enters the filter → must be inserted into target
        person_change_json(2, "U", row=row(2, "b2", 12), identity={"id": 2}),
    ])
    run_to_completion(pipe)
    state = {r["id"]: r for r in pipe.state().collect()}
    assert set(state) == {2}
    assert state[2]["name"] == "b2" and state[2]["score"] == 12

    verdict = sync_check(
        spark.createDataFrame(
            [(1, "a", "uid-1", 11, None), (2, "b2", "uid-2", 12, None)],
            pipe.state().schema,
        ),
        pipe.state(),
        F.col("score") % 2 == 0,
    ).collect()[0]
    assert verdict["in_sync"] == 1


def test_progress_listener_records_batches(spark, tmp_path):
    """T6/A4: the ProgressListener is the pg_stat_subscription analog —
    per-micro-batch row counts and durations must be captured."""
    import time

    from postgres_cdc_example_spark.streaming.monitor import ProgressListener

    listener = ProgressListener()
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "changes")
        pipe = CdcPipeline(
            spark,
            source_dir=src,
            state_root=str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        pipe.backfill(person_batch(spark, 3, seed=1))
        write_lines(src, "b0.jsonl", [
            person_change_json(1, "I", row=row(20, "x", 8)),
            person_change_json(2, "I", row=row(21, "y", 9)),
        ])
        run_to_completion(pipe)
        for _ in range(75):  # listener callbacks are async
            if listener.progress:
                break
            time.sleep(0.2)
        # numInputRows counts every re-read of the micro-batch inside the
        # trigger (dead-letter count + apply), so assert a floor, not equality
        assert any(p["numInputRows"] >= 2 for p in listener.progress)
        assert all(p["durationMs"].get("triggerExecution", 0) > 0 for p in listener.progress)
    finally:
        spark.streams.removeListener(listener)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Change stream enriched against a static dimension (broadcast,
    stateless): every emitted row carries its dimension attributes; rows
    with no dimension match follow the join mode (inner drops them)."""
    from postgres_cdc_example_spark.sources.changelog import (
        decode_change_lines,
        flatten_person_changes,
        split_corrupt,
    )
    from postgres_cdc_example_spark.streaming.enrich import enrich_stream

    src = str(tmp_path / "changes")
    write_lines(src, "b0.jsonl", [
        person_change_json(1, "I", row=row(1, "a", 10)),
        person_change_json(2, "I", row=row(2, "b", 11)),
        person_change_json(3, "I", row=row(3, "c", 12)),
    ])
    dim = spark.createDataFrame(
        [(0, "even-tier"), (1, "odd-tier")], "parity int, tier string"
    )
    lines = spark.readStream.format("text").load(src)
    valid, _ = split_corrupt(decode_change_lines(lines))
    changes = flatten_person_changes(valid).withColumn(
        "parity", F.pmod(F.col("score"), F.lit(2)).cast("int")
    )
    enriched = enrich_stream(changes, dim, "parity")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r.id: r.tier for r in spark.sql("SELECT * FROM enriched_sink").collect()}
    assert out == {1: "even-tier", 2: "odd-tier", 3: "even-tier"}


def test_multi_table_stream_routes_to_separate_stores(spark, tmp_path):
    """One change stream carrying two tables → two independently-applied
    state stores in a single pass (the decode is shared; each table's
    filter+flatten+apply runs off the same micro-batch)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from postgres_cdc_example_spark.operators.cdc_apply import apply_changes
    from postgres_cdc_example_spark.sources.changelog import (
        decode_change_lines,
        person_change_json,
        route_changes,
        split_corrupt,
    )
    from postgres_cdc_example_spark.streaming.state import VersionedStateStore

    src = str(tmp_path / "changes")
    person_schema = StructType([
        StructField("id", LongType(), True),
        StructField("name", StringType(), True),
        StructField("score", LongType(), True),
    ])
    audit_schema = StructType([
        StructField("id", LongType(), True),
        StructField("who", StringType(), True),
        StructField("what", StringType(), True),
    ])
    stores = {
        "person": VersionedStateStore(spark, str(tmp_path / "p"), person_schema),
        "audit": VersionedStateStore(spark, str(tmp_path / "a"), audit_schema),
    }
    tables = {
        "person": {"name": "string", "score": "long"},
        "audit": {"who": "string", "what": "string"},
    }

    def apply_batch(batch_df, batch_id):
        valid, _ = split_corrupt(decode_change_lines(batch_df))
        valid = valid.persist()  # shared decode: parse JSON once for all tables
        for t, changes in route_changes(valid, tables).items():
            st = stores[t].read()
            new = apply_changes(
                st, changes, key="id", seq="seq", action="action",
                value_cols=list(tables[t]), created_col=None,
            )
            stores[t].commit(new.select(*st.columns), version=batch_id + 1)
        valid.unpersist()

    write_lines(src, "b0.jsonl", [
        person_change_json(1, "I", row={"id": 1, "name": "a", "score": 5}),
        person_change_json(2, "I", table="audit", row={"id": 9, "who": "root", "what": "login"}),
        person_change_json(3, "U", row={"id": 1, "name": "a2", "score": 6}, identity={"id": 1}),
        person_change_json(4, "D", table="audit", identity={"id": 9}),
    ])
    q = (
        spark.readStream.format("text").load(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    person = {(r.id, r.name, r.score) for r in stores["person"].read().collect()}
    assert person == {(1, "a2", 6)}
    assert stores["audit"].read().count() == 0  # insert then delete


def test_bucketed_pipeline_matches_full_rewrite(spark, tmp_path):
    """The change stream fed in buckets of micro-batches (one committed state
    version per bucket) must produce the same state as one full rewrite of
    the snapshot by every change at once."""
    src = str(tmp_path / "changes")
    lines = [
        person_change_json(1, "I", row=row(30, "a", 10)),
        person_change_json(2, "U", row=row(1, "b", 20), identity={"id": 1}),
        person_change_json(3, "D", identity={"id": 2}),
        person_change_json(4, "I", row=row(31, "c", 30)),
        person_change_json(5, "U", row=row(31, "c2", 31), identity={"id": 31}),
        person_change_json(6, "D", identity={"id": 31}),
    ]
    pipe = CdcPipeline(
        spark,
        source_dir=src,
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    snapshot = person_batch(spark, 5, seed=3)
    pipe.backfill(snapshot)
    for i in range(0, len(lines), 2):
        write_lines(src, f"b{i}.jsonl", lines[i : i + 2])
        run_to_completion(pipe)
    assert pipe.store.latest_version() == 3
    bucketed = sorted(map(tuple, pipe.state().collect()))

    raw = spark.createDataFrame([(line,) for line in lines], "value string")
    valid, _ = split_corrupt(decode_change_lines(raw))
    full = apply_changes(snapshot, flatten_person_changes(valid))
    assert bucketed == sorted(map(tuple, full.select(*snapshot.columns).collect()))
    assert {r[0] for r in bucketed} == {1, 3, 4, 5, 30}
