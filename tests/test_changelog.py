"""Change-event decode: malformed lines → dead letter (not crashes), other
tables filtered early, column pivots typed correctly."""

from __future__ import annotations

import datetime

from postgres_cdc_example_spark.sources.changelog import (
    decode_change_lines,
    flatten_person_changes,
    person_change_json,
    split_corrupt,
)


def make_lines(spark):
    lines = [
        person_change_json(1, "I", row={"id": 1, "name": "alice_1", "uid": "u1", "score": 10, "created_at": "2024-01-01 00:00:00"}),
        person_change_json(2, "U", row={"id": 1, "name": "alice_1b", "uid": "u1", "score": 12}, identity={"id": 1}),
        "{this is not json",  # malformed — reference logs & skips
        person_change_json(3, "D", identity={"id": 1}),
        person_change_json(4, "I", table="other_table", row={"id": 9, "name": "x", "uid": "u9", "score": 1}),
        "",  # blank line
    ]
    return spark.createDataFrame([(l,) for l in lines], "value string")


def test_split_corrupt_and_table_filter(spark):
    decoded = decode_change_lines(make_lines(spark))
    valid, dead = split_corrupt(decoded)
    assert valid.count() == 4
    assert dead.count() == 2  # malformed + blank
    flat = flatten_person_changes(valid)
    assert flat.count() == 3  # other_table dropped

    rows = {r["seq"]: r for r in flat.collect()}
    assert rows[1]["action"] == "I"
    assert rows[1]["id"] == 1 and isinstance(rows[1]["id"], int)
    assert rows[1]["score"] == 10
    assert rows[1]["created_at"] == datetime.datetime(2024, 1, 1)
    # delete: key recovered from identity, image columns null
    assert rows[3]["action"] == "D" and rows[3]["id"] == 1 and rows[3]["name"] is None


def test_decode_is_schema_declared_not_inferred(spark):
    # a line with extra unknown fields parses fine; unknown fields dropped
    import json

    extra = json.dumps({"seq": 9, "action": "I", "table": "person", "bogus": 1,
                        "columns": [{"name": "id", "type": "integer", "value": "7"}]})
    df = spark.createDataFrame([(extra,)], "value string")
    valid, dead = split_corrupt(decode_change_lines(df))
    assert valid.count() == 1 and dead.count() == 0
    assert flatten_person_changes(valid).collect()[0]["id"] == 7


def test_route_changes_multi_table_isolation(spark):
    """One stream carrying two tables' events routes each to its own typed
    change log: no cross-contamination, per-table schemas, shared decode."""
    from postgres_cdc_example_spark.sources.changelog import (
        decode_change_lines,
        person_change_json,
        route_changes,
    )

    lines = [
        person_change_json(1, "I", row={"id": 1, "name": "a", "uid": "u1", "score": 10,
                                        "created_at": "2024-02-01 00:00:00"}),
        person_change_json(2, "I", table="audit",
                           row={"id": 7, "who": "root", "what": "login"}),
        person_change_json(3, "D", identity={"id": 1}),
        person_change_json(4, "U", table="audit",
                           row={"id": 7, "who": "root", "what": "logout"},
                           identity={"id": 7}),
        person_change_json(5, "I", table="unreplicated", row={"id": 9}),
    ]
    decoded = decode_change_lines(
        spark.createDataFrame([(l,) for l in lines], "value string")
    )
    routed = route_changes(
        decoded,
        {
            "person": {"name": "string", "score": "int"},
            "audit": {"who": "string", "what": "string"},
        },
    )
    person = routed["person"].collect()
    audit = routed["audit"].collect()
    assert [(r.seq, r.action, r.id) for r in person] == [(1, "I", 1), (3, "D", 1)]
    assert [(r.seq, r.action, r.id, r.who, r.what) for r in audit] == [
        (2, "I", 7, "root", "login"),
        (4, "U", 7, "root", "logout"),
    ]
    assert set(routed) == {"person", "audit"}  # unreplicated table ignored
    assert person[0].score == 10 and isinstance(person[0].score, int)


def test_schema_drift_flags_unknown_and_missing_but_flatten_survives(spark):
    """An upstream ALTER TABLE must be OBSERVABLE (drift audit rows) while
    the declared projection keeps working: unknown wire columns are
    ignored, absent declared columns arrive NULL — never a crash, never a
    silent type flip."""
    from postgres_cdc_example_spark.sources.changelog import (
        PERSON_COLUMNS,
        schema_drift_audit,
    )

    lines = [
        # clean event
        person_change_json(1, "I", row={"id": 1, "name": "a", "uid": "u", "score": 5, "created_at": "2024-01-01 00:00:00"}),
        # drifted: extra undeclared column
        person_change_json(2, "U", row={"id": 1, "name": "b", "uid": "u", "score": 6, "created_at": "2024-01-01 00:00:00", "email": "x@y"}),
        # drifted: declared 'score' missing from the wire
        person_change_json(3, "U", row={"id": 1, "name": "c", "uid": "u", "created_at": "2024-01-01 00:00:00"}),
        # D events carry only identity — never counted as drift
        person_change_json(4, "D", identity={"id": 1}),
    ]
    decoded = decode_change_lines(
        spark.createDataFrame([(l,) for l in lines], "value string")
    )
    drift = {
        (r.unknown_cols, r.missing_cols): (r.n_events, r.first_seq, r.last_seq)
        for r in schema_drift_audit(decoded, ["id", *PERSON_COLUMNS.keys()]).collect()
    }
    assert drift == {("email", ""): (1, 2, 2), ("", "score"): (1, 3, 3)}

    flat = {r.seq: r for r in flatten_person_changes(decoded).collect()}
    assert flat[2].name == "b"  # unknown column ignored, declared ones intact
    assert flat[3].score is None  # missing declared column arrives NULL
    assert flat[3].name == "c"


def test_schema_drift_audit_streaming_matches_batch(spark, sf_dir, tmp_path):
    """decode_change_lines + schema_drift_audit run identically on a
    stream: the complete-mode streaming audit over the drifted wire lines
    must equal the batch audit row-for-row (same from_json path, same set
    diff — the drift detector deploys on the live CDC feed unchanged)."""
    from postgres_cdc_example_spark.queries.cdc import _drifted_wire_lines
    from postgres_cdc_example_spark.sources.changelog import (
        PERSON_COLUMNS,
        schema_drift_audit,
    )

    declared = ["id", *PERSON_COLUMNS.keys()]
    lines = _drifted_wire_lines(spark, sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    lines.coalesce(2).write.text(src)

    stream = spark.readStream.schema("value string").text(src)
    final: list = []

    def keep_last(bdf, _bid):
        final.clear()
        final.extend(bdf.collect())

    q = (
        schema_drift_audit(decode_change_lines(stream), declared)
        .writeStream.foreachBatch(keep_last)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = sorted(
        tuple(r)
        for r in schema_drift_audit(decode_change_lines(lines), declared).collect()
    )
    assert sorted(tuple(r) for r in final) == want
    assert want, "fixture must produce drift signatures"
