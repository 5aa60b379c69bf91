"""load_table must read `events` on sessions that lack the legacy-nanos conf.

The driver's harness builds a vanilla SparkSession (no session.py factory).
Fixture generations have shipped `events.ts` both as INT64 TIMESTAMP(NANOS)
(which throws PARQUET_TYPE_ILLEGAL on a vanilla session unless `load_table`
sets `spark.sql.legacy.parquet.nanosAsLong` itself and retries — the
self-heal path) and as TIMESTAMP(MICROS) (reads natively). The contract
pinned here is generation-independent: a vanilla session gets
`timestamp_ntz` microseconds either way, and reads keep working afterwards.

`load_table` also keeps each file's inferred schema, so a repeated read runs
no schema-inference job; a rewritten file or a changed nanos conf must still
be read as it is now.
"""

from __future__ import annotations

from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from postgres_cdc_example_spark.sources.tables import load_table

CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_run_by(spark, group, fn):
    """``(number of Spark jobs fn() runs, its result)``, counted through a
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    # the status tracker is fed by the listener bus, which runs behind
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def test_events_read_works_without_nanos_conf(spark, sf_dir):
    prev = spark.conf.get(CONF, None)
    spark.conf.unset(CONF)
    try:
        df = load_table(spark, "events", sf_dir)
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert df.count() > 0
        # nanos-generation fixtures only reach here via the self-heal retry,
        # which must leave the conf set so later reads in the same session
        # skip the failed first attempt
        ts_type = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)
        if ts_type == "timestamp[ns]":
            assert spark.conf.get(CONF) == "true"
        # either generation: a second read must also work
        assert load_table(spark, "events", sf_dir).count() > 0
    finally:
        if prev is not None:
            spark.conf.set(CONF, prev)


def test_events_ts_microsecond_truncation_matches_duckdb(spark, sf_dir):
    import duckdb

    got = {
        r.event_id: r.ts
        for r in load_table(spark, "events", sf_dir)
        .select("event_id", "ts")
        .orderBy("event_id")
        .limit(50)
        .collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM '{sf_dir}/events.parquet' "
            "ORDER BY event_id LIMIT 50"
        ).fetchall()
    )
    assert got == want


def test_second_read_of_a_file_runs_no_spark_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "t.parquet")
    first, a = _jobs_run_by(spark, "load-first", lambda: load_table(spark, "t", str(tmp_path)))
    second, b = _jobs_run_by(spark, "load-second", lambda: load_table(spark, "t", str(tmp_path)))
    assert first >= 1  # schema inference; shows the counter sees jobs
    assert second == 0
    # each read is a fresh relation: a self-join keeps both sides apart
    assert a.join(b, a["k"] == b["k"]).count() == 3


def test_rewritten_file_returns_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1]}), path)
    assert load_table(spark, "t", str(tmp_path)).columns == ["k"]
    pq.write_table(pa.table({"name": ["x"], "score": [2.5]}), path)
    df = load_table(spark, "t", str(tmp_path))
    assert df.columns == ["name", "score"]
    assert [tuple(r) for r in df.collect()] == [("x", 2.5)]


def test_schema_cached_under_nanos_conf_does_not_skip_self_heal(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), tmp_path / "events.parquet")
    assert str(pq.read_schema(tmp_path / "events.parquet").field("ts").type) == "timestamp[ns]"
    want = [(1, datetime(2023, 11, 14, 22, 13, 20, 123456))]
    prev = spark.conf.get(CONF, None)
    try:
        spark.conf.set(CONF, "true")
        df = load_table(spark, "events", str(tmp_path))
        assert [tuple(r) for r in df.collect()] == want
        spark.conf.unset(CONF)
        df = load_table(spark, "events", str(tmp_path))
        assert spark.conf.get(CONF) == "true"  # the retry ran and set the conf
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert [tuple(r) for r in df.collect()] == want
    finally:
        if prev is None:
            spark.conf.unset(CONF)
        else:
            spark.conf.set(CONF, prev)
