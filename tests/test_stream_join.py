"""Watermarked stream-stream interval join: every error event picks up the
same user's clicks from the preceding interval, across micro-batches, with
both sides' state bounded by the watermark."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from postgres_cdc_example_spark.streaming.join import interval_join
from tests.test_streaming_pipeline import write_lines


def _stream(spark, path, ts_col):
    lines = spark.readStream.format("text").load(path)
    parsed = lines.select(
        F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("value", f"$.{ts_col}").cast("timestamp").alias(ts_col),
        F.get_json_object("value", "$.tag").alias(ts_col + "_tag"),
    )
    return parsed


def _ev(user_id, ts, tag):
    return json.dumps({"user_id": user_id, "ts": ts, "tag": tag})


def test_interval_join_matches_preceding_clicks(spark, tmp_path):
    clicks_dir = str(tmp_path / "clicks")
    errors_dir = str(tmp_path / "errors")
    write_lines(clicks_dir, "c0.jsonl", [
        json.dumps({"user_id": 1, "click_ts": "2024-01-01 00:01:00", "tag": "c1"}),
        json.dumps({"user_id": 1, "click_ts": "2024-01-01 00:08:30", "tag": "c2"}),
        json.dumps({"user_id": 1, "click_ts": "2024-01-01 00:20:00", "tag": "c3"}),
        json.dumps({"user_id": 2, "click_ts": "2024-01-01 00:09:00", "tag": "c4"}),
        # 30 s AFTER e1 — inside a symmetric ±10 min window but NOT in the
        # implemented (right_ts - max_delay, right_ts] interval: pins the
        # join's direction (left events lead UP TO each right event).
        json.dumps({"user_id": 1, "click_ts": "2024-01-01 00:10:30", "tag": "c5"}),
    ])
    write_lines(errors_dir, "e0.jsonl", [
        json.dumps({"user_id": 1, "error_ts": "2024-01-01 00:10:00", "tag": "e1"}),
        json.dumps({"user_id": 2, "error_ts": "2024-01-01 00:25:00", "tag": "e2"}),
    ])

    joined = interval_join(
        _stream(spark, clicks_dir, "click_ts"), _stream(spark, errors_dir, "error_ts")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sj_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.error_ts_tag, r.click_ts_tag)
        for r in spark.sql("SELECT * FROM sj_sink").collect()
    }
    # e1 @00:10 matches user-1 clicks in (00:00, 00:10]: c1, c2 — not c3
    # @00:20, and not c5 @00:10:30 (asymmetry: after-the-error never matches)
    # e2 @00:25 matches user-2 clicks in (00:15, 00:25]: none (c4 @00:09 too old)
    assert got == {(1, "e1", "c1"), (1, "e1", "c2")}


def test_interval_join_is_stateful_across_batches(spark, tmp_path):
    """Clicks arrive in an earlier micro-batch than the error that matches
    them — the join must hold click state until the watermark expires it."""
    clicks_dir = str(tmp_path / "clicks")
    errors_dir = str(tmp_path / "errors")
    os.makedirs(errors_dir, exist_ok=True)
    write_lines(clicks_dir, "c0.jsonl", [
        json.dumps({"user_id": 7, "click_ts": "2024-01-01 00:05:00", "tag": "c1"}),
    ])
    write_lines(errors_dir, "e_empty.jsonl", [])

    joined = interval_join(
        _stream(spark, clicks_dir, "click_ts"), _stream(spark, errors_dir, "error_ts")
    )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # batch 1: click only, no matches yet
    assert spark.read.parquet(out).count() == 0

    write_lines(errors_dir, "e1.jsonl", [
        json.dumps({"user_id": 7, "error_ts": "2024-01-01 00:12:00", "tag": "e1"}),
    ])
    drain()  # batch 2: error arrives, matches the retained click state
    got = {
        (r.user_id, r.error_ts_tag, r.click_ts_tag)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(7, "e1", "c1")}
