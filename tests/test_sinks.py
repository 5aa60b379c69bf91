"""Write-path tests: partitioned/sorted/size-bounded corpus output and
state-store retention."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from postgres_cdc_example_spark.sinks.corpus import write_curated
from postgres_cdc_example_spark.sources.tables import load_table


def test_write_curated_layout_and_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "source"
    )
    write_curated(docs, out, max_records_per_file=50)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("source="))
    expected = sorted(
        f"source={r.source}" for r in docs.select("source").distinct().collect()
    )
    assert dirs == expected, "hive-style partition dir per source value"
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        n_rows = docs.filter(F.col("source") == d.split("=", 1)[1]).count()
        assert len(files) <= max(1, -(-n_rows // 50)) + 1, (
            "file count bounded by maxRecordsPerFile, not task count"
        )
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }
    # partition pruning: a source filter must not list other directories
    plan = (
        back.filter(F.col("source") == dirs[0].split("=", 1)[1])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan


def test_files_are_sorted_within_partitions(spark, sf_dir, tmp_path):
    out = str(tmp_path / "sorted")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    write_curated(docs, out)
    import pyarrow.parquet as pq

    for root, _dirs, files in os.walk(out):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            col = pq.read_table(os.path.join(root, f), columns=["doc_id"])["doc_id"]
            vals = col.to_pylist()
            assert vals == sorted(vals), f"unsorted rows in {f}"


def test_state_store_vacuum_keeps_latest(spark, tmp_path):
    """Retention: every commit drops the versions older than the previous
    one, so the store holds at most 2 version directories, and a frame
    resolved before a commit still collects after it."""
    from pyspark.sql.types import LongType, StructField, StructType

    from postgres_cdc_example_spark.streaming.state import VersionedStateStore

    schema = StructType([StructField("id", LongType(), True)])
    store = VersionedStateStore(spark, str(tmp_path / "st"), {"t": schema})
    for v in range(6):
        before = store.read("t")  # resolved at version v - 1
        store.commit({"t": spark.range(v + 1).select(F.col("id"))}, version=v)
        assert before.count() == v  # its files survive the commit
        dirs = sorted(n for n in os.listdir(tmp_path / "st") if n[0] == "v")
        assert dirs == [f"v{u:08d}" for u in range(max(v - 1, 0), v + 1)]
    assert store.latest_version() == 5
    assert store.read("t").count() == 6


def test_empty_state_store_read_has_no_partitions(spark, tmp_path):
    """A fresh store's read() is the empty person table with no partitions,
    so counting or joining it (the first backfill does) runs no tasks."""
    from postgres_cdc_example_spark.schemas import PERSON_SCHEMA
    from postgres_cdc_example_spark.streaming.state import VersionedStateStore

    empty = VersionedStateStore(
        spark, str(tmp_path / "st"), {"person": PERSON_SCHEMA}
    ).read("person")
    assert empty.schema == PERSON_SCHEMA
    assert empty.rdd.getNumPartitions() == 0
    assert empty.count() == 0


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    from postgres_cdc_example_spark.sinks.corpus import compact_parquet

    frag = str(tmp_path / "frag")
    docs = load_table(spark, "documents", sf_dir)
    docs.repartition(50).write.parquet(frag)
    n_frag = sum(f.endswith(".parquet") for f in os.listdir(frag))
    assert n_frag >= 50
    out = str(tmp_path / "compact")
    n = compact_parquet(spark, frag, out, target_file_bytes=64 * 1024 * 1024)
    n_out = sum(f.endswith(".parquet") for f in os.listdir(out))
    assert n_out == n <= 2
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }
