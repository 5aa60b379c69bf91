"""Multi-format ingest/egress: declared-schema reads, lossless round-trips
for free text (commas/quotes/newlines), and malformed-row dead-lettering —
the T7 skip-and-log discipline applied to file ingest."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgres_cdc_example_spark.sources.formats import (
    read_stream_table,
    read_table,
    read_with_rejects,
    write_table,
)
from postgres_cdc_example_spark.sources.tables import load_table

DOCS_DDL = "doc_id long, text string, lang string, source string"


def _docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "source"
    )


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["csv", "json", "orc", "parquet"])
def test_roundtrip_is_lossless_per_format(spark, sf_dir, tmp_path, fmt):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / fmt)
    write_table(docs, out, fmt)
    back = read_table(spark, out, fmt, DOCS_DDL)
    assert _canon(back) == _canon(docs), f"{fmt} round-trip must be lossless"


def test_csv_roundtrip_survives_hostile_text(spark, tmp_path):
    """The CSV dialect must round-trip commas, double quotes, embedded
    newlines, leading/trailing spaces, and empty strings — the payloads
    that break naive CSV ingest."""
    rows = [
        (1, 'plain words', "en", "s1"),
        (2, 'comma, inside', "en", "s1"),
        (3, 'she said "quoted"', "de", "s2"),
        (4, 'line one\nline two\nline three', "fr", "s2"),
        (5, '  padded  ', "es", "s3"),
        (6, 'mix: "q", comma,\nnewline', "en", "s3"),
    ]
    docs = spark.createDataFrame(rows, DOCS_DDL)
    out = str(tmp_path / "hostile")
    write_table(docs, out, "csv")
    back = read_table(spark, out, "csv", DOCS_DDL)
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_malformed_rows_dead_letter_not_crash(spark, tmp_path, fmt):
    """A bad line must land in the rejects frame with its raw content —
    never kill the read, never silently vanish."""
    out = str(tmp_path / "raw")
    os.makedirs(out)
    if fmt == "json":
        lines = [
            '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s"}',
            'this is not json at all',
            '{"doc_id": "NOT_A_NUMBER", "text": "bad type", "lang": "en", "source": "s"}',
            '{"doc_id": 2, "text": "also ok", "lang": "de", "source": "s"}',
        ]
        n_good, n_bad = 2, 2
    else:
        lines = [
            "doc_id,text,lang,source",
            '1,ok,en,s',
            'NOT_A_NUMBER,bad id,en,s',
            '2,also ok,de,s',
        ]
        n_good, n_bad = 2, 1
    with open(os.path.join(out, "part-0.txt"), "w") as f:
        f.write("\n".join(lines))
    good, rejects = read_with_rejects(spark, out, fmt, DOCS_DDL)
    got = good.collect()
    assert len(got) == n_good
    assert {r.doc_id for r in got} == {1, 2}
    bad = rejects.collect()
    assert len(bad) == n_bad
    assert all(r.raw_line for r in bad), "rejects must carry the raw line"


def test_declared_schema_means_no_inference_scan(spark, sf_dir, tmp_path):
    """The reader must work without any inference option and must respect
    the declared types (doc_id arrives long, not string) — and refuse a
    schema that collides with the corrupt-record column."""
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "csv")
    write_table(docs, out, "csv")
    back = read_table(spark, out, "csv", DOCS_DDL)
    assert dict(back.dtypes)["doc_id"] == "bigint"
    with pytest.raises(ValueError):
        read_with_rejects(
            spark, out, "csv", DOCS_DDL + ", _corrupt_record string"
        )
    with pytest.raises(ValueError):
        read_table(spark, out, "avro", DOCS_DDL)
    with pytest.raises(ValueError):
        read_with_rejects(spark, out, "parquet", DOCS_DDL)


def test_streaming_csv_ingest_splits_rejects_and_feeds_gates(spark, tmp_path):
    """The file-drop streaming ingest: a CSV stream read under the
    declared+corrupt schema splits into good rows and dead-letter rows
    INSIDE the stream (the filter composes with any downstream gate), and
    a second dropped file is picked up exactly-once from the checkpoint's
    file log."""
    import os

    from postgres_cdc_example_spark.sources.formats import (
        CORRUPT_COL,
        corrupt_schema,
        read_stream_table,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(os.path.join(src, "drop1.csv"), "w") as f:
        f.write("doc_id,text,lang,source\n1,ok,en,s\nBAD_ID,broken,en,s\n")

    stream = read_stream_table(
        spark, src, corrupt_schema(), {"columnNameOfCorruptRecord": CORRUPT_COL}
    )
    good_rows: list = []
    bad_rows: list = []

    def split(bdf, _bid):
        good_rows.extend(bdf.filter(F.col(CORRUPT_COL).isNull()).collect())
        bad_rows.extend(bdf.filter(F.col(CORRUPT_COL).isNotNull()).collect())

    def drain():
        q = (
            stream.writeStream.foreachBatch(split)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert [r.doc_id for r in good_rows] == [1]
    assert len(bad_rows) == 1 and "BAD_ID" in bad_rows[0][CORRUPT_COL]

    with open(os.path.join(src, "drop2.csv"), "w") as f:
        f.write("doc_id,text,lang,source\n2,late drop,de,s\n")
    drain()
    assert sorted(r.doc_id for r in good_rows) == [1, 2], (
        "second file ingested exactly once from the checkpointed file log"
    )
    assert len(bad_rows) == 1


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_read_table_drops_malformed_instead_of_nullfilling(spark, tmp_path, fmt):
    """read_table's good-rows-only contract: a malformed line must be
    DROPPED, not kept as a null-filled record (bare PERMISSIVE mode would
    null-fill — the silent-corruption path this pins shut)."""
    out = str(tmp_path / "raw")
    os.makedirs(out)
    if fmt == "json":
        lines = [
            '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s"}',
            "garbage line",
            '{"doc_id": 2, "text": "also ok", "lang": "de", "source": "s"}',
        ]
    else:
        lines = [
            "doc_id,text,lang,source",
            "1,ok,en,s",
            "NOT_A_NUMBER,bad id,en,s",
            "2,also ok,de,s",
        ]
    with open(os.path.join(out, "part-0.txt"), "w") as f:
        f.write("\n".join(lines))
    got = read_table(spark, out, fmt, DOCS_DDL).collect()
    assert len(got) == 2
    assert {r.doc_id for r in got} == {1, 2}
    assert all(r.doc_id is not None for r in got), "no null-filled ghosts"
    # and the returned frame carries exactly the declared columns — the
    # internal corrupt column must not leak
    assert [f.name for f in read_table(spark, out, fmt, DOCS_DDL).schema.fields] == [
        "doc_id",
        "text",
        "lang",
        "source",
    ]


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_ingested_frames_support_all_actions(spark, tmp_path, fmt):
    """Regression pin for two parser-pruning hazards on ingested frames:

    1. ``count()``/``isEmpty()`` must work — the old PERMISSIVE +
       corrupt-column post-filter made them raise
       QUERY_ONLY_CORRUPT_RECORD_COLUMN once pruning reduced the scan's
       references to the corrupt column alone.
    2. A PRUNED projection must still see good rows only — the text
       parsers detect malformedness over PARSED columns, so without the
       full-parse guard ``select('lang').count()`` silently re-admits a
       row whose corruption lives in the unreferenced doc_id field.
    """
    out = str(tmp_path / "raw")
    os.makedirs(out)
    if fmt == "json":
        lines = [
            '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s"}',
            "garbage line",
            '{"doc_id": 2, "text": "also ok", "lang": "de", "source": "s"}',
        ]
    else:
        lines = [
            "doc_id,text,lang,source",
            "1,ok,en,s",
            "NOT_A_NUMBER,bad id,en,s",
            "2,also ok,de,s",
        ]
    with open(os.path.join(out, "part-0.txt"), "w") as f:
        f.write("\n".join(lines))
    df = read_table(spark, out, fmt, DOCS_DDL)
    assert df.count() == 2
    assert df.isEmpty() is False
    assert df.select("lang").count() == 2, "pruned projection re-admitted a bad row"
    assert df.groupBy("lang").count().count() == 2
    good, rejects = read_with_rejects(spark, out, fmt, DOCS_DDL)
    assert good.count() == 2 and rejects.count() == 1
    assert good.select("lang").count() == 2
    assert good.isEmpty() is False and rejects.isEmpty() is False


def test_read_stream_table_drops_malformed_rows(spark, tmp_path):
    """Streaming twin of the good-rows-only contract: a malformed CSV line
    in a file drop must be dropped by read_stream_table (not null-filled
    into the stream), with only the declared columns downstream."""
    src = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(os.path.join(src, "d0.csv"), "w") as f:
        f.write("doc_id,text,lang,source\n1,ok,en,s\nNOT_A_NUMBER,bad,en,s\n2,ok2,de,s\n")
    stream = read_stream_table(spark, src, DOCS_DDL)
    assert [f.name for f in stream.schema.fields] == ["doc_id", "text", "lang", "source"]
    got: list = []
    q = (
        stream.writeStream.foreachBatch(lambda b, _=None: got.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {r.doc_id for r in got} == {1, 2}
    assert all(r.doc_id is not None for r in got)
