"""Multi-format ingest/egress with DECLARED schemas and dead-letter routing.

The reference's only ingest is Postgres over pgx (`replicator/main.go`,
`pubsub/main.go`); a training-data pipeline additionally receives drops as
CSV, JSON-lines, ORC, and parquet. This module is that surface, with the
two contracts that matter at 100 TB:

1. **Schemas are DECLARED, never inferred.** `inferSchema`/sampling runs an
   extra pass over the input (a full scan for CSV) and can silently flip a
   column's type between drops when the sampled rows change — at 100 TB
   that is both a doubled ingest bill and a correctness hazard. Every
   reader here takes an explicit StructType/DDL string.
2. **Malformed rows dead-letter, never crash and never vanish.** The
   text formats read in PERMISSIVE mode with an explicit corrupt-record
   column; `read_with_rejects` splits the input into (good, rejects) so a
   bad row costs one quarantine record instead of a failed 100 TB job —
   the same skip-and-log discipline as the CDC decoder
   (`sources/changelog.py`, reference parity T7) and the streaming gates'
   dead-letter verdicts.

Columnar formats (parquet/ORC) carry their schema in the file footer, so
the declared schema acts as a CONTRACT CHECK there (Spark errors on
incompatible types instead of inferring something new).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

# formats whose readers accept the malformed-row options
_TEXT_FORMATS = {"csv", "json"}
_FORMATS = {"csv", "json", "orc", "parquet"}

# CSV needs explicit quoting/escaping/multiline to round-trip free text
# (document bodies contain commas, quotes and newlines); these defaults
# make write_table(read_table(...)) lossless for string payloads.
_CSV_OPTS = {
    "header": "true",
    "quote": '"',
    "escape": '"',
    "multiLine": "true",
    "lineSep": "\n",
    # the CSV reader/writer trim unquoted whitespace by default — lossy
    # for text payloads with significant padding
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}


def _schema_of(schema: T.StructType | str) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


def _full_parse_guard(base: T.StructType) -> F.Column:
    """An always-true predicate that REFERENCES every declared column.

    Why it exists: the text parsers only parse the columns the query
    references (CSV column pruning; JSON required-schema projection), and
    malformed-row detection only covers PARSED columns — so under
    DROPMALFORMED, ``read_table(...).select('lang').count()`` would keep a
    row whose corruption lives in the unreferenced ``doc_id`` field. This
    guard forces the full declared schema into the parser's required
    schema under ANY downstream projection, so "malformed" always means
    "malformed in any declared column". It also gives corrupt-record
    splits a data-column reference, keeping ``count()``/``isEmpty()``
    clear of Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction.

    The predicate must be OPAQUE to Catalyst: ``xxhash64(...).isNotNull()``
    folds to literal true (xxhash64 is non-nullable, NullPropagation
    rewrites IsNotNull(non-nullable) → true) and the column references
    fold away with it — measured: the malformed-in-unreferenced-column
    row came back on ``count()``. ``xxhash64(...) % 1 == 0`` is always
    true at runtime (any long mod 1 is 0) but no simplification rule
    removes it, so the references survive into the scan's ReadSchema.
    Map columns are wrapped in ``map_entries`` (hash rejects raw maps)."""
    refs = []
    for f in base.fields:
        if isinstance(f.dataType, T.MapType):
            refs.append(F.map_entries(F.col(f.name)))
        else:
            refs.append(F.col(f.name))
    return F.xxhash64(*refs) % F.lit(1) == F.lit(0)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read ``path`` as ``fmt`` under a DECLARED schema, good rows only:
    malformed text-format rows are actually DROPPED (``DROPMALFORMED``),
    because bare PERMISSIVE mode does NOT drop them — Spark null-fills the
    declared columns, so without the drop a bad line silently enters the
    "good" frame as an all-null record, the exact corruption this module
    exists to prevent. Use :func:`read_with_rejects` when bad rows must
    be quarantined instead of dropped.

    Why DROPMALFORMED and not PERMISSIVE + corrupt-column post-filter: a
    post-filter's ONLY column reference can be the corrupt column itself —
    column pruning then reduces the raw scan to just that column and Spark
    raises UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN on basic
    actions like ``count()``/``isEmpty()``. DROPMALFORMED is
    observationally identical for the caller (the corrupt column was
    hidden anyway) and keeps every action legal.

    Scale shape: one scan, no inference pass; parquet/ORC get column
    pruning + predicate pushdown from the declared columns as usual."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format: {fmt!r} (one of {sorted(_FORMATS)})")
    base = _schema_of(schema)
    opts = dict(options or {})
    # When the caller routes corrupt records themselves (read_with_rejects,
    # or an explicit columnNameOfCorruptRecord / corrupt column in the
    # schema), read PERMISSIVE and hand the frame back whole — the caller
    # owns the split. Otherwise drop malformed rows at the reader.
    caller_routes = (
        CORRUPT_COL in base.fieldNames() or "columnNameOfCorruptRecord" in opts
    )
    reader = spark.read.format(fmt).schema(base)
    if fmt == "csv":
        for k, v in _CSV_OPTS.items():
            reader = reader.option(k, v)
    if fmt in _TEXT_FORMATS:
        reader = reader.option("mode", "PERMISSIVE" if caller_routes else "DROPMALFORMED")
    for k, v in opts.items():
        reader = reader.option(k, v)
    df = reader.load(path)
    if fmt in _TEXT_FORMATS and not caller_routes:
        df = df.filter(_full_parse_guard(base))
    return df


def read_with_rejects(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | str,
) -> tuple[DataFrame, DataFrame]:
    """(good, rejects) for a text-format read: good rows carry the declared
    columns; rejects carry the raw malformed line for quarantine/replay —
    the ingest twin of the CDC decoder's dead-letter split. Only
    meaningful for csv/json (columnar formats have no malformed rows —
    files are either readable or the job should fail loudly)."""
    if fmt not in _TEXT_FORMATS:
        raise ValueError(f"rejects split only applies to {sorted(_TEXT_FORMATS)}")
    base = _schema_of(schema)
    if CORRUPT_COL in base.fieldNames():
        raise ValueError(f"schema must not already contain {CORRUPT_COL}")
    with_corrupt = T.StructType(
        list(base.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    opts = {"columnNameOfCorruptRecord": CORRUPT_COL}
    df = read_table(spark, path, fmt, with_corrupt, opts)
    # The guard keeps both branches legal under ANY downstream projection:
    # without it, column pruning on e.g. good.count() reduces the scan's
    # references to the corrupt column alone and Spark raises
    # QUERY_ONLY_CORRUPT_RECORD_COLUMN; it also forces the full declared
    # schema into the parser so "corrupt" covers every declared column.
    df = df.filter(_full_parse_guard(base))
    # Spark populates CORRUPT_COL for rows that fail to parse under the
    # declared schema; the parsed remnants on a reject are triage gold —
    # a type-mismatch row shows exactly which fields DID parse.
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    rejects = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line"),
        *[F.col(f.name) for f in base.fields],
    )
    return good, rejects


def read_stream_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming twin of :func:`read_table` for csv — the file-drop ingest
    shape (new csv files land in a directory; Structured Streaming tails it
    exactly-once via the checkpoint's file log). Same declared-
    schema contract; a streaming read REQUIRES the schema anyway, so the
    no-inference rule costs nothing here. Same good-rows-only contract as
    :func:`read_table`: malformed lines are dropped at the reader
    (``DROPMALFORMED`` — bare PERMISSIVE would null-fill them in, and
    PERMISSIVE + corrupt-column post-filter trips
    QUERY_ONLY_CORRUPT_RECORD_COLUMN on corrupt-only-pruned actions). For
    dead-letter routing on a stream, declare the schema WITH the corrupt
    column via :func:`corrupt_schema` and split downstream (the filter
    composes with any gate — see tests/test_formats.py's streaming
    split)."""
    base = _schema_of(schema)
    opts = dict(options or {})
    caller_routes = (
        CORRUPT_COL in base.fieldNames() or "columnNameOfCorruptRecord" in opts
    )
    reader = spark.readStream.format("csv").schema(base)
    for k, v in _CSV_OPTS.items():
        reader = reader.option(k, v)
    reader = reader.option("mode", "PERMISSIVE" if caller_routes else "DROPMALFORMED")
    for k, v in opts.items():
        reader = reader.option(k, v)
    df = reader.load(path)
    if not caller_routes:
        df = df.filter(_full_parse_guard(base))
    return df


def corrupt_schema() -> T.StructType:
    """The documents schema plus the corrupt-record column — what a
    streaming text read declares when malformed lines must be routed
    instead of dropped (pass ``columnNameOfCorruptRecord`` = CORRUPT_COL
    in options)."""
    base = _schema_of("doc_id long, text string, lang string, source string")
    return T.StructType(
        list(base.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


def write_table(
    df: DataFrame,
    path: str,
    fmt: str,
) -> None:
    """Write ``df`` as ``fmt`` with the same lossless CSV dialect the
    reader declares (quote-escaped, so free text with commas/quotes/
    newlines round-trips)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format: {fmt!r} (one of {sorted(_FORMATS)})")
    writer = df.write.format(fmt).mode("overwrite")
    if fmt == "csv":
        for k, v in _CSV_OPTS.items():
            if k != "multiLine":  # reader-only option
                writer = writer.option(k, v)
    writer.save(path)
