"""S5/S6: change-event source + decode (reference ``replicator/main.go:152-193``).

The reference polls ``pg_logical_slot_get_changes(… 'format-version','2' …)``
every 2 s and gets one JSON line per change; each line is ``json.Unmarshal``-ed
into a declared struct, malformed lines are logged and skipped, and events for
other tables are filtered out before any per-event work.

Spark-first equivalents:

- a (streaming or batch) DataFrame of raw JSON lines (file source in tests;
  a Kafka/Debezium topic in production — capture itself is external, see
  SURVEY.md §7.5),
- ``from_json`` with the declared schema — malformed lines yield a null
  struct, split off into a dead-letter frame instead of crashing (T7),
- an early ``filter(table == …)`` that Catalyst pushes below the decode of
  per-column values (P2).

Each event carries a monotonic ``seq`` (the LSN stand-in — wal2json order is
implicit in the reference; a distributed engine must carry it explicitly,
SURVEY.md §7.4 hard part 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from postgres_cdc_example_spark.schemas import CHANGE_EVENT_SCHEMA

# wire schema = wal2json v2 envelope + explicit seq
WIRE_SCHEMA = StructType(
    [StructField("seq", LongType(), nullable=False), *CHANGE_EVENT_SCHEMA.fields]
)


def decode_change_lines(lines: DataFrame) -> DataFrame:
    """Decode raw JSON lines into typed change events.

    Returns all input rows with a ``change`` struct column; malformed lines
    have ``change IS NULL`` (the skip-and-log path,
    ``replicator/main.go:183-188``).  Works identically on batch and
    streaming DataFrames.
    """
    return lines.withColumn(
        "change", F.from_json(F.col("value").cast("string"), WIRE_SCHEMA)
    )


def is_valid_change() -> Column:
    """True for a decoded line that carries a change event."""
    # from_json yields a null struct only when the whole line is unparseable;
    # a parseable line always has a non-null action.
    return F.col("change").isNotNull() & F.col("change.action").isNotNull()


def split_corrupt(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, dead_letter) — the reference logs and skips; we keep a
    dead-letter frame so nothing is silently dropped (T7)."""
    ok = is_valid_change()
    return decoded.filter(ok), decoded.filter(~ok)


PERSON_COLUMNS = {
    "name": "string",
    "uid": "string",
    "score": "int",
    "created_at": "timestamp_ntz",
}


def flatten_changes(
    decoded: DataFrame,
    table: str,
    columns: dict[str, str],
    key: str = "id",
) -> DataFrame:
    """Typed flat change log for ONE table (FIXTURES.md §A2 shape),
    schema-driven so any replicated table gets the same treatment:

    - early table filter (``change.Table != …`` skip,
      ``replicator/main.go:191-193``) — Catalyst pushes it below the
      per-column work, so other tables' events cost a string compare;
    - columns→map pivot (``replicator/main.go:198-201``) via
      ``map_from_entries`` — then the declared cast per column;
    - the key for D comes from ``identity`` (old-row image,
      ``replicator/main.go:252-268``); for I/U from ``columns``.
    """
    ch = decoded.filter(F.col("change.table") == table)
    cols_map = F.map_from_entries(
        F.transform("change.columns", lambda c: F.struct(c["name"], c["value"]))
    )
    ident_map = F.map_from_entries(
        F.transform("change.identity", lambda c: F.struct(c["name"], c["value"]))
    )
    get = lambda m, k: F.element_at(m, F.lit(k))  # noqa: E731
    return ch.select(
        F.col("change.seq").alias("seq"),
        F.col("change.action").alias("action"),
        F.coalesce(get(cols_map, key), get(ident_map, key))
        .cast("long")
        .alias(key),
        *[get(cols_map, name).cast(tp).alias(name) for name, tp in columns.items()],
    )


def route_changes(
    decoded: DataFrame, tables: dict[str, dict[str, str]]
) -> dict[str, DataFrame]:
    """Fan one decoded change stream out to per-table flat change logs (the
    multi-table generalization the reference hard-codes away). Each entry is
    an independent lazy plan over the SAME decoded frame — in foreachBatch,
    persist the batch once and every table's filter reads the cached decode
    instead of re-parsing JSON per table."""
    return {
        t: flatten_changes(decoded, t, cols) for t, cols in tables.items()
    }


def flatten_person_changes(decoded: DataFrame) -> DataFrame:
    """The reference's single table, via the generic flatten."""
    return flatten_changes(decoded, "person", PERSON_COLUMNS)


def schema_drift_audit(decoded: DataFrame, declared: list[str]) -> DataFrame:
    """SCHEMA-DRIFT detector over the decoded ``person`` change stream:
    because the wire format carries columns as (name, type, value) ENTRY LISTS, an
    upstream ``ALTER TABLE ADD COLUMN`` (or a dropped column) does not
    break :func:`decode_change_lines` — it silently adds/removes entries,
    and :func:`flatten_changes`'s declared projection silently ignores
    them. Silent is the failure mode: replication keeps running while new
    data quietly vanishes. This audit makes drift OBSERVABLE (the T7
    dead-letter discipline applied to schemas): per columns-bearing event
    (I/U — D carries only the identity image), the wire column-name set is
    diffed against the declared set, and drifted events aggregate into one
    row per drift signature (unknown columns seen, declared columns
    absent) with a count and first/last WAL position — exactly what an
    operator needs to time-bound a backfill after adding the column to the
    declared schema. Pure set arithmetic on the already-decoded struct:
    zero extra scans, one map-side-combined aggregate on the (tiny) drift
    signature key."""
    return (
        with_drift_signature(decoded.select("change"), "person", declared)
        .filter((F.col("unknown_cols") != "") | (F.col("missing_cols") != ""))
        .groupBy("unknown_cols", "missing_cols")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("change.seq").cast("long").alias("first_seq"),
            F.max("change.seq").cast("long").alias("last_seq"),
        )
    )


def with_drift_signature(
    decoded: DataFrame, table: str, declared: list[str]
) -> DataFrame:
    """Every input row plus its drift signature (``unknown_cols``,
    ``missing_cols`` — ``''``/``''`` for clean rows): the per-row half of
    :func:`schema_drift_audit`, factored row-preserving so it composes
    with STREAMING frames (the batch audit aggregates; a stream routes).
    Rows the audit exempts — other tables, D-actions (identity-only wire
    image), undecodable lines (``change`` null → ``split_corrupt``'s
    dead-letter, not drift) — get the clean signature by definition."""
    # Generate barrier: projection collapse would re-inline the from_json
    # behind `change` into EVERY subfield reference below (seq, table,
    # action, columns ×2) — measured 1.4 s → 5 s at sf0.1 from re-parsing
    # the JSON per reference. The 1-element explode materializes the
    # struct once per row (the bpe_merge_steps janino-barrier pattern).
    cols = [c for c in decoded.columns if c != "change"]
    decoded = decoded.select(
        F.explode(F.array(F.struct(*cols, F.col("change")))).alias("r")
    ).select(*[F.col(f"r.{c}").alias(c) for c in cols], F.col("r.change").alias("change"))
    names = F.expr("transform(change.columns, c -> c.name)")
    declared_arr = F.array(*[F.lit(c) for c in declared])
    audited = (
        F.col("change").isNotNull()
        & (F.col("change.table") == table)
        & (F.col("change.action") != F.lit("D"))
    )
    sig = lambda a, b: F.when(  # noqa: E731
        audited, F.array_join(F.array_sort(F.array_except(a, b)), ",")
    ).otherwise(F.lit(""))
    return decoded.select(
        *cols,
        "change",
        sig(names, declared_arr).alias("unknown_cols"),
        sig(declared_arr, names).alias("missing_cols"),
    )


def drift_split(
    decoded: DataFrame, table: str, declared: list[str]
) -> tuple[DataFrame, DataFrame]:
    """(clean, drifted): the T7 good-rows-only contract applied to SCHEMAS
    at ingest — rows whose wire column set diverges from the declared
    schema route to the drift dead-letter frame (carrying their signature
    for triage/backfill bounds) instead of flowing on with silently
    dropped or missing fields. Plain filters over
    :func:`with_drift_signature`, so it composes with batch and streaming
    frames alike; :func:`schema_drift_audit` aggregates the same
    signatures."""
    sig = with_drift_signature(decoded, table, declared)
    clean_pred = (F.col("unknown_cols") == "") & (F.col("missing_cols") == "")
    clean = sig.filter(clean_pred).drop("unknown_cols", "missing_cols")
    drifted = sig.filter(~clean_pred)
    return clean, drifted


def person_change_json(
    seq: int,
    action: str,
    row: dict | None = None,
    identity: dict | None = None,
    table: str = "person",
) -> str:
    """Serialize one wal2json-v2-shaped line (test/data-gen helper)."""
    import json

    def cols(d: dict) -> list[dict]:
        type_of = {
            "id": "integer",
            "name": "character varying(100)",
            "uid": "uuid",
            "score": "integer",
            "created_at": "timestamp without time zone",
        }
        return [
            {"name": k, "type": type_of.get(k, "text"), "value": None if v is None else str(v)}
            for k, v in d.items()
        ]

    payload: dict = {
        "seq": seq,
        "action": action,
        "timestamp": None,
        "schema": "public",
        "table": table,
    }
    if row is not None:
        payload["columns"] = cols(row)
    if identity is not None:
        payload["identity"] = cols(identity)
    return json.dumps(payload)
