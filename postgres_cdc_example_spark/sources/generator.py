"""S1: synthetic person-row generator (reference ``writer/main.go:49-70``).

The reference writer emits one row per second: ``name = choice(10 names) +
"_" + counter``, ``uid = uuid4``, ``score = uniform(1,100)``, with id and
created_at assigned server-side.

:func:`person_batch` is a deterministic batch generator (``spark.range`` +
hash-derived pseudo-randomness).  Determinism is *partitioning-independent*:
every pseudo-random column derives from the row id via ``xxhash64``, never
from ``F.rand`` (whose draw depends on partition layout) — so tests and
oracle checks are stable under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the reference's 10 first names (writer/main.go:49)
NAMES = (
    "alice", "bob", "carol", "dave", "eve",
    "frank", "grace", "heidi", "ivan", "judy",
)


def _person_columns(seed: int) -> list:
    """Hash-derived person columns keyed on the ``id`` column."""
    ident = F.col("id")
    h = F.xxhash64(ident, F.lit(seed))
    name_idx = (F.pmod(h, F.lit(len(NAMES))) + 1).cast("int")
    first_name = F.element_at(F.array(*[F.lit(n) for n in NAMES]), name_idx)
    # uuid4-shaped text derived from md5 (deterministic stand-in for uuid.New)
    md5 = F.md5(F.concat(F.lit("uid"), F.lit(seed), ident.cast("string")))
    uid = F.concat_ws(
        "-",
        F.substring(md5, 1, 8),
        F.substring(md5, 9, 4),
        F.concat(F.lit("4"), F.substring(md5, 14, 3)),
        F.concat(F.lit("8"), F.substring(md5, 18, 3)),
        F.substring(md5, 21, 12),
    )
    score = (F.pmod(F.xxhash64(ident, F.lit(seed + 1)), F.lit(100)) + 1).cast("int")
    return [
        ident.alias("id"),
        F.concat_ws("_", first_name, ident.cast("string")).alias("name"),
        uid.alias("uid"),
        score.alias("score"),
    ]


def person_batch(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    start_id: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic batch of person rows with ids ``start_id..start_id+n-1``.

    ``start_id`` plays the sequence watermark (``ALTER SEQUENCE … RESTART``,
    ``replicator/main.go:142-150``): callers resume generation above the
    current MAX(id).
    """
    rng = spark.range(start_id, start_id + n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism)
    base_ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")).cast("timestamp_ntz")
    return rng.select(
        *_person_columns(seed),
        # created_at advances one second per id — the writer's 1 Hz cadence
        F.timestamp_add("SECOND", (F.col("id") - start_id).cast("int"), base_ts).alias(
            "created_at"
        ),
    )

