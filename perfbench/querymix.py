"""The ``query_mix`` workload: one closed-loop client running a fixed list of
registered batch queries in sequence, each forced with the noop sink.

The inputs are the ten fixture tables the query registry reads, generated
here with NumPy into the run's scratch directory (a fixed data seed; the
workload seed only permutes the order within each pass). The first pass
warms the session up and collects every query's rows for the DuckDB
``oracle_sql()`` comparison; the timed passes follow.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Run, median, percentile

# Bound by compute at scale: the embedding-cosine fold, simhash dedup and a
# lineitem self-join.
HEAVY = ("dedup_embedding_cosine", "dedup_simhash", "basket_part_pairs")
# Bound by per-query build, planning and job overhead; cdc_apply_idempotence
# also runs eager local-checkpoint jobs while it is built.
LIGHT = (
    "cdc_apply_full", "cdc_compaction", "monitor_sync_check", "cdc_apply_idempotence",
    "q1_pricing_summary",
)
MIX = HEAVY + LIGHT

DATA_SEED = 42
NOMINAL_PASS_S = 5.0  # a warm pass over MIX on a 4-core box
# Row counts of the generated fixture (the sf0.001 shape of TESTDATA.md).
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500, "lineitem": 6000,
        "events": 1000, "documents": 500, "embeddings": 500}
VOCAB = (
    "the a fast slow big small key order sort table scan merge part window hash join batch "
    "stream spark data row column filter agg group query line value vector customer"
).split()


def _ts_array(rng, start: dt.datetime, days: int, n: int) -> pa.Array:
    day = rng.integers(0, days, n)
    return pa.array([start + dt.timedelta(days=int(d)) for d in day], pa.timestamp("us"))


def write_fixtures(out: str, seed: int = DATA_SEED) -> None:
    """Write the ten fixture tables as parquet files under ``out``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = ROWS
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }),
    }
    adj = np.array(["cold", "small", "large", "blue", "new", "hot", "red", "old"])
    noun = np.array(["widget", "bolt", "rod", "gear", "anvil", "ring", "plate", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    np_ = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, np_)], noun[rng.integers(0, 8, np_)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(np_) * 0.1, 2),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts_array(rng, dt.datetime(1995, 1, 1), 2404, no),
        "o_orderpriority": prios[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_array(rng, dt.datetime(1995, 1, 2), 2498, nl),
    })
    ne = n["events"]
    offs = np.sort(rng.uniform(0, 30 * 86400, ne))
    t0 = dt.datetime(2024, 1, 1)
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(s * 1e6)) for s in offs], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.08:  # near or exact duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.6:
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[int(w)] for w in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, nd)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


# --- oracle comparison (normalised as the repo's verify recipe does) --------
def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(cols: list[str], rows) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def oracle_results(sf_dir: str, names) -> dict:
    import duckdb

    from postgres_cdc_example_spark.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(set(ROWS) | {"region", "nation"}):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        res = con.sql(sql[name])
        out[name] = _canon(list(res.columns), res.fetchall())
    con.close()
    return out


# --- the workload -----------------------------------------------------------
def query_mix(run: Run) -> None:
    sf_dir = run.path("fixtures")
    write_fixtures(sf_dir)
    spark = run.start_spark()
    from postgres_cdc_example_spark.queries import queries

    registry = queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    order_rng = random.Random(run.seed)
    stats = {n: {"build": [], "exec": [], "jobs": []} for n in MIX}

    # Warm-up pass: every query once, rows collected for the oracle check.
    t0 = time.perf_counter()
    got = {}
    for name in MIX:
        run.attempted += 1
        try:
            df = registry[name](spark, sf_dir)
            got[name] = _canon(list(df.columns), [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001 - a failing query is a failed operation
            got[name] = None
            run.fail(1, f"{name}: {type(exc).__name__}: {exc}"[:300])
    # One untimed noop pass: the first pass after the collect still ran
    # about 20% slower than the next on a 4-core box.
    for name in MIX:
        if got[name] is not None:
            registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    run.layer["warmup_s"] = time.perf_counter() - t0

    # The number of timed passes follows from --seconds at a nominal pass
    # time, not from this machine's speed: with a time-bounded loop a faster
    # run also timed later, warmer passes, which widened the spread.
    pass_s, latencies = [], []
    for _ in range(max(3, round(run.seconds / NOMINAL_PASS_S))):
        names = list(MIX)
        order_rng.shuffle(names)
        t_pass = time.perf_counter()
        for name in names:
            group = f"q{len(pass_s)}-{name}"
            if run.trace:
                sc.setJobGroup(group, name)
            run.attempted += 1
            tb = time.perf_counter()
            try:
                df = registry[name](spark, sf_dir)
                te = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a failing query is a failed operation
                run.fail(1, f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            t_end = time.perf_counter()
            latencies.append((t_end - tb) * 1e3)
            if run.trace:
                stats[name]["build"].append((te - tb) * 1e3)
                stats[name]["exec"].append((t_end - te) * 1e3)
                stats[name]["jobs"].append(len(tracker.getJobIdsForGroup(group)))
        pass_s.append(time.perf_counter() - t_pass)
    if run.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # Outside the timed region: compare the warm-up rows with DuckDB.
    expected = oracle_results(sf_dir, MIX)
    for name in MIX:
        if got[name] is not None and got[name] != expected[name]:
            run.fail(1, f"{name}: rows differ from oracle_sql()")

    for name, s in stats.items():
        run.layer[f"queries.{name}.build_ms"] = median(s["build"])
        run.layer[f"queries.{name}.exec_ms"] = median(s["exec"])
        run.layer[f"queries.{name}.jobs"] = median(s["jobs"])
    run.e2e["setup_s"] = run.layer["session.start_s"] + run.layer["warmup_s"]
    run.e2e["ops_per_s"] = median(len(MIX) / s for s in pass_s)
    run.e2e["latency_p50_ms"] = percentile(latencies, 50)
    run.e2e["latency_p90_ms"] = percentile(latencies, 90)
    run.notes.append(f"passes={[round(s, 2) for s in pass_s]}")
