"""The ``cdc_trickle`` workload, its wal2json input generator and the
serial-fold oracle.

The pubsub shape (``pubsub/main.go``): a person snapshot is backfilled
through the ``score % 2 = 0`` publication filter, the pipeline runs on its
2 s processing-time trigger, an open-loop generator process writes one
change file per tick whatever the pipeline is doing, and a monitor thread
calls ``replication_lag_seconds`` and ``sync_check`` every 5 s.

After the run, outside the timed region, the final state is checked against
a pure-Python serial fold of the reference's per-event apply
(``replicator/main.go:175-270``: insert = upsert keeping ``created_at``,
update = no-op on an absent key, delete = remove) with the filter's
crossing transform.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import subprocess
import sys
import threading
import time

from harness import Run, median, percentile

NAMES = ("alice", "bob", "carol", "dave", "eve", "frank", "grace", "heidi", "ivan", "judy")
TYPES = {
    "id": "integer",
    "name": "character varying(100)",
    "uid": "uuid",
    "score": "integer",
    "created_at": "timestamp without time zone",
}
COLS = ("id", "name", "uid", "score", "created_at")
BASE_TS = dt.datetime(2024, 1, 1)
MALFORMED = (
    "NOT JSON",
    '{"seq": 1, "action": "I", "table": "person", "columns": [{"name": "id"',
    "\x00\x01 binary garbage",
)

# 25k-row snapshot (a warm 100k-row batch took 1.3-1.9 s on a 4-core box,
# too close to the 2 s trigger to stay on schedule when the box slows down;
# at 25k the state commit is still over half the batch); one 2-event file per
# 0.2 s tick (10 events/s, so a 15 s window holds 150 events); every 20th
# tick also carries one malformed line for the dead-letter path.
TRICKLE_SNAPSHOT_ROWS = 25_000
TRICKLE_TICK_S = 0.2
TRICKLE_TRIGGER_S = 2.0
TRICKLE_OFFSET_S = 0.05  # first tick sits this far after a trigger boundary
TRICKLE_PRE_TICKS = 16  # written before the stream starts; the cold first batch takes them
TRICKLE_LEAD_S = 3.0  # the schedule starts at least this long after the stream
TRICKLE_WARM_S = 6.0
TRICKLE_MONITOR_S = 5.0
TRICKLE_RECENT_KEYS = 50
TRICKLE_EVENTS_PER_TICK = 2
TRICKLE_MALFORMED_EVERY = 20


# --- wal2json lines ---------------------------------------------------------
def _image(row: dict) -> list[dict]:
    return [
        {"name": c, "type": TYPES[c], "value": None if row[c] is None else str(row[c])}
        for c in COLS
    ]


def wal2json_line(seq: int, action: str, row: dict | None, key: int, ts: str) -> str:
    payload = {"seq": seq, "action": action, "timestamp": ts, "schema": "public", "table": "person"}
    if row is not None:
        payload["columns"] = _image(row)
    if action != "I":
        payload["identity"] = [{"name": "id", "type": "integer", "value": str(key)}]
    return json.dumps(payload)


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _person(rng: random.Random, key: int, created: str) -> dict:
    return {
        "id": key,
        "name": f"{rng.choice(NAMES)}_{key}",
        "uid": "%08x-%04x-4%03x-8%03x-%012x" % (
            rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(12),
            rng.getrandbits(12), rng.getrandbits(48),
        ),
        "score": rng.randint(1, 100),
        "created_at": created,
    }


def write_file(directory: str, name: str, lines: list[str], mtime_ns: int | None = None) -> None:
    """Write one source file atomically (hidden temp name, then rename), so
    the file source never lists a half-written file. The file source orders
    files by modification time alone, so a backlog written faster than the
    clock ticks gets explicit, increasing times to keep WAL order."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.replace(tmp, os.path.join(directory, name))


# --- the oracle -------------------------------------------------------------
def _passes(row: dict) -> bool:
    return row["score"] % 2 == 0


def fold(state: dict, events, filtered: bool) -> None:
    """Serial fold of ``replicator/main.go:175-270`` over ``events`` into
    ``state`` (id -> row), in WAL order. With ``filtered`` the publication
    filter applies, with Postgres's filter-crossing transform: an update
    whose new image fails the filter deletes the key, one that passes is an
    upsert; an insert that fails the filter is not published."""
    for action, key, row, _ in events:
        if action is None:
            continue
        if action == "D":
            state.pop(key, None)
            continue
        if filtered:
            if not _passes(row):
                if action == "U":
                    state.pop(key, None)
                continue
            action = "I"
        old = state.get(key)
        if action == "I":
            new = dict(row)
            if old is not None:
                new["created_at"] = old["created_at"]
            state[key] = new
        elif old is not None:  # U on an absent key is a no-op
            state[key] = {**row, "created_at": old["created_at"]}


def rows_frame(spark, state: dict, path: str):
    """Rows (id -> row) as a DataFrame, written with PyArrow to a parquet
    directory so Spark reads them without Python workers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from postgres_cdc_example_spark.schemas import PERSON_SCHEMA

    keys = sorted(state)
    table = pa.table({
        "id": pa.array(keys, pa.int64()),
        "name": pa.array([state[k]["name"] for k in keys], pa.string()),
        "uid": pa.array([state[k]["uid"] for k in keys], pa.string()),
        "score": pa.array([state[k]["score"] for k in keys], pa.int32()),
        "created_at": pa.array(
            [dt.datetime.strptime(state[k]["created_at"], "%Y-%m-%d %H:%M:%S") for k in keys],
            pa.timestamp("us"),
        ),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return spark.read.schema(PERSON_SCHEMA).parquet(path)


def mismatched_keys(expected, actual) -> int:
    """Keys whose row differs between the two states, or that only one has."""
    from pyspark.sql import functions as F

    e = expected.select(F.col("id"), F.struct(*COLS[1:]).alias("e"))
    a = actual.select(F.col("id"), F.struct(*COLS[1:]).alias("a"))
    return e.join(a, "id", "full_outer").filter(~F.col("e").eqNullSafe(F.col("a"))).count()


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's own log
    (``<checkpoint>/sources/0/<batchId>``; every 10th batch is written as
    ``<batchId>.compact`` and carries the entries of earlier batches too)."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


# --- traced-run wrappers ----------------------------------------------------
class BatchClock:
    """Wraps one pipeline's foreachBatch body, state read and state commit
    from the outside (instance attributes), recording when each batch's
    commit finished. In the traced run the wrappers are spans as well."""

    def __init__(self, tracer, pipe):
        self.end: dict[int, float] = {}
        body = tracer.wrap("pipeline.apply_batch", pipe._apply_batch)

        def apply_batch(df, batch_id):
            body(df, batch_id)
            self.end[batch_id] = time.time()

        pipe._apply_batch = apply_batch
        pipe.store.read = tracer.wrap("state.read", pipe.store.read)
        pipe.store.commit = tracer.wrap("state.commit", pipe.store.commit)


class Progress:
    """``ProgressListener`` registration that waits for the last asynchronous
    progress event before it is read."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.listener = None
        if enabled:
            from postgres_cdc_example_spark.streaming.monitor import ProgressListener

            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)

    def settle(self, last_batch: int | None, timeout: float = 15.0) -> list[dict]:
        if self.listener is None:
            return []
        deadline = time.time() + timeout
        while last_batch is not None and time.time() < deadline:
            if any(p["batchId"] >= last_batch for p in self.listener.progress):
                break
            time.sleep(0.05)
        self.spark.streams.removeListener(self.listener)
        seen = {}
        for p in self.listener.progress:
            if p["numInputRows"] or p["durationMs"].get("addBatch"):
                seen[p["batchId"]] = p
        return [seen[b] for b in sorted(seen)]


PROGRESS_PHASES = (
    "triggerExecution", "addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets",
)


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# --- cdc_trickle ------------------------------------------------------------
def trickle_ticks(seed: int, n_snapshot: int, n_ticks: int, t_start: float) -> list[tuple]:
    """The open-loop schedule: ``(due_epoch_s, events)`` per tick, an event
    being ``(action, key, row, line)``. 80% of events insert a fresh serial
    id; the rest update (12%) or delete (8%) one of the 50 newest inserted
    keys. ``created_at`` counts ticks from a fixed date, so the same seed
    gives the same events. Malformed lines have action ``None``."""
    rng = random.Random(seed * 104729 + 7)
    next_id = n_snapshot + 1
    alive: list[int] = []
    rows: dict[int, dict] = {}
    seq = 0
    ticks = []
    for i in range(n_ticks):
        due = t_start + i * TRICKLE_TICK_S
        ts = _ts(BASE_TS + dt.timedelta(seconds=i * TRICKLE_TICK_S))
        events = []
        for _ in range(TRICKLE_EVENTS_PER_TICK):
            seq += 1
            r = rng.random()
            if r < 0.8 or not alive:
                key, action = next_id, "I"
                next_id += 1
                row = rows[key] = _person(rng, key, ts)
                alive.append(key)
            else:
                key = rng.choice(alive[-TRICKLE_RECENT_KEYS:])
                if r < 0.92:
                    action = "U"
                    row = rows[key] = {**rows[key], "name": f"{rng.choice(NAMES)}_{key}",
                                       "score": rng.randint(1, 100)}
                else:
                    action, row = "D", None
                    alive.remove(key)
                    del rows[key]
            events.append((action, key, row, wal2json_line(seq, action, row, key, ts)))
        if i % TRICKLE_MALFORMED_EVERY == TRICKLE_MALFORMED_EVERY // 2:
            events.append((None, None, None, MALFORMED[i % len(MALFORMED)]))
        ticks.append((due, events))
    return ticks


class Monitor:
    """The pubsub monitor loop (``pubsub/main.go:128``): every 5 s, a
    ``replication_lag_seconds`` read and a ``sync_check`` of the source
    against the target, on its own thread beside the pipeline's writes."""

    def __init__(self, run: Run, pipe, snapshot, predicate, ticks, t_first: float):
        from postgres_cdc_example_spark.streaming import monitor

        self.run, self.pipe, self.snapshot, self.predicate = run, pipe, snapshot, predicate
        self.ticks, self.mod = ticks, monitor
        self.tick_ms: list[float] = []
        self.errors = 0
        self.n_source = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(t_first,), daemon=True)

    def source(self, now: float):
        """The reference's source table as of ``now``: the snapshot plus the
        net effect of every event due by then."""
        rows: dict = {}
        fold(rows, (e for due, evs in self.ticks if due <= now for e in evs), filtered=False)
        self.n_source += 1
        path = self.run.path(f"source-{self.n_source}")
        return self.snapshot.unionByName(rows_frame(self.pipe.spark, rows, path))

    def check(self, now: float):
        """One monitor tick: the ``sync_check`` verdict row, after a
        ``replication_lag_seconds`` read."""
        target = self.pipe.state()
        self.mod.replication_lag_seconds(target, "created_at").collect()
        return self.mod.sync_check(self.source(now), target, self.predicate).collect()[0]

    def _loop(self, t_next: float) -> None:
        while not self._stop.wait(max(0.0, t_next - time.time())):
            t0 = time.perf_counter()
            try:
                self.check(time.time())
            except Exception as exc:  # noqa: BLE001 - a failed tick is a failed operation
                self.errors += 1
                self.run.notes.append(f"monitor tick: {type(exc).__name__}: {exc}"[:300])
            else:
                self.tick_ms.append((time.perf_counter() - t0) * 1e3)
            t_next += TRICKLE_MONITOR_S

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=60)


def cdc_trickle(run: Run) -> None:
    from pyspark.sql import functions as F

    from postgres_cdc_example_spark.sources.generator import person_batch
    from postgres_cdc_example_spark.streaming.pipeline import CdcPipeline

    spark = run.start_spark()
    predicate = F.col("score") % 2 == 0
    snapshot = person_batch(spark, TRICKLE_SNAPSHOT_ROWS, seed=run.seed)
    root = run.path("pipe")
    src = os.path.join(root, "changes")
    os.makedirs(src)
    t_ready = time.perf_counter()
    pipe = CdcPipeline(
        spark, source_dir=src, state_root=os.path.join(root, "state"),
        checkpoint_dir=os.path.join(root, "ckpt"), predicate=predicate,
        trigger_interval=f"{TRICKLE_TRIGGER_S:g} seconds",
    )
    pipe.backfill(snapshot)
    backfill_s = time.perf_counter() - t_ready
    clock = BatchClock(run.tracer, pipe)
    progress = Progress(spark, run.trace)

    # The first ticks are written before the stream starts, so the first
    # (cold) batch takes them while the schedule has not begun. Spark fires
    # processing-time triggers on multiples of the interval since the epoch;
    # the schedule starts a fixed offset after such a boundary.
    period = TRICKLE_TRIGGER_S
    t_start = ((time.time() + TRICKLE_LEAD_S) // period + 1) * period + TRICKLE_OFFSET_S
    n_pre = TRICKLE_PRE_TICKS
    n_warm = round(TRICKLE_WARM_S / TRICKLE_TICK_S)
    n_meas = round(run.seconds / TRICKLE_TICK_S)
    ticks = trickle_ticks(run.seed, TRICKLE_SNAPSHOT_ROWS, n_pre + n_warm + n_meas,
                          t_start - n_pre * TRICKLE_TICK_S)
    names = [f"changes-{i:06d}.json" for i in range(len(ticks))]
    for i in range(n_pre):
        write_file(src, names[i], [e[3] for e in ticks[i][1]],
                   mtime_ns=time.time_ns() - (n_pre - i) * 10**7)
    query = pipe.start()
    plan = [[due, name, [e[3] for e in evs]] for name, (due, evs) in list(zip(names, ticks))[n_pre:]]
    plan_path, log_path = run.path("plan.json"), run.path("written.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    t_meas = t_start + n_warm * TRICKLE_TICK_S
    since = time.perf_counter() + (t_meas - time.time())
    monitor = Monitor(run, pipe, snapshot, predicate, ticks, t_meas)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "trickle_gen.py"),
         plan_path, src, log_path],
    )
    warm_s = t_meas - time.time() + (time.perf_counter() - t_ready)
    try:
        monitor.start()
        gen.wait(timeout=ticks[-1][0] - time.time() + 30)
        # Every file committed: its batch is in the source log and done.
        deadline = time.time() + 30
        while time.time() < deadline:
            files = source_log(pipe.checkpoint_dir)
            if all(n in files and files[n] in clock.end for n in names):
                break
            time.sleep(0.1)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        monitor.stop()
    query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")

    # -- outside the timed region from here on
    files = source_log(pipe.checkpoint_dir)
    missing = [n for n in names if n not in files or files[n] not in clock.end]
    with open(log_path) as f:
        written = {name: (due, at) for name, due, at in json.load(f)}
    latencies, late_ms = [], []
    measured = list(zip(names, ticks))[n_pre + n_warm:]
    last_commit = 0.0
    for name, (due, evs) in measured:
        late_ms.append((written[name][1] - due) * 1e3)
        if name in missing:
            continue
        end = clock.end[files[name]]
        latencies.extend([(end - due) * 1e3] * len(evs))
        last_commit = max(last_commit, end)
        run.attempted += len(evs)
    run.fail(sum(len(ticks[names.index(n)][1]) for n in missing), f"{len(missing)} files never committed")
    verdict = monitor.check(ticks[-1][0])
    all_events = [e for _, evs in ticks for e in evs]
    # The events touch only keys they insert, so snapshot keys must equal the
    # filtered snapshot and the rest must equal the fold of the events alone.
    stream_rows: dict = {}
    fold(stream_rows, all_events, filtered=True)
    actual = pipe.state()
    key = F.col("id") <= TRICKLE_SNAPSHOT_ROWS
    bad = mismatched_keys(snapshot.filter(predicate), actual.filter(key))
    bad += mismatched_keys(rows_frame(spark, stream_rows, run.path("expected")), actual.filter(~key))
    run.fail(bad, "state differs from the filtered serial fold")
    n_dead = sum(1 for e in all_events if e[0] is None)
    run.fail(abs(pipe.dead_letter_count - n_dead),
             f"{pipe.dead_letter_count} dead letters, {n_dead} injected")
    run.fail(1 - verdict["in_sync"], "final sync_check is not in sync")
    run.fail(monitor.errors, "monitor ticks failed")

    # The traced numbers cover the batches that hold measured events.
    first_meas = min(files[n] for n, _ in measured if n in files)
    prog = [p for p in progress.settle(max(clock.end)) if p["batchId"] >= first_meas]
    if run.trace:
        t, lay = run.tracer, run.layer
        lay["pipeline.apply_batch_ms"] = median(t.durations_ms("pipeline.apply_batch", since))
        lay["pipeline.apply_batch_self_ms"] = median(t.self_ms("pipeline.apply_batch", since))
        lay["pipeline.batches"] = sum(1 for b in clock.end if b >= first_meas)
        lines = sum(len(evs) for n, (_, evs) in zip(names, ticks) if files.get(n, -1) >= first_meas)
        lay["pipeline.input_rows_ratio"] = sum(p["numInputRows"] for p in prog) / lines
        for phase in PROGRESS_PHASES:
            lay[f"progress.{phase}_ms"] = median(p["durationMs"].get(phase, 0) for p in prog)
        lay["changelog.lines_in"] = len(all_events)
        lay["changelog.dead_letters"] = pipe.dead_letter_count
        lay["state.commit_ms"] = median(t.durations_ms("state.commit", since))
        lay["state.read_ms"] = median(t.durations_ms("state.read", since))
        state_root = pipe.store.root
        lay["state.disk_bytes"] = _tree_bytes(state_root)
        latest = max(d for d in os.listdir(state_root) if d.startswith("v"))
        lay["state.version_bytes"] = _tree_bytes(os.path.join(state_root, latest))
    run.layer["state.rows"] = verdict["target_count"]
    run.layer["monitor.tick_ms"] = median(monitor.tick_ms)
    run.layer["monitor.ticks"] = len(monitor.tick_ms)
    run.layer["monitor.in_sync_final"] = verdict["in_sync"]
    run.layer["generator.late_ms_max"] = max(late_ms)
    run.layer["snapshot.backfill_s"] = backfill_s
    run.layer["warmup_s"] = warm_s
    run.e2e["setup_s"] = run.layer["session.start_s"] + warm_s
    run.e2e["ops_per_s"] = run.attempted / (last_commit - measured[0][1][0])
    run.e2e["latency_p50_ms"] = percentile(latencies, 50)
    run.e2e["latency_p90_ms"] = percentile(latencies, 90)
    per_batch = {}
    for name, (due, evs) in list(zip(names, ticks)):
        if name in files:
            per_batch.setdefault(files[name], []).append(round((clock.end[files[name]] - due) * 1e3))
    run.notes.append(f"batches={ {b: (min(v), max(v), len(v)) for b, v in sorted(per_batch.items())} }")
