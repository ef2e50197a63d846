"""The workloads. Each drives the engine only through its public
API with inputs generated from the run's seed, times a window of
``seconds`` after a fixed warm-up, and checks every output against the
DuckDB oracle outside that window.

Every workload reports the same end-to-end metrics (perfbench/DESIGN.md
says what each one means on each workload) plus, when traced, the same
per-layer metrics (zero where a layer is not exercised).
"""

from __future__ import annotations

import hashlib
import os
import random
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import (
    CHANGE_SCHEMA, synthetic_changestream)
from th2_listener_mysql_binlog_go_spark.sources.rawjson import (
    decode_stream, encode_stream_batched)
from th2_listener_mysql_binlog_go_spark.streaming import (
    StreamingApplier, StreamingWireApplier, StreamingWirePublisher)
from th2_listener_mysql_binlog_go_spark.streaming.structured import WIRE_SCHEMA

from .harness import Counter, log, median, tail
from .oracle import Oracle, fingerprint

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]
KEYS = ["repo", "path"]
NUM_BUCKETS = 8

# Closed loop: the window runs timed rounds until this share of it has
# passed, then point lookups for the rest.
ROLL_SHARE = 0.7
MIN_ROLLS = 3
MIN_LOOKUPS = 25
LOOKUP_KEYS = 256

# live_tail: a constant offered load, far under what the engine sustains
# here; never derived from a measured capacity, so the parent and a change
# always face the same load.
LIVE_EVENTS_PER_S = 800
LIVE_TICK_S = 0.25
LIVE_WARM_S = 25.0
# the reader looks up keys drawn from this many DML rows of each tick
LIVE_KEYS_PER_TICK = 8
# after the window the generator stops; whatever is still uncommitted
# this long afterwards is backlog the engine did not keep up with
LIVE_DRAIN_S = 10.0
# inline compaction once deltas exceed two epochs' worth of files, so a
# window spans several compaction cycles
LIVE_AUTO_COMPACT = 2 * NUM_BUCKETS

# wire_ddl: publish the archive (one parquet file) as wire JSON, then
# apply the wire files one per epoch. The publisher writes a DML file and a
# DDL file, so every round applies the same two epochs. The stream carries
# TRUNCATEs at fixed positions (so the share of dead rows is the same for
# every seed) and ADD COLUMNs at seeded QUERY positions.
WIRE_EVENTS = 8_000
WIRE_TRUNCATE_AT = (0.2, 0.4)
WIRE_ALTERS = 3
WIRE_WARM_ROUNDS = 2
WIRE_FILES_PER_TRIGGER = 1


class Run:
    """What a workload hands back to ``run.py``."""

    def __init__(self):
        self.ops = Counter()
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.notes: dict[str, object] = {}


# --------------------------------------------------------------------------
# shared pieces


def _stream(spark, n: int, seed: int, partitions: int):
    """The engine's seeded generator without its random TRUNCATEs (their
    position would swing live-row counts from seed to seed); each of the
    ``partitions`` holds one contiguous gtid range."""
    return synthetic_changestream(spark, n, n_repos=200, n_paths=2000, seed=seed,
                                  with_truncate=False, n_partitions=partitions)


def _table_rows(table):
    return [tuple(r) for r in table.read().select(
        "repo", "path", "commit", "lang", F.sha2("content", 256)).collect()]


def _check_state(run: Run, table, expected: dict, what: str) -> None:
    got = fingerprint(_table_rows(table))
    want = fingerprint([(k[0], k[1], v[0], v[1], v[2]) for k, v in expected.items()])
    run.ops.check(got == want, f"{what}: final-state fingerprint {got[:12]} == oracle {want[:12]}")


def _row_of(rows) -> tuple | None:
    """A lookup's answer in oracle form: (commit, lang, sha256(content)),
    None for no row, and a marker no oracle row equals for several rows."""
    if len(rows) != 1:
        return None if not rows else (f"{len(rows)} rows",)
    r = rows[0]
    c = r["content"]
    return (r["commit"], r["lang"], hashlib.sha256(c.encode()).hexdigest() if c is not None else None)


def _snapshot_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.root, fi["path"]))
               for fi in table.snapshot.files)


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _lineage(lineage_dir: str) -> list[dict]:
    """Batch-level lineage rows the engine wrote, with each file's mtime."""
    out = []
    if not os.path.isdir(lineage_dir):
        return out
    for fn in sorted(os.listdir(lineage_dir)):
        p = os.path.join(lineage_dir, fn)
        mt = os.stat(p).st_mtime
        for r in pq.read_table(p).to_pylist():
            if r["partition_id"] == -1:
                out.append(dict(r, mtime=mt))
    return out


def _versions(table) -> list[tuple[float, dict]]:
    """(commit mtime, history entry) per snapshot version, oldest first."""
    meta = os.path.join(table.root, "_meta")
    return [(os.stat(os.path.join(meta, f"v{h['version']:012d}.json")).st_mtime, h)
            for h in table.history()]


def _segments_per_batch(table) -> float:
    """Snapshot versions that advanced the sub-batch id, per batch id."""
    subs = {h["last_batch_id"] for _, h in _versions(table) if h["last_batch_id"] >= 0}
    batches = {s // 1024 for s in subs}
    return len(subs) / len(batches) if batches else 0.0


def _closed_lookups(run: Run, table, expected: dict, rng: random.Random,
                    deadline: float) -> tuple[list[float], list[int]]:
    """One client issuing point lookups of live oracle keys until
    ``deadline`` (at least MIN_LOOKUPS), with buckets computed up front as
    a point-read loop does; each result must be the oracle's row."""
    keys = rng.sample(sorted(expected), min(LOOKUP_KEYS, len(expected)))
    buckets = table.key_buckets(keys)
    lat = []
    while time.monotonic() < deadline or len(lat) < MIN_LOOKUPS:
        i = rng.randrange(len(keys))
        t0 = time.monotonic()
        rows = table.lookup(*keys[i], bucket=buckets[i]).collect()
        lat.append(time.monotonic() - t0)
        run.ops.op(_row_of(rows) == expected[keys[i]], f"lookup {keys[i]}")
    return lat, buckets


def _probe_functions(ctx, run: Run, stream_df, wire_dir: str | None) -> None:
    """Traced runs only: the functions layer works inside lazy plans, so
    time it with two noop-sink probes over this workload's stream: the
    batched wire encoder, and the decoder over wire files."""
    spark = ctx.spark

    def timed(df) -> float:
        df.write.mode("overwrite").format("noop").save()  # warms the plan cache
        t0 = time.monotonic()
        df.write.mode("overwrite").format("noop").save()
        return time.monotonic() - t0

    enc = encode_stream_batched(stream_df, max_size=1 << 20, split_mode="cumsum")
    run.layers["functions.encode_split_s"] = timed(enc)
    if wire_dir is None:
        wire_dir = ctx.work.path("probe-wire")
        enc.write.mode("overwrite").json(wire_dir)
    run.layers["functions.decode_s"] = timed(
        decode_stream(spark.read.schema(WIRE_SCHEMA).json(wire_dir)))
    n_events = stream_df.count()
    msgs = byts = 0
    for d, _, fs in os.walk(wire_dir):
        for f in fs:
            if f.endswith(".json"):
                p = os.path.join(d, f)
                byts += os.path.getsize(p)
                with open(p, "rb") as fh:
                    msgs += sum(1 for _ in fh)
    run.layers["sources.wire_messages_per_event"] = msgs / n_events
    run.layers["sources.wire_bytes_per_event"] = byts / n_events


class Resources:
    """JVM GC and CPU time over an interval."""

    def __init__(self, sess):
        self.sess = sess
        self.gc0, self.cpu0, self.t0 = sess.gc_s(), sess.cpu_s(), time.monotonic()

    def close(self) -> dict:
        s = self.sess
        return {"gc_s": s.gc_s() - self.gc0, "cpu_s": s.cpu_s() - self.cpu0,
                "wall_s": time.monotonic() - self.t0}


def _resource_layers(ctx, run: Run, res: dict, batches: int, events: int,
                     jobs: set[int]) -> None:
    """Spark jobs/tasks per batch (public status tracker) and JVM GC/CPU."""
    run.layers["spark.jobs_per_batch"] = len(jobs) / max(batches, 1)
    run.layers["spark.tasks_per_batch"] = ctx.sess.tasks_of(jobs) / max(batches, 1)
    run.layers["jvm.gc_s"] = res["gc_s"]
    run.layers["jvm.cpu_s_per_kevent"] = res["cpu_s"] / (events / 1000.0)
    run.layers["jvm.cpu_util"] = res["cpu_s"] / (res["wall_s"] * ctx.sess.cpus)


def _span_layers(ctx, run: Run, t0: float, t1: float, units: int) -> None:
    """Span-derived layer metrics; totals and counts are per timed round
    (live_tail: per window)."""
    tr = ctx.tracer
    per = 1.0 / max(units, 1)
    applies = tr.within("operators.apply", t0, t1)
    gaps = tr.epoch_gaps(t0, t1)
    run.layers.update({
        "streaming.batches": len(applies) * per,
        "streaming.epoch_gap_s": median(gaps) if gaps else 0.0,
        "operators.apply_s": median([s["end"] - s["start"] for s in applies]) if applies else 0.0,
        "operators.apply_self_s": tr.self_time("operators.apply", t0, t1) * per,
        "plans.merge_s": tr.total("plans.merge", t0, t1) * per,
        "plans.compact_s": tr.total("plans.compact", t0, t1) * per,
        "plans.compactions": len(tr.within("plans.compact", t0, t1)) * per,
        "plans.schema_change_s": tr.total("plans.schema_change", t0, t1) * per,
        "plans.commit_conflicts": float(tr.conflicts),
    })


def _lookup_layers(run: Run, probes: list[tuple]) -> None:
    """probes: (snapshot, key's bucket) per lookup — delta files in that
    snapshot, and files the lookup had to open in the key's bucket."""
    if not probes:
        return
    nd, nf = [], []
    for snap, b in probes:
        nd.append(sum(1 for fi in snap.files if fi.get("kind") == "delta"))
        nf.append(sum(1 for fi in snap.files if fi["bucket"] == b))
    run.layers["plans.delta_files_at_lookup"] = sum(nd) / len(nd)
    run.layers["plans.files_per_lookup"] = sum(nf) / len(nf)


# --------------------------------------------------------------------------
# live_tail


class _Ticks:
    """The open-loop generator: one parquet file per tick into the source
    dir, on a fixed schedule that does not slow when the engine does."""

    def __init__(self, events: pa.Table, src: str, n_ticks: int, rng: random.Random):
        self.src = src
        self.per_tick = int(LIVE_EVENTS_PER_S * LIVE_TICK_S)
        self.slices = [events.slice(i * self.per_tick, self.per_tick) for i in range(n_ticks)]
        self.written: list[float | None] = [None] * n_ticks
        self.max_gtid, self.keys = [], []
        for s in self.slices:
            dml = s.filter(pc.and_(
                pc.is_in(s["op"], pa.array(["INSERT", "UPDATE", "DELETE"])),
                pc.equal(s["table_name"], "files")))
            self.max_gtid.append(pc.max(dml["gtid"]).as_py())
            keys = list(zip(*(pc.coalesce(pc.struct_field(dml["after"], f),
                                          pc.struct_field(dml["before"], f)).to_pylist()
                              for f in KEYS)))
            self.keys.append(rng.sample(keys, min(LIVE_KEYS_PER_TICK, len(keys))))
        self.thread = threading.Thread(target=self._loop, name="perfbench-ticks", daemon=True)

    def start(self, t_start: float) -> None:
        self.t_start = t_start
        self.due = [t_start + i * LIVE_TICK_S for i in range(len(self.slices))]
        self.thread.start()

    def _loop(self) -> None:
        for i, s in enumerate(self.slices):
            time.sleep(max(0.0, self.due[i] - time.time()))
            tmp = os.path.join(self.src, f".tick-{i:06d}.parquet")
            pq.write_table(s, tmp)
            os.rename(tmp, os.path.join(self.src, f"tick-{i:06d}.parquet"))
            self.written[i] = time.time()


def live_tail(ctx, seed: int, seconds: float) -> Run:
    spark, run, rng = ctx.spark, Run(), random.Random(seed)

    t = time.monotonic()
    n_ticks = int(round((LIVE_WARM_S + seconds) / LIVE_TICK_S))
    n_events = int(n_ticks * LIVE_EVENTS_PER_S * LIVE_TICK_S)
    events = _stream(spark, n_events, seed, ctx.sess.cpus).toArrow().sort_by("gtid")
    oracle = Oracle(events)
    src = ctx.work.path("src")
    os.makedirs(src)
    run.layers["sources.generate_s"] = time.monotonic() - t
    log(f"inputs generated in {run.layers['sources.generate_s']:.2f}s")

    table = LakeTable.create(spark, ctx.work.path("table"), SCHEMA, key_cols=KEYS,
                             num_buckets=NUM_BUCKETS)
    ticks = _Ticks(events, src, n_ticks, rng)
    # the reader's keys and their buckets, computed once as a point-read
    # loop does (the bucket count never changes during the run)
    all_keys = sorted({k for ks in ticks.keys for k in ks})
    bucket_of = dict(zip(all_keys, table.key_buckets(all_keys)))
    applier = StreamingApplier(
        spark, table, config=ApplyConfig(auto_compact_deltas=LIVE_AUTO_COMPACT),
        lineage_dir=ctx.work.path("lineage"))
    query = applier.start(src, ctx.work.path("ckpt"), CHANGE_SCHEMA, available_now=False)
    ticks.start(time.time() + 0.5)
    w0_wall = ticks.t_start + LIVE_WARM_S
    w1_wall = ticks.t_start + n_ticks * LIVE_TICK_S

    lookups: list[tuple] = []  # (latency, key, snapshot) inside the window
    stop_reader = threading.Event()
    reader_err: list[Exception] = []

    def reader():
        spark.sparkContext.setJobGroup("perfbench-reader", "point lookups")
        committed = 0
        try:
            while not stop_reader.is_set():
                snap = table.snapshot
                wm = int(snap.properties.get("watermark_gtid", "-1"))
                while committed < n_ticks and ticks.max_gtid[committed] <= wm:
                    committed += 1
                if committed == 0:
                    time.sleep(0.05)
                    continue
                keys = ticks.keys[rng.randrange(committed)]
                key = keys[rng.randrange(len(keys))]
                t_s = time.time()
                t0 = time.monotonic()
                rows = table.lookup(*key, snapshot=snap, bucket=bucket_of[key]).collect()
                dt = time.monotonic() - t0
                if w0_wall <= t_s < w1_wall:
                    lookups.append((dt, key, snap, _row_of(rows)))
        except Exception as e:  # reported as a failed op after the join
            reader_err.append(e)

    rthread = threading.Thread(target=reader, name="perfbench-reader", daemon=True)
    rthread.start()
    time.sleep(max(0.0, w0_wall - time.time()))
    ctx.setup_done()

    w0 = time.monotonic()
    group = str(query.runId)
    res = Resources(ctx.sess)
    jobs0 = ctx.sess.job_ids(group)
    time.sleep(max(0.0, w1_wall - time.time()))
    ticks.thread.join()
    stop_reader.set()
    rthread.join()
    w1 = time.monotonic()
    rres = res.close()
    jobs = ctx.sess.job_ids(group) - jobs0

    def uncommitted() -> int:
        wm = table.watermark_gtid
        return sum(ticks.per_tick for g in ticks.max_gtid if g > wm)

    run.notes["uncommitted_at_window_end"] = uncommitted()
    deadline = time.monotonic() + LIVE_DRAIN_S
    while uncommitted() and time.monotonic() < deadline:
        time.sleep(0.1)
    backlog = uncommitted()
    query.stop()
    if query.exception() is not None:
        run.ops.op(False, f"streaming query failed: {query.exception()}")
    if reader_err:
        run.ops.op(False, f"reader failed: {reader_err[0]!r}")

    # freshness: per window tick, first committed version covering its
    # max gtid (version-file mtime) minus the tick's due time
    versions = _versions(table)
    in_window = [i for i in range(n_ticks) if w0_wall <= ticks.due[i] < w1_wall]
    vis_of = {}
    for i in in_window:
        vis = next((mt for mt, h in versions if h["watermark_gtid"] >= ticks.max_gtid[i]), None)
        if run.ops.op(vis is not None, f"tick {i} never committed"):
            vis_of[i] = vis
    fresh = [vis_of[i] - ticks.due[i] for i in in_window if i in vis_of]
    epochs = [r for r in _lineage(ctx.work.path("lineage")) if w0_wall <= r["mtime"] <= w1_wall]
    busy = sum(r["wall_ms"] for r in epochs) / 1000.0
    rows_applied = sum(r["rows_applied"] for r in epochs)
    expected = oracle.state()
    _report(run, events_per_s=[rows_applied / busy] if busy else [],
            freshness=fresh, lookups=[lk[0] for lk in lookups],
            bytes_per_row=_snapshot_bytes(table) / max(len(expected), 1))
    run.samples["epochs"] = len(epochs)
    # plateau evidence: freshness p50 of each quarter of the window
    q = len(in_window) // 4
    run.notes["freshness_p50_by_quarter"] = [
        round(median([vis_of[i] - ticks.due[i] for i in in_window[k * q:(k + 1) * q]
                      if i in vis_of]), 3) for k in range(4)] if q else []
    late = [ticks.written[i] - ticks.due[i] for i in in_window if ticks.written[i] is not None]

    # correctness: final state, every windowed lookup against the oracle as
    # of its snapshot's watermark, and no backlog left after the drain
    _check_state(run, table, expected, "live_tail")
    want = oracle.rows_as_of([(k[0], k[1], int(s.properties["watermark_gtid"]))
                              for _, k, s, _ in lookups])
    bad = sum(not run.ops.op(got == w, f"live lookup {k}")
              for (_, k, _, got), w in zip(lookups, want))
    log(f"live_tail: {len(lookups)} lookups checked against the oracle, {bad} wrong")
    run.ops.check(backlog <= ticks.per_tick,
                  f"live_tail: backlog {LIVE_DRAIN_S:.0f}s after the last tick: {backlog} "
                  f"events <= one tick ({ticks.per_tick})")
    run.notes["generator_late_s_max"] = max(late) if late else 0.0

    if ctx.tracer:
        _span_layers(ctx, run, w0, w1, 1)
        _resource_layers(ctx, run, rres, len(epochs), max(rows_applied, 1), jobs)
        run.layers["operators.segments_per_batch"] = _segments_per_batch(table)
        run.layers["operators.ddl_applied"] = float(sum(
            r["ddl_applied"] for r in _lineage(ctx.work.path("lineage"))))
        run.layers["plans.bytes_written_per_event"] = _dir_bytes(
            os.path.join(table.root, "data")) / n_events
        run.layers["harness.generator_late_s"] = max(late) if late else 0.0
        run.layers["harness.backlog_events_end"] = float(backlog)
        _lookup_layers(run, [(s, bucket_of[k]) for _, k, s, _ in lookups])
        _probe_functions(ctx, run, _stream(spark, n_events, seed, ctx.sess.cpus), None)
    oracle.close()
    return run


# --------------------------------------------------------------------------
# wire_ddl


def wire_ddl(ctx, seed: int, seconds: float) -> Run:
    spark, run, rng = ctx.spark, Run(), random.Random(seed)

    t = time.monotonic()
    base = _stream(spark, WIRE_EVENTS, seed, 1)
    truncs = [int(WIRE_EVENTS * f) for f in WIRE_TRUNCATE_AT]
    queries = sorted(r["gtid"] for r in base.filter("op = 'QUERY'").select("gtid").collect()
                     if r["gtid"] not in truncs)
    alters = sorted(rng.sample(queries, WIRE_ALTERS))
    cols = [f"c{seed % 1000}_{i}" for i in range(WIRE_ALTERS)]
    null_row = F.lit(None).cast(
        "struct<repo:string,path:string,commit:string,lang:string,content:string>")
    is_t = F.col("gtid").isin(truncs)
    alter_ddl = F.lit(None).cast("string")
    for g, c in zip(alters, cols):
        alter_ddl = F.when(F.col("gtid") == g, F.lit(f"ALTER TABLE repos.files ADD COLUMN {c} INT")) \
            .otherwise(alter_ddl)
    stream = base.select(
        "gtid", "log_name", "log_pos", "seq", "ts", "schema_name",
        F.when(is_t, F.lit("files")).otherwise(F.col("table_name")).alias("table_name"),
        F.when(is_t, F.lit("TRUNCATE")).otherwise(F.col("op")).alias("op"),
        F.when(is_t, null_row).otherwise(F.col("before")).alias("before"),
        F.when(is_t, null_row).otherwise(F.col("after")).alias("after"),
        F.when(is_t, F.lit("TRUNCATE TABLE repos.files;"))
        .otherwise(F.coalesce(alter_ddl, F.col("ddl"))).alias("ddl"))
    src = ctx.work.path("src")
    stream.write.parquet(src)
    source = spark.read.parquet(src)
    oracle = Oracle(src)
    expected = oracle.state()
    n_ddl = len(truncs) + WIRE_ALTERS
    run.layers["sources.generate_s"] = time.monotonic() - t
    log(f"inputs generated in {run.layers['sources.generate_s']:.2f}s")

    def round_(i: int):
        wire = ctx.work.path(f"wire{i}")
        t0 = time.monotonic()
        StreamingWirePublisher(spark).start(
            src, wire, ctx.work.path(f"ckpt-pub{i}"), CHANGE_SCHEMA).awaitTermination()
        t1 = time.monotonic()
        table = LakeTable.create(spark, ctx.work.path(f"t{i}"), SCHEMA, key_cols=KEYS,
                                 num_buckets=NUM_BUCKETS)
        q = StreamingWireApplier(spark, table, lineage_dir=ctx.work.path(f"lineage{i}")) \
            .start(wire, ctx.work.path(f"ckpt-app{i}"),
                   max_files_per_trigger=WIRE_FILES_PER_TRIGGER)
        q.awaitTermination()
        return table, t1 - t0, time.monotonic() - t1, str(q.runId)

    for i in range(WIRE_WARM_ROUNDS):
        _, p, a, _ = round_(-1 - i)
        log(f"wire_ddl warm-up round {i}: publish {p:.2f}s apply {a:.2f}s")
        for d in (f"t{-1 - i}", f"wire{-1 - i}", f"ckpt-pub{-1 - i}", f"ckpt-app{-1 - i}"):
            ctx.work_rm(d)
    ctx.setup_done()

    w0 = time.monotonic()
    res = Resources(ctx.sess)
    pubs, apps, groups, i, table = [], [], [], 0, None
    while i < MIN_ROLLS or time.monotonic() - w0 < ROLL_SHARE * seconds:
        if table is not None:
            for d in (f"t{i - 1}", f"wire{i - 1}", f"ckpt-pub{i - 1}", f"ckpt-app{i - 1}"):
                ctx.work_rm(d)
        table, p, a, g = round_(i)
        groups.append(g)
        pubs.append(p)
        apps.append(a)
        lin = _lineage(ctx.work.path(f"lineage{i}"))
        run.ops.attempted += len(lin)
        ddl = sum(r["ddl_applied"] for r in lin)
        run.ops.check(ddl == n_ddl, f"wire_ddl round {i}: ddl_applied {ddl} == generated {n_ddl}")
        log(f"wire_ddl round {i}: publish {p:.2f}s apply {a:.2f}s, epochs "
            + " ".join(f"{r['wall_ms']}ms/{r['rows_applied']}r/{r['ddl_applied']}d" for r in lin))
        i += 1
    w_rounds = time.monotonic()
    rres = res.close()
    lat, buckets = _closed_lookups(run, table, expected, rng, w0 + seconds)
    w1 = time.monotonic()

    fresh = [r["wall_ms"] / 1000.0 for k in range(len(apps))
             for r in _lineage(ctx.work.path(f"lineage{k}"))]
    _report(run, events_per_s=[WIRE_EVENTS / (p + a) for p, a in zip(pubs, apps)],
            freshness=fresh, lookups=lat,
            bytes_per_row=_snapshot_bytes(table) / len(expected))
    run.notes["rounds_s"] = [round(p + a, 3) for p, a in zip(pubs, apps)]
    run.notes["publish_events_per_s"] = median([WIRE_EVENTS / p for p in pubs])
    run.notes["apply_events_per_s"] = median([WIRE_EVENTS / a for a in apps])

    _check_state(run, table, expected, "wire_ddl")
    got_cols = [c.name for c in table.snapshot.columns]
    run.ops.check(all(c in got_cols for c in cols), f"wire_ddl: added columns {cols} exist")
    nonnull = table.read().select(
        sum((F.col(c).isNotNull().cast("int") for c in cols), F.lit(0)).alias("n")) \
        .agg(F.sum("n")).collect()[0][0] or 0
    run.ops.check(nonnull == 0, f"wire_ddl: added columns hold {nonnull} non-NULL values")

    if ctx.tracer:
        _span_layers(ctx, run, w0, w_rounds, len(apps))
        batches = len(ctx.tracer.within("operators.apply", w0, w_rounds))
        jobs = set().union(*(ctx.sess.job_ids(g) for g in groups))
        _resource_layers(ctx, run, rres, batches, WIRE_EVENTS * len(apps), jobs)
        run.layers["streaming.publish_s"] = median(pubs)
        run.layers["operators.segments_per_batch"] = _segments_per_batch(table)
        run.layers["operators.ddl_applied"] = float(sum(
            r["ddl_applied"] for r in _lineage(ctx.work.path(f"lineage{len(apps) - 1}"))))
        run.layers["plans.bytes_written_per_event"] = _dir_bytes(
            os.path.join(table.root, "data")) / WIRE_EVENTS
        _lookup_layers(run, [(table.snapshot, b) for b in buckets])
        _probe_functions(ctx, run, source, ctx.work.path(f"wire{len(apps) - 1}"))
    oracle.close()
    return run


def _report(run: Run, events_per_s: list[float], freshness: list[float],
            lookups: list[float], bytes_per_row: float) -> None:
    run.e2e["events_per_s"] = median(events_per_s) if events_per_s else 0.0
    if freshness:
        run.e2e["freshness_s_p50"] = median(freshness)
        run.e2e["freshness_s_tail"], pct = tail(freshness)
        run.notes["freshness_tail_pct"] = round(pct, 1)
    if lookups:
        run.e2e["lookup_s_p50"] = median(lookups)
        run.e2e["lookup_s_tail"], pct = tail(lookups)
        run.notes["lookup_tail_pct"] = round(pct, 1)
    run.e2e["bytes_per_live_row"] = bytes_per_row
    run.samples.update(events_per_s=len(events_per_s), freshness=len(freshness),
                       lookups=len(lookups))


WORKLOADS = {"live_tail": live_tail, "wire_ddl": wire_ddl}
