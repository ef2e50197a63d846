"""Snapshot-versioned, hash-bucketed lake table format on plain parquet.

The north rule asks for Iceberg-style apply semantics (MERGE upsert, schema
evolution, exactly-once commits, time travel for lineage) but this sandbox
ships no Iceberg/Delta jars, so this module implements the minimal table
format that supplies them, Iceberg/Hudi-style:

- **Atomic snapshot pointer.** Every commit writes an immutable JSON
  snapshot (``_meta/v{N}.json``) and atomically swaps ``_meta/HEAD`` to it
  (``os.replace``). Readers always see a complete snapshot; a crashed
  writer leaves only unreachable data files (cleanable, never corrupting).
- **Column-id based schema evolution** (like Iceberg's field-ids): every
  column gets a stable integer id; each commit records the physical schema
  of the files it wrote (a "schema epoch"). ADD/RENAME/WIDEN/DROP are
  metadata-only — old files are re-mapped on read by id, missing columns
  materialize as NULL, narrower physical types are cast up.
- **Hash-bucket layout.** Rows are assigned
  ``bucket = pmod(xxhash64(key...), num_buckets)``; every data file belongs
  to exactly one bucket, so key-scoped work (merge, compaction, point
  lookups) touches only its buckets' files.
- **Two merge strategies** (the Hudi CoW/MOR split):

  * ``mode='mor'`` (default scale path): the batch is appended as
    per-bucket *delta* files — DELETE rows become tombstones. One
    bucket-hash shuffle + write, no sort: cost is O(batch) regardless of
    table size and the target is never read.
    Readers resolve only *dirty* buckets (those holding deltas) with a
    last-writer-wins window; clean buckets stream straight from base
    files. Compaction folds deltas into fresh base files.
  * ``mode='cow'``: classic copy-on-write — affected buckets are read,
    merged, and rewritten, yielding delta-free reads and exact
    inserted/updated/deleted lineage splits. Right when batches are rare
    and large relative to the touched key range.

- **Exactly-once.** Each row stores ``_gtid`` (the GTID of its last
  writer) and each snapshot stores ``last_batch_id`` + ``watermark_gtid``
  properties. Replaying an already-applied batch is a metadata no-op
  (batch-id guard), and even a forced re-merge converges because LWW
  resolution keys on ``_gtid``. Strictly stronger than the reference
  listener's at-least-once resume
  (/root/reference/component/listener/listener.go:198-227).

Reference parity: this module is the apply-side completion of the Go
listener's downstream contract — its (name,pos) checkpoint token
(listener.go:325-332) becomes ``watermark_gtid``; its forwarded-only DDL
events (component/bean/query.go:23-29) become applied schema evolution.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ddl import AlterCommand

GTID_COL = "_gtid"
# Within-gtid tiebreaker: real binlogs put several row changes to one key in
# a single transaction (one GTID) — the reference's total order is
# (name, pos, seq) (listener.go:325-332, README.md:62-63). _seq carries the
# (log_pos, row_idx, explode-position) sub-order through merge and LWW so
# same-gtid changes to one key resolve deterministically to the last one.
SEQ_COL = "_seq"
BUCKET_COL = "_bucket"
OP_COL = "_op"
_KEEP = "KEEP"

# Widening conversions allowed by ALTER COLUMN TYPE (Iceberg's rules).
_WIDEN_OK = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"), ("int", "double"),
    ("float", "double"),
    ("bigint", "string"), ("int", "string"),
}


class ConcurrentCommitError(RuntimeError):
    """HEAD moved under an optimistic committer — reload and retry."""


# Identifier of the _seq packing scheme used by the apply path (round-3:
# log_pos * 2^21 + row-sub-order; see operators/apply.py). _seq is PERSISTED
# in data files and compared across rows in LWW windows, so mixing encodings
# within one table would order wrongly — the stamp below gives any future
# encoding change a detection hook (tables created before round 4 carry no
# stamp and are treated as current-encoding; see docs/PLANS.md).
SEQ_ENCODING = "logpos-2p21"

# Out-of-band corrections (delete_where / update_where) order ABOVE every
# stream row at the same gtid: stream _seq packs log_pos*2^21 + sub-order
# (< 2^53 for any real binlog file), so the range at 2^62+ is reserved for
# correction sub-ordering within one gtid. Not a packing change to stream
# rows — the SEQ_ENCODING stamp stays valid; a correction simply occupies
# the reserved high band the packing can never reach. Successive
# corrections step by 2^21 (one full log_pos slot), so the changes-feed's
# seq>>21 wire round-trip (ChangesFeedPublisher) keeps them distinct.
CORRECTION_SEQ_BASE = 1 << 62
CORRECTION_SEQ_STEP = 1 << 21


def _version_of(head_fname: str, prefix: str) -> int:
    """Version number encoded in a HEAD target like 'v000000000042.json'."""
    try:
        return int(head_fname[len(prefix):-5])
    except (ValueError, IndexError):
        return -1


# A version file older than this with HEAD still behind it is treated as a
# crashed writer's orphan and may be reclaimed; younger files are presumed
# IN-FLIGHT (a live writer between its O_EXCL create and its HEAD swap —
# both driver-local small-file ops, normally milliseconds apart).
RECLAIM_GRACE_S = 60.0


def _excl_write_json(meta_dir: str, fname: str, payload: dict, head_is_behind,
                     reclaim_grace_s: float = RECLAIM_GRACE_S) -> None:
    """Create the immutable version file with O_EXCL: the unique per-commit
    filename makes exclusive-create an atomic CAS on POSIX — a second
    writer that passed the same HEAD check gets a hard
    :class:`ConcurrentCommitError` instead of silently truncating the
    winner's committed file (round-3 advice).

    One legitimate collision exists: a writer that crashed AFTER creating
    the version file but BEFORE swapping HEAD leaves an orphaned version
    file that the recovering writer (same version, fresh process) must
    reclaim. HEAD position alone cannot distinguish that orphan from a
    LIVE writer mid-commit (created, not yet swapped) — unlinking the
    latter re-opens exactly the lost-update the CAS exists to prevent
    (round-4 advice #2) — so reclaim is additionally AGE-GATED: only a
    file older than ``reclaim_grace_s`` with HEAD still behind it is
    reclaimed (crash recovery is a restart, seconds-to-minutes later; the
    create->swap gap of a live writer is milliseconds). Residual window:
    a live writer stalled longer than the grace between its create and
    swap can still be robbed — the same class of assumption as any
    lease/grace-based recovery without a lock service."""
    path = os.path.join(meta_dir, fname)
    for attempt in (0, 1):
        try:
            with open(path, "x") as f:
                json.dump(payload, f)
            return
        except FileExistsError:
            try:
                with open(os.path.join(meta_dir, "HEAD")) as f:
                    cur = f.read().strip()
            except FileNotFoundError:
                cur = ""
            try:
                age = time.time() - os.path.getmtime(path)
            except OSError:
                age = 0.0  # vanished/unreadable: treat as in-flight
            if attempt == 0 and head_is_behind(cur) and age > reclaim_grace_s:
                # crashed writer's orphan (unreachable from HEAD, stale):
                # reclaim
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass
                continue
            raise ConcurrentCommitError(
                f"version file {fname} already exists and HEAD is at "
                f"{cur or '<missing>'}: concurrent commit (or an in-flight/"
                "crashed writer younger than the reclaim grace) detected — "
                "reload and retry"
            )


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of an IntegerType value (hashInt, seed 42) —
    bit-exact parity with ``F.hash(int_col)``, pinned by
    tests/test_exact_repartition.py. Lets the driver PRECOMPUTE where hash
    partitioning will place a value, with zero Spark jobs."""
    C1, C2, M = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (32 - r))) & M

    k1 = rotl((x & M) * C1 & M, 15) * C2 & M
    h1 = rotl((seed ^ k1) & M, 13)
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4  # fmix length = 4 bytes
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & M
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


_HASH_REPS_CACHE: dict[int, list[int]] = {}

# Above this partition count the representative array literal stops being
# codegen-friendly; callers fall back to repartitionByRange (sampling).
EXACT_REPARTITION_MAX = 1024


def _hash_reps(n: int) -> list[int]:
    """For each target partition t in [0, n): the smallest non-negative int
    x with pmod(murmur3(x), n) == t. Searching ~n*H(n) ints covers all
    residues (coupon collector); cached per n."""
    got = _HASH_REPS_CACHE.get(n)
    if got is not None:
        return got
    reps: dict[int, int] = {}
    x = 0
    while len(reps) < n:
        reps.setdefault(_murmur3_int(x) % n, x)
        x += 1
    out = [reps[t] for t in range(n)]
    _HASH_REPS_CACHE[n] = out
    return out


def exact_partition_rep(pid_col, n: int):
    """Map a DENSE integer partition id in [0, n) to a representative value
    that Spark's hash partitioning places in exactly that partition —
    ``df.repartition(n, exact_partition_rep(pid, n))`` is a deterministic
    exchange with NO sampling pass.

    ``repartitionByRange`` buys even placement by running a whole extra
    job that executes the child plan a second time just to sample it; on
    the per-batch merge path that sampling pass was the single largest
    constant serial cost of a replay (round-4 review #5 — the Amdahl
    serial section). When the partitioning key is already a dense integer
    (bucket ids, salt cells, pack ids) the even placement is computable on
    the driver for free: one ``element_at`` over a precomputed
    representative array, whole-stage codegen, zero extra jobs."""
    reps = _hash_reps(n)
    return F.element_at(
        F.array(*[F.lit(r) for r in reps]), pid_col.cast("int") + 1
    ).cast("int")


@dataclass
class ColumnSpec:
    id: int
    name: str
    type: str  # Spark SQL simpleString, e.g. 'string', 'bigint', 'decimal(10,2)'
    nullable: bool = True

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}

    @staticmethod
    def from_json(d: dict) -> "ColumnSpec":
        return ColumnSpec(d["id"], d["name"], d["type"], d.get("nullable", True))


@dataclass
class Snapshot:
    version: int
    columns: list[ColumnSpec]
    key_ids: list[int]
    num_buckets: int
    epoch: int
    epoch_schemas: dict[str, list[ColumnSpec]]  # epoch -> physical columns at write time
    files: list[dict]  # {"path": rel, "bucket": int, "epoch": int, "kind": "base"|"delta"}
    properties: dict[str, str] = field(default_factory=dict)
    parent: int | None = None

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "columns": [c.to_json() for c in self.columns],
            "key_ids": self.key_ids,
            "num_buckets": self.num_buckets,
            "epoch": self.epoch,
            "epoch_schemas": {e: [c.to_json() for c in cols] for e, cols in self.epoch_schemas.items()},
            "files": self.files,
            "properties": self.properties,
            "parent": self.parent,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            version=d["version"],
            columns=[ColumnSpec.from_json(c) for c in d["columns"]],
            key_ids=d["key_ids"],
            num_buckets=d["num_buckets"],
            epoch=d["epoch"],
            epoch_schemas={e: [ColumnSpec.from_json(c) for c in cols] for e, cols in d["epoch_schemas"].items()},
            files=d["files"],
            properties=d.get("properties", {}),
            parent=d.get("parent"),
        )

    @property
    def key_names(self) -> list[str]:
        by_id = {c.id: c.name for c in self.columns}
        return [by_id[i] for i in self.key_ids]

    def sub(self, files: list[dict]) -> "Snapshot":
        return replace(self, files=files, parent=None)

    def successor(self, **changes) -> "Snapshot":
        """The next version committed on top of this one: ``version + 1``,
        ``parent = version`` (what the commit's CAS checks HEAD against),
        properties copied unless given, every other field kept unless
        given."""
        changes.setdefault("properties", dict(self.properties))
        return replace(self, version=self.version + 1, parent=self.version,
                       **changes)


def _struct_of(columns: list[ColumnSpec], with_op: bool = False) -> T.StructType:
    fields = [T.StructField(c.name, _parse_type(c.type), c.nullable) for c in columns]
    fields.append(T.StructField(GTID_COL, T.LongType(), False))
    fields.append(T.StructField(SEQ_COL, T.LongType(), False))
    fields.append(T.StructField(BUCKET_COL, T.IntegerType(), False))
    if with_op:
        fields.append(T.StructField(OP_COL, T.StringType(), False))
    return T.StructType(fields)


def _lww_rank(*partition_by):
    """Row number in THE last-writer-wins order, the one definition every
    merge, read and maintenance window uses: the later ``(_gtid, _seq)``
    first and, on a full tie, a change row before a folded ``KEEP`` row
    (constant where no KEEP rows exist). Rank 1 is the winner of its
    ``partition_by`` group."""
    return F.row_number().over(Window.partitionBy(*partition_by).orderBy(
        F.col(GTID_COL).desc(), F.col(SEQ_COL).desc(),
        (F.col(OP_COL) == _KEEP).asc()))


def altered_columns(columns: list[ColumnSpec], key_ids: list[int],
                    cmd: AlterCommand, new_id: int) -> list[ColumnSpec]:
    """The column list after ALTER ``cmd``; ``new_id`` is the id an ADD
    gives its column. The one rule both :meth:`LakeTable.alter` and the
    applier's segmentation simulation follow. Raises ValueError where the
    table refuses the statement: ADD of an existing name; RENAME, MODIFY or
    DROP of an absent column; RENAME onto another existing name; a MODIFY
    that does not widen (``_WIDEN_OK``); DROP of a key column; any other
    kind. Rename-to-self and a same-type MODIFY are accepted unchanged."""
    col = next((c for c in columns if c.name == cmd.column), None)
    if cmd.kind == "add":
        if col is not None:
            raise ValueError(f"column {cmd.column} exists")
        return columns + [ColumnSpec(new_id, cmd.column, cmd.type_ or "string")]
    if cmd.kind not in ("rename", "modify", "drop"):
        raise ValueError(f"unsupported ALTER kind {cmd.kind!r}")
    if col is None:
        raise ValueError(f"no column {cmd.column}")
    if cmd.kind == "drop":
        if col.id in key_ids:
            raise ValueError("cannot drop a key column")
        return [c for c in columns if c is not col]
    if cmd.kind == "rename":
        if cmd.new_name != col.name and any(c.name == cmd.new_name for c in columns):
            raise ValueError(f"column {cmd.new_name} already exists")
        new = replace(col, name=cmd.new_name)
    else:
        new_type = cmd.type_ or "string"
        if col.type != new_type and (col.type, new_type) not in _WIDEN_OK:
            raise ValueError(f"narrowing/unsupported: {col.type} -> {new_type}")
        new = replace(col, type=new_type)
    return [new if c is col else c for c in columns]


@functools.lru_cache(maxsize=1024)
def _parse_type(s: str) -> T.DataType:
    # a JVM round trip (~2 ms) per call, and a pure function of its string:
    # every read, write and key_buckets plan parses the same few types
    return T.StructType.fromDDL(f"c {s}")[0].dataType


class LakeTable:
    """A snapshot-versioned bucketed table rooted at a directory."""

    def __init__(self, spark: SparkSession, root: str, snapshot: Snapshot,
                 branch: str | None = None):
        self.spark = spark
        self.root = root
        self.snapshot = snapshot
        # WAP branches: a branch table shares the data directory (file
        # paths are root-relative) but commits its snapshots under its own
        # _meta/branches/<name>/ namespace — main's version numbering and
        # the branch's can never collide on a filename, so the CAS layer
        # needs no cross-ref awareness.
        self.branch = branch
        self._meta_dir = (os.path.join(root, "_meta", "branches", branch)
                          if branch else os.path.join(root, "_meta"))
        # lookup()'s reused per-bucket read plans, holding only the newest
        # snapshot version seen (see _lookup_plan)
        self._lookup_plans: dict[tuple, DataFrame] = {}
        self._lookup_plans_version = -1
        self._lookup_plans_lock = threading.Lock()

    # ---------------------------------------------------------------- create/load

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: list[tuple[str, str]] | str,
        key_cols: list[str],
        num_buckets: int = 16,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is [(name, sparkSqlType)] or a DDL string."""
        if isinstance(schema, str):
            st = T.StructType.fromDDL(schema)
            cols = [(f.name, f.dataType.simpleString()) for f in st.fields]
        else:
            cols = list(schema)
        columns = [ColumnSpec(i + 1, n, t) for i, (n, t) in enumerate(cols)]
        name_to_id = {c.name: c.id for c in columns}
        snap = Snapshot(
            version=0,
            columns=columns,
            key_ids=[name_to_id[k] for k in key_cols],
            num_buckets=num_buckets,
            epoch=0,
            epoch_schemas={"0": [ColumnSpec(c.id, c.name, c.type, c.nullable) for c in columns]},
            files=[],
            properties={"watermark_gtid": "-1", "last_batch_id": "-1",
                        "seq_encoding": SEQ_ENCODING, **(properties or {})},
        )
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        table = LakeTable(spark, root, snap)
        table._write_snapshot(snap)
        return table

    @staticmethod
    def load(spark: SparkSession, root: str, branch: str | None = None) -> "LakeTable":
        meta = (os.path.join(root, "_meta", "branches", branch)
                if branch else os.path.join(root, "_meta"))
        head = os.path.join(meta, "HEAD")
        try:
            with open(head) as f:
                snap_file = f.read().strip()
        except FileNotFoundError:
            if branch:
                raise ValueError(
                    f"unknown branch {branch!r} on table {root} "
                    "(create_branch first, or it was published/dropped)") from None
            raise
        with open(os.path.join(meta, snap_file)) as f:
            snap = Snapshot.from_json(json.load(f))
        return LakeTable(spark, root, snap, branch=branch)

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "_meta", "HEAD"))

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Commit = write immutable snapshot file, atomically swap HEAD.

        Optimistic concurrency: before swapping, HEAD must still point at
        the snapshot this writer based its commit on — a concurrent
        committer's swap surfaces as :class:`ConcurrentCommitError`
        instead of a silent lost update (reload + retry is the caller's
        move, exactly Iceberg's optimistic protocol). Best-effort on a
        plain filesystem (check-then-replace has a window); an object
        store deployment would use a conditional PUT / CAS for the same
        check. The engine's runners are single-writer per table by
        design — this guard catches misconfiguration; the one sanctioned
        concurrent pair is ingest + maintenance, where a losing
        compaction REBASES instead of re-running (:meth:`_commit_rewrite`)."""
        meta = self._meta_dir
        if snap.parent is not None:
            expected = f"v{snap.parent:012d}.json"
            try:
                with open(os.path.join(meta, "HEAD")) as f:
                    cur = f.read().strip()
            except FileNotFoundError:
                cur = expected
            if cur != expected:
                raise ConcurrentCommitError(
                    f"HEAD moved to {cur} while this writer was based on "
                    f"{expected}: concurrent commit detected — reload the "
                    "table and retry"
                )
        fname = f"v{snap.version:012d}.json"
        _excl_write_json(meta, fname, snap.to_json(),
                         head_is_behind=lambda cur: _version_of(cur, "v") < snap.version)
        tmp = os.path.join(meta, f"HEAD.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(fname)
        os.replace(tmp, os.path.join(meta, "HEAD"))  # atomic on POSIX
        self.snapshot = snap

    # ---------------------------------------------------------------- properties

    @property
    def watermark_gtid(self) -> int:
        return int(self.snapshot.properties.get("watermark_gtid", "-1"))

    @property
    def last_batch_id(self) -> int:
        return int(self.snapshot.properties.get("last_batch_id", "-1"))

    @property
    def truncate_gtid(self) -> int:
        """Rows with _gtid <= this are logically truncated (GTID-aware
        TRUNCATE marker — O(1), commit-atomic, order-safe; dead rows are
        physically dropped at the next compaction)."""
        return int(self.snapshot.properties.get("truncate_gtid", "-1"))

    # ---------------------------------------------------------------- read

    def _read_mapped(self, snap: Snapshot, files: list[dict], with_op: bool) -> DataFrame | None:
        """Read ``files`` with their exact write-time physical schemas,
        re-mapped to the current logical schema by column id (rename-safe,
        NULL-filled for later columns, cast for widened types). Plain
        parquet scans per epoch group — column pruning + filter pushdown
        still apply."""
        if not files:
            return None
        cur_types = {c.id: c.type for c in snap.columns}
        cur_names = {c.id: c.name for c in snap.columns}
        by_epoch: dict[str, list[str]] = {}
        for fi in files:
            by_epoch.setdefault(str(fi["epoch"]), []).append(os.path.join(self.root, fi["path"]))
        parts = []
        for epoch, paths in by_epoch.items():
            phys = snap.epoch_schemas[epoch]
            df = self.spark.read.schema(_struct_of(phys, with_op=with_op)).parquet(*paths)
            sel = []
            phys_by_id = {c.id: c for c in phys}
            for cid, cname in cur_names.items():
                if cid in phys_by_id:
                    sel.append(F.col(phys_by_id[cid].name).cast(cur_types[cid]).alias(cname))
                else:
                    sel.append(F.lit(None).cast(cur_types[cid]).alias(cname))
            sel += [F.col(GTID_COL), F.col(SEQ_COL), F.col(BUCKET_COL)]
            if with_op:
                sel.append(F.col(OP_COL))
            parts.append(df.select(*sel))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _lww_resolve(self, df: DataFrame, keys: list[str]) -> DataFrame:
        """Resolve base+delta rows: last writer (max (_gtid, _seq)) wins per
        key, DELETE tombstones drop the key. On full-order ties a non-KEEP
        (delta) row wins for determinism."""
        return (
            df.withColumn("_rn", _lww_rank(*keys))
            .filter((F.col("_rn") == 1) & (F.col(OP_COL) != "DELETE"))
            .drop("_rn")
        )

    def read(self, include_meta: bool = False, snapshot: Snapshot | None = None) -> DataFrame:
        """Current table state (time travel via ``snapshot``).

        Clean buckets (no deltas) stream directly from base files; dirty
        buckets pay one key-shuffle LWW window over (their base + deltas)
        only — the merge-on-read tax, bounded by compaction."""
        snap = snapshot or self.snapshot
        keys = snap.key_names
        trunc = int(snap.properties.get("truncate_gtid", "-1"))

        # Plan-time stats pruning: a file whose stamped gtid_hi sits at or
        # below the TRUNCATE marker contains only dead rows — drop it from
        # the scan entirely (the row-level filter below still handles
        # straddling and unstamped files). A bucket whose deltas all died
        # this way reads as CLEAN again.
        live = [fi for fi in snap.files if not self._gtid_dead(fi, trunc)]
        base = [fi for fi in live if fi.get("kind", "base") == "base"]
        delta = [fi for fi in live if fi.get("kind", "base") == "delta"]
        dirty_buckets = {fi["bucket"] for fi in delta}

        def _trunc_filter(df: DataFrame | None) -> DataFrame | None:
            # GTID-aware TRUNCATE, applied *below* the LWW window: a row at
            # or before the marker is dead whether or not it would win, so
            # pre-filtering is equivalent and reaches the parquet scan as a
            # pushed-down predicate (prunes before the resolve shuffle).
            if df is None or trunc < 0:
                return df
            return df.filter(F.col(GTID_COL) > trunc)

        clean = _trunc_filter(
            self._read_mapped(snap, [fi for fi in base if fi["bucket"] not in dirty_buckets], with_op=False)
        )
        out = None
        if delta:
            dirty_base = _trunc_filter(
                self._read_mapped(snap, [fi for fi in base if fi["bucket"] in dirty_buckets], with_op=False)
            )
            delta_df = _trunc_filter(self._read_mapped(snap, delta, with_op=True))
            dirty = delta_df if dirty_base is None else dirty_base.withColumn(OP_COL, F.lit(_KEEP)).unionByName(delta_df)
            out = self._lww_resolve(dirty, keys).drop(OP_COL)
        if clean is not None:
            out = clean if out is None else clean.unionByName(out)
        if out is None:
            st = _struct_of(snap.columns)
            out = self.spark.createDataFrame([], st)
        if not include_meta:
            out = out.drop(GTID_COL, SEQ_COL, BUCKET_COL)
        return out

    def key_buckets(self, key_rows: list[tuple],
                    snapshot: Snapshot | None = None) -> list[int]:
        """Bucket id per key row (order-preserving), computed by ONE
        driver-local job through the writers' own Catalyst bucket
        expression. A caller probing N keys (point-read loops, audit
        samples) passes the results to ``lookup(bucket=...)`` /
        ``key_history(bucket=...)`` — N probes cost one planning job,
        not N (round-6: 12 sequential ``_key_bucket_snapshot`` jobs were
        ~2s of cdc_key_history's 5s wall)."""
        snap = snapshot or self.snapshot
        keys = snap.key_names
        if not key_rows:
            return []
        for kv in key_rows:
            if len(kv) != len(keys):
                raise ValueError(
                    f"expected {len(keys)} key values {tuple(keys)}, "
                    f"got {tuple(kv)}")
        st = _struct_of(snap.columns)
        kdf = self.spark.createDataFrame(
            [tuple(kv) + (i,) for i, kv in enumerate(key_rows)],
            T.StructType([T.StructField(k, st[k].dataType) for k in keys]
                         + [T.StructField("_i", T.LongType())]))
        bucket_of = self._bucket_expr_of(keys, snap.num_buckets)
        got = {r["_i"]: r["b"] for r in
               kdf.select(F.col("_i"), bucket_of.alias("b")).collect()}
        return [got[i] for i in range(len(key_rows))]

    def lookup(self, *key_values, include_meta: bool = False,
               snapshot: Snapshot | None = None,
               bucket: int | None = None) -> DataFrame:
        """Point read of one key: the bucket function pins the key to ONE
        bucket, so the plan opens only that bucket's files — O(table /
        num_buckets) IO however large the table — and the key-equality
        predicate pushes through the LWW window into the parquet scans
        (a filter on the window's own partition keys commutes with
        per-key resolution). The interactive analogue of the reference's
        keyed queries: a billion-row table answers a single-key question
        from one bucket's worth of files.

        ``key_values`` follow the table's key column order. Returns an
        empty DataFrame for an absent (or deleted / truncated) key.
        ``bucket``: the key's precomputed bucket id (from
        :meth:`key_buckets`) — skips the per-call bucket-planning job.
        The bucket's read plan is built once and reused by later lookups
        of the same snapshot bucket (:meth:`_lookup_plan`); only the key
        filter is new per call."""
        snap = snapshot or self.snapshot
        keys = snap.key_names
        key_types = {c.name: c.type for c in snap.columns}
        sub = self._key_bucket_snapshot(snap, key_values, bucket=bucket)
        out = self._lookup_plan(sub, include_meta)
        for k, v in zip(keys, key_values):
            out = out.filter(F.col(k).eqNullSafe(F.lit(v).cast(key_types[k])))
        return out

    def _lookup_plan(self, sub: Snapshot, include_meta: bool) -> DataFrame:
        """``read(include_meta, snapshot=sub)`` of one bucket's sub-snapshot,
        memoized: building it is ~100 driver-side Column/DataFrame calls
        (most of a warm point lookup's latency), and a point-read loop asks
        for the same few buckets of one snapshot again and again.

        The memo key holds everything :meth:`read` reads from ``sub`` —
        version, key ids, columns, the physical schemas of the files'
        epochs, the TRUNCATE marker, each file's (path, bucket, kind,
        epoch, gtid bounds) — and ``include_meta``, so a sub-snapshot,
        time travel or a branch never gets another snapshot's plan. Only
        the newest version seen is kept: a live tail's older snapshots
        drop out instead of piling up, and a lookup on an older version
        builds its plan without storing it."""
        epochs = sorted({str(fi["epoch"]) for fi in sub.files})
        key = (
            sub.version, include_meta, tuple(sub.key_ids),
            tuple((c.id, c.name, c.type, c.nullable) for c in sub.columns),
            tuple((e, tuple((c.id, c.name, c.type, c.nullable)
                            for c in sub.epoch_schemas[e])) for e in epochs),
            int(sub.properties.get("truncate_gtid", "-1")),
            tuple((fi["path"], fi["bucket"], fi.get("kind", "base"), fi["epoch"],
                   fi.get("gtid_lo"), fi.get("gtid_hi")) for fi in sub.files),
        )
        with self._lookup_plans_lock:
            plan = self._lookup_plans.get(key)
        if plan is not None:
            return plan
        plan = self.read(include_meta=include_meta, snapshot=sub)
        with self._lookup_plans_lock:
            if sub.version > self._lookup_plans_version:
                self._lookup_plans = {}
                self._lookup_plans_version = sub.version
            if sub.version == self._lookup_plans_version:
                self._lookup_plans[key] = plan
        return plan

    def lookup_many(self, key_rows: list[tuple], include_meta: bool = False,
                    snapshot: Snapshot | None = None) -> DataFrame:
        """Batch point read: the current rows of a SET of keys (audit
        samples, kill-list checks, feature joins against a small probe
        set) — :meth:`lookup`'s plan generalized to k keys without k
        jobs. ONE driver-local job computes every key's bucket through
        the writers' own Catalyst bucket expression; the scan opens only
        the union of those buckets' files (≤ min(k, num_buckets) of the
        table); a per-column membership condition (same machinery as
        ``changes()``' keyset pushdown — whole key groups pass or fail
        together, so it commutes with the LWW window and reaches the
        parquet scans as ``In`` filters, bloom/stats-prunable); and an
        exact broadcast left-semi join removes the per-column cross
        products ``isin`` over-selects. Keys follow the table's key
        column order; absent / deleted keys simply return no row."""
        snap = snapshot or self.snapshot
        keys = snap.key_names
        key_types = {c.name: c.type for c in snap.columns}
        for kv in key_rows:
            if len(kv) != len(keys):
                raise ValueError(
                    f"expected {len(keys)} key values {tuple(keys)}, "
                    f"got {tuple(kv)}")
        if not key_rows:
            return self.read(include_meta=include_meta,
                             snapshot=snap.sub([]))
        st = _struct_of(snap.columns)
        kdf = self.spark.createDataFrame(
            [tuple(kv) for kv in key_rows],
            T.StructType([T.StructField(k, st[k].dataType) for k in keys]))
        bucket_of = self._bucket_expr_of(keys, snap.num_buckets)
        # no distinct(): the keyset is driver-bounded already, and a
        # distinct over a local relation inserts a whole shuffle stage
        # for what a python set does for free
        buckets = {r["b"] for r in
                   kdf.select(bucket_of.alias("b")).collect()}
        sub = snap.sub([fi for fi in snap.files if fi["bucket"] in buckets])
        out = self.read(include_meta=include_meta, snapshot=sub)
        # capped like changes()' keyset pushdown: a giant In literal list
        # bloats the Catalyst plan; beyond the cap the semi-join alone
        # carries exactness (the prefilter is an optional scan-pruner)
        if len(key_rows) <= 4096:
            rows = [dict(zip(keys, kv)) for kv in key_rows]
            cond = self._membership_cond(rows, keys)
            if cond is not None:
                out = out.filter(cond)
        probe = kdf.select(*[F.col(k).alias(f"_probe_{k}") for k in keys])
        join_cond = None
        for k in keys:
            c = out[k].eqNullSafe(probe[f"_probe_{k}"].cast(key_types[k]))
            join_cond = c if join_cond is None else (join_cond & c)
        return out.join(F.broadcast(probe), join_cond, "left_semi")

    def _key_bucket_snapshot(self, snap: "Snapshot", key_values: tuple,
                             bucket: int | None = None) -> "Snapshot":
        """Sub-snapshot holding only the files of ``key_values``' bucket.
        The bucket is computed by one driver-local row through the SAME
        Catalyst expression the writers use (no hand-rolled xxhash64
        parity to maintain), a single-task job — or supplied precomputed
        (``bucket``, from :meth:`key_buckets`' one-job batch) so N-key
        probe loops don't pay N planning jobs."""
        keys = snap.key_names
        if len(key_values) != len(keys):
            raise ValueError(
                f"expected {len(keys)} key values {tuple(keys)}, "
                f"got {len(key_values)}")
        if bucket is not None:
            if not (0 <= bucket < snap.num_buckets):
                raise ValueError(
                    f"bucket {bucket} out of range for {snap.num_buckets} "
                    "buckets (stale precomputed bucket? recompute via "
                    "key_buckets on this snapshot)")
            return snap.sub([fi for fi in snap.files if fi["bucket"] == bucket])
        key_types = {c.name: c.type for c in snap.columns}
        # snap's bucketing, not head's (time travel across a rebucket)
        bucket_of = self._bucket_expr_of(keys, snap.num_buckets)
        b = (self.spark.range(1)
             .select(*[F.lit(v).cast(key_types[k]).alias(k)
                       for k, v in zip(keys, key_values)])
             .select(bucket_of.alias("b"))
             .first()["b"])
        return snap.sub([fi for fi in snap.files if fi["bucket"] == b])

    def key_history(self, *key_values,
                    snapshot: Snapshot | None = None,
                    bucket: int | None = None) -> DataFrame:
        """Row-level audit: every RETAINED change event for one key, in
        apply order — the per-key view of the changelog (the reference's
        downstream consumers correlate a key's lifecycle by replaying its
        events from the queue, listener.go:296-315; here it is one
        bucket-pruned, predicate-pushed scan over the key's bucket).

        Scale shape = :meth:`lookup`'s: the bucket function pins the key
        to ONE bucket (O(table/num_buckets) IO however large the table),
        and the null-safe key equality pushes into the parquet scans —
        there is NO LWW window here at all, every retained version
        streams out.

        Semantics: MOR deltas retain one row per applied change event, so
        the result is the key's full event history SINCE the bucket was
        last folded (compaction / CoW rewrite); a folded prefix survives
        as a single ``KEEP`` row carrying the surviving image at its
        original ``(_gtid, _seq)`` (or nothing, if the key was then
        deleted — tombstones do not survive a fold). Rows at or below a
        TRUNCATE marker are dead and omitted, matching :meth:`read`;
        deeper history is reachable by passing an older ``snapshot``
        (time travel). Output: the table columns +
        ``(_gtid, _seq, _op, _is_current)``, ordered by ``(_gtid,
        _seq)`` ascending; ``_is_current`` marks the LWW winner —
        false on every row when the key is currently deleted.
        ``bucket``: precomputed bucket id (see :meth:`lookup`)."""
        snap = snapshot or self.snapshot
        keys = snap.key_names
        key_types = {c.name: c.type for c in snap.columns}
        sub = self._key_bucket_snapshot(snap, key_values, bucket=bucket)
        trunc = int(sub.properties.get("truncate_gtid", "-1"))
        live = [fi for fi in sub.files if not self._gtid_dead(fi, trunc)]
        base = self._read_mapped(
            sub, [fi for fi in live if fi.get("kind", "base") == "base"],
            with_op=False)
        if base is not None:
            base = base.withColumn(OP_COL, F.lit(_KEEP))
        delta = self._read_mapped(
            sub, [fi for fi in live if fi.get("kind") == "delta"],
            with_op=True)
        df = (base.unionByName(delta)
              if base is not None and delta is not None else (base or delta))
        if df is None:
            # _struct_of already carries (_gtid, _seq, _bucket) + _op
            df = self.spark.createDataFrame(
                [], _struct_of(snap.columns, with_op=True))
        for k, v in zip(keys, key_values):
            df = df.filter(F.col(k).eqNullSafe(F.lit(v).cast(key_types[k])))
        if trunc >= 0:
            df = df.filter(F.col(GTID_COL) > trunc)
        # the LWW winner, inline: max (_gtid,_seq) over the key's rows
        # (a single key — window over one tiny group), non-tombstone
        cols = [c.name for c in snap.columns]
        return (df.withColumn("_rn", _lww_rank(*keys))
                .select(*cols, F.col(GTID_COL), F.col(SEQ_COL), F.col(OP_COL),
                        ((F.col("_rn") == 1) & (F.col(OP_COL) != "DELETE")
                         ).alias("_is_current"))
                .orderBy(F.col(GTID_COL), F.col(SEQ_COL)))

    def events_log(self, snapshot: Snapshot | None = None,
                   buckets: set[int] | None = None) -> DataFrame:
        """Table-wide retained change-event log: :meth:`key_history`'s
        read generalized to every key (no winner flag, no per-key
        ordering) — the input relation of :func:`..operators.asof.
        asof_join` and of any consumer that replays history itself.

        One row per RETAINED applied change event — table columns +
        ``(_gtid, _seq, _op)``, ``_op`` = ``KEEP`` for rows folded into a
        base file (the surviving image at its original position). Same
        retention disclosure as :meth:`key_history`: history reaches back
        to each bucket's last fold (compaction / CoW rewrite), and rows
        at or below a TRUNCATE marker are dead. ``buckets`` prunes the
        scan to those buckets' files (probe-side pruning for as-of
        joins); the plan is scan + union only — NO shuffle, no window."""
        snap = snapshot or self.snapshot
        trunc = int(snap.properties.get("truncate_gtid", "-1"))
        files = (snap.files if buckets is None
                 else [fi for fi in snap.files if fi["bucket"] in buckets])
        live = [fi for fi in files if not self._gtid_dead(fi, trunc)]
        base = self._read_mapped(
            snap, [fi for fi in live if fi.get("kind", "base") == "base"],
            with_op=False)
        if base is not None:
            base = base.withColumn(OP_COL, F.lit(_KEEP))
        delta = self._read_mapped(
            snap, [fi for fi in live if fi.get("kind") == "delta"],
            with_op=True)
        df = (base.unionByName(delta)
              if base is not None and delta is not None else (base or delta))
        if df is None:
            df = self.spark.createDataFrame(
                [], _struct_of(snap.columns, with_op=True))
        if trunc >= 0:
            df = df.filter(F.col(GTID_COL) > trunc)
        cols = [c.name for c in snap.columns]
        return df.select(*cols, F.col(GTID_COL), F.col(SEQ_COL),
                         F.col(OP_COL))

    def asof_join(self, probes: DataFrame, pos_col: str = "as_of_gtid",
                  how: str = "left", snapshot: Snapshot | None = None,
                  keyset_pushdown_max: int = 4096,
                  pos_max: int | None = None) -> DataFrame:
        """Point-in-time join: each probe row ``(key..., pos_col)`` gets
        the row image current AS OF that position (see
        :mod:`..operators.asof` for semantics and the single-window plan).

        Scale levers, both optional and exactness-preserving:

        - when the probes' distinct keyset fits ``keyset_pushdown_max``
          (ONE bounded driver job, the ``changes()`` keyset-pushdown
          protocol), the log scan prunes to the PROBED buckets and a
          per-column membership prefilter reaches the parquet scans —
          a small probe set over a billion-row table reads only its own
          buckets' files;
        - ``pos_max`` (a known upper bound on probe positions, e.g. the
          batch watermark) plan-time-drops every file whose stamped
          commit-level ``gtid_lo`` exceeds it and row-filters the rest
          (envelope semantics: unstamped files are never dropped).

        ``probes`` must be DETERMINISTIC across re-execution (round-5
        advice #2): the keyset sample below collects the probes plan once
        and the union re-executes it — a nondeterministic source (e.g. a
        fresh ``rand()``-derived set per execution) can surface keys the
        collected sample missed, and the bucket/membership pruning would
        then silently drop their matches. Persist/localCheckpoint such a
        source first, or pass a local relation (collected rows).
        """
        from ..operators.asof import asof_join as _asof

        snap = snapshot or self.snapshot
        keys = snap.key_names
        missing = [k for k in keys if k not in probes.columns]
        if missing:
            raise ValueError(f"probes lack key columns {missing}")
        buckets = None
        membership = None
        if keyset_pushdown_max and keyset_pushdown_max > 0:
            sample = (probes.select(*keys).distinct()
                      .limit(keyset_pushdown_max + 1).collect())
            if len(sample) <= keyset_pushdown_max:
                st = _struct_of(snap.columns)
                kdf = self.spark.createDataFrame(
                    [tuple(r[k] for k in keys) for r in sample],
                    T.StructType([T.StructField(k, st[k].dataType)
                                  for k in keys]))
                bucket_of = self._bucket_expr_of(keys, snap.num_buckets)
                buckets = {r["b"] for r in
                           kdf.select(bucket_of.alias("b")).collect()}
                membership = self._membership_cond(
                    [dict(zip(keys, (r[k] for k in keys))) for r in sample],
                    keys)
        sub = snap
        if pos_max is not None:
            sub = snap.sub([fi for fi in snap.files
                            if fi.get("gtid_lo") is None
                            or fi["gtid_lo"] <= pos_max])
        log = self.events_log(snapshot=sub, buckets=buckets)
        if membership is not None:
            log = log.filter(membership)
        if pos_max is not None:
            log = log.filter(F.col(GTID_COL) <= pos_max)
        return _asof(log, probes, list(keys), pos_col=pos_col, how=how)

    # ------------------------------------------------------- time travel / CDC-out

    def snapshot_at(self, version: int | str) -> Snapshot:
        """Load a historical snapshot by version — or by tag name
        (Iceberg's ``snapshot_id`` / tag-ref time travel). History is
        bounded by :meth:`expire_snapshots` — an expired version raises
        with a clear message instead of resurrecting a file
        :meth:`vacuum` may have reclaimed."""
        version = self._resolve_version(version)
        lookups = [self._meta_dir]
        if self.branch:
            # Pre-fork versions live only on main's chain — but the
            # fallback is BOUNDED at the fork: past it, main's versions
            # belong to a lineage this branch never contained (main may
            # advance concurrently), and serving them as branch time
            # travel would silently mix lineages.
            fork = int(self.snapshot.properties.get(
                "branch_fork_version", "-1"))
            if 0 <= version <= fork:
                lookups.append(os.path.join(self.root, "_meta"))
        for meta in lookups:
            try:
                with open(os.path.join(meta, f"v{version:012d}.json")) as f:
                    return Snapshot.from_json(json.load(f))
            except FileNotFoundError:
                continue
        raise ValueError(
            f"snapshot v{version} is unknown or expired "
            "(expire_snapshots bounds time-travel history)"
        )

    def read_at(self, version: int | str, include_meta: bool = False) -> DataFrame:
        """Time-travel read: the table state as of snapshot ``version``
        (a number or a tag name)."""
        return self.read(include_meta=include_meta,
                         snapshot=self.snapshot_at(version))

    def history(self) -> list[dict]:
        """Available snapshot history, oldest first (Iceberg's
        ``history`` metadata table). Driver-side O(retained versions) —
        bounded by :meth:`expire_snapshots`, never O(data). On a branch
        table this lists the BRANCH's versions (fork copy onward)."""
        meta = self._meta_dir
        out = []
        for fn in sorted(os.listdir(meta)):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            try:
                int(fn[1:-5])
            except ValueError:
                continue
            with open(os.path.join(meta, fn)) as f:
                snap = Snapshot.from_json(json.load(f))
            out.append({
                "version": snap.version,
                "parent": snap.parent,
                "epoch": snap.epoch,
                "n_files": len(snap.files),
                "n_delta": sum(1 for fi in snap.files if fi.get("kind") == "delta"),
                "watermark_gtid": int(snap.properties.get("watermark_gtid", "-1")),
                "last_batch_id": int(snap.properties.get("last_batch_id", "-1")),
                "truncate_gtid": int(snap.properties.get("truncate_gtid", "-1")),
            })
        return out

    # ------------------------------------------------------------- tags
    # Iceberg tag refs: a named pin on a snapshot version. Tagged versions
    # are exempt from expire_snapshots (and therefore vacuum keeps their
    # files), so "the snapshot training-run X read" survives routine
    # retention until explicitly untagged. Stored in one _meta/TAGS.json
    # swapped atomically; tag writes are last-writer-wins on the whole
    # file (tags are operator actions, not the data-commit hot path —
    # the version files themselves stay CAS-protected).

    def _tags_path(self) -> str:
        return os.path.join(self.root, "_meta", "TAGS.json")

    def tags(self) -> dict[str, int]:
        """Current tag -> version map (empty when none)."""
        try:
            with open(self._tags_path()) as f:
                return {k: int(v) for k, v in json.load(f)["tags"].items()}
        except FileNotFoundError:
            return {}

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to ``version`` (default: current head). Re-tagging
        an existing name moves it. Returns the pinned version."""
        self._require_main("tag")
        if not name or name.isdigit():
            raise ValueError(f"invalid tag name {name!r} (must be "
                             "non-empty and not a bare number)")
        v = self.snapshot.version if version is None else version
        self.snapshot_at(v)  # must exist and not be expired
        t = self.tags()
        t[name] = v
        tmp = self._tags_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"tags": t}, f)
        os.replace(tmp, self._tags_path())
        return v

    def untag(self, name: str) -> bool:
        """Drop a tag; the version it pinned becomes expirable again.
        Returns whether the tag existed."""
        self._require_main("untag")
        t = self.tags()
        existed = name in t
        if existed:
            del t[name]
            tmp = self._tags_path() + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump({"tags": t}, f)
            os.replace(tmp, self._tags_path())
        return existed

    def _resolve_version(self, ref: int | str) -> int:
        """A version number, or a tag name (str) resolved through
        :meth:`tags`."""
        if isinstance(ref, str):
            t = self.tags()
            if ref not in t:
                raise ValueError(f"unknown tag {ref!r} (have: {sorted(t)})")
            return t[ref]
        return ref

    # -------------------------------------------------------- WAP branches
    # Write-audit-publish (Iceberg branch refs): stage risky commits — a
    # backfill, a bulk correction, a schema change — on a named branch that
    # shares the table's data directory but keeps its own snapshot chain
    # under _meta/branches/<name>/ (own HEAD, own CAS; version numbers
    # continue main's from the fork, and the separate namespace is what
    # makes that collision-free). Audit by reading the branch, then
    # publish: a fast-forward-only swap of main's HEAD onto the branch tip
    # that first copies the branch's immutable version files onto main's
    # chain, so post-publish history/time-travel/changes() see every
    # staged commit. The branch dir holds a full COPY of the fork snapshot,
    # so a branch stays readable even after main expires the fork version.

    _BRANCH_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

    def _branches_dir(self) -> str:
        return os.path.join(self.root, "_meta", "branches")

    def _require_main(self, what: str) -> None:
        if self.branch:
            raise ValueError(
                f"{what} must run on the main table, not branch "
                f"{self.branch!r} (branch refs and maintenance are "
                "main-scoped)")

    def branches(self) -> dict[str, dict]:
        """Live branch refs: name -> {tip, fork} (empty when none)."""
        bdir = self._branches_dir()
        out: dict[str, dict] = {}
        if not os.path.isdir(bdir):
            return out
        for name in sorted(os.listdir(bdir)):
            head = os.path.join(bdir, name, "HEAD")
            try:
                with open(head) as f:
                    tip_fname = f.read().strip()
                with open(os.path.join(bdir, name, tip_fname)) as f:
                    tip = Snapshot.from_json(json.load(f))
            except FileNotFoundError:
                continue  # mid-create or mid-drop
            out[name] = {"tip": tip.version,
                         "fork": int(tip.properties.get("branch_fork_version", "-1"))}
        return out

    def create_branch(self, name: str, at: int | str | None = None) -> "LakeTable":
        """Fork a branch at the current head (or at a retained ``at``
        version/tag) and return the branch's table handle. Everything a
        table does — merge, replay, corrections, compaction, rollback,
        reads — works on the handle, committing to the branch only; main
        is untouched until :meth:`publish_branch`."""
        self._require_main("create_branch")
        if not self._BRANCH_NAME_RE.match(name or ""):
            raise ValueError(f"invalid branch name {name!r} (letters, "
                             "digits, . _ -, max 64 chars)")
        target = (self.snapshot if at is None else self.snapshot_at(at))
        bdir = os.path.join(self._branches_dir(), name)
        if os.path.exists(os.path.join(bdir, "HEAD")):
            raise ValueError(f"branch {name!r} already exists "
                             "(publish or drop it first)")
        os.makedirs(bdir, exist_ok=True)
        props = dict(target.properties)
        props["branch_fork_version"] = str(target.version)
        fork = replace(target, files=list(target.files), properties=props)
        bt = LakeTable(self.spark, self.root, fork, branch=name)
        bt._write_snapshot(fork)  # empty branch dir: missing HEAD passes CAS
        return bt

    def branch_table(self, name: str) -> "LakeTable":
        """Load the tip of an existing branch."""
        self._require_main("branch_table")
        return LakeTable.load(self.spark, self.root, branch=name)

    def publish_branch(self, name: str) -> dict:
        """Fast-forward main onto branch ``name``'s tip and drop the
        branch ref — the WAP 'publish'. Refuses if main has advanced past
        the fork (this is a fast-forward, not a merge: re-stage on a fresh
        branch). The branch's version files copy onto main's chain first
        (immutable JSON, O(branch commits)), so the published window is
        fully time-travelable and ``changes()`` windows spanning it see
        real endpoints; the tip copy sheds the branch markers and records
        ``published_from_branch`` provenance instead."""
        self._require_main("publish_branch")
        tip_t = LakeTable.load(self.spark, self.root, branch=name)
        tip = tip_t.snapshot
        fork = int(tip.properties.get("branch_fork_version", "-1"))
        meta = self._meta_dir
        with open(os.path.join(meta, "HEAD")) as f:
            main_head = _version_of(f.read().strip(), "v")
        if main_head != fork:
            # Crash-idempotency: a prior publish that swapped main's HEAD
            # but died before removing the branch ref leaves main at the
            # tip with the tip's provenance marker. Detect that exact
            # shape and finish the cleanup instead of refusing.
            done = False
            if main_head == tip.version:
                try:
                    with open(os.path.join(
                            meta, f"v{main_head:012d}.json")) as f:
                        mpay = json.load(f)
                    # provenance name alone could false-positive if a
                    # same-named branch was re-forked at an older version
                    # after an earlier publish — require the main copy to
                    # BE this tip (same transform publish applies below)
                    expect = json.loads(json.dumps(tip.to_json()))
                    expect["properties"].pop("branch_fork_version", None)
                    expect["properties"]["published_from_branch"] = name
                    done = (mpay.get("properties", {}).get(
                                "published_from_branch") == name
                            and mpay == expect)
                except (FileNotFoundError, json.JSONDecodeError):
                    done = False
            if done:
                shutil.rmtree(os.path.join(self._branches_dir(), name),
                              ignore_errors=True)
                self.snapshot = self.snapshot_at(tip.version)
                return {"published": name, "version": tip.version,
                        "commits": tip.version - fork, "noop": True}
            raise ConcurrentCommitError(
                f"cannot fast-forward: main is at v{main_head} but branch "
                f"{name!r} forked at v{fork} — main advanced since the "
                "fork; re-stage the work on a fresh branch")
        if tip.version == fork:
            shutil.rmtree(os.path.join(self._branches_dir(), name))
            return {"published": name, "version": main_head, "commits": 0,
                    "noop": True}
        bdir = os.path.join(self._branches_dir(), name)
        for v in range(fork + 1, tip.version + 1):
            with open(os.path.join(bdir, f"v{v:012d}.json")) as f:
                payload = json.load(f)
            # the fork marker must not leak onto main's chain from ANY
            # copied version: a later main rollback() to an intermediate
            # one would resurrect it into main's live property chain
            payload["properties"].pop("branch_fork_version", None)
            if v == tip.version:
                payload["properties"]["published_from_branch"] = name
            _excl_write_json(meta, f"v{v:012d}.json", payload,
                             head_is_behind=lambda cur: _version_of(cur, "v") < v)
        tmp = os.path.join(meta, f"HEAD.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(f"v{tip.version:012d}.json")
        os.replace(tmp, os.path.join(meta, "HEAD"))
        shutil.rmtree(bdir, ignore_errors=True)
        self.snapshot = self.snapshot_at(tip.version)
        return {"published": name, "version": tip.version,
                "commits": tip.version - fork, "noop": False}

    def drop_branch(self, name: str) -> bool:
        """Abandon a branch: remove its ref; its exclusive data files
        become orphans for :meth:`vacuum`. Returns whether it existed."""
        self._require_main("drop_branch")
        bdir = os.path.join(self._branches_dir(), name)
        existed = os.path.exists(os.path.join(bdir, "HEAD"))
        if existed:
            shutil.rmtree(bdir)
        return existed

    def rollback(self, version: int | str) -> dict:
        """Restore the table to snapshot ``version`` (a number or tag) as a
        NEW commit — Iceberg's rollback. History is never rewritten: the
        undone versions stay time-travelable until expired; readers see
        the restored state at the next load.

        Everything snapshot-scoped restores together: files, logical
        schema (columns/key_ids), bucket count, and ALL properties —
        including the replay bookkeeping (``watermark_gtid``,
        ``last_batch_id``, ``last_complete_batch``, ``truncate_gtid``), so
        a subsequent :class:`ReplayRunner` run RESUMES from the restored
        watermark and re-applies the rolled-back window with aligned
        exactly-once sub-ids. That is the operational story: undo a bad
        correction / batch / ALTER, then replay forward. Note config-ish
        properties (``bloom_keys``, ``compact_sort_by``) restore too —
        properties are snapshot-scoped by design.

        The restored snapshot takes a FRESH schema epoch (head+1) whose
        physical columns are the target's: ``epoch_schemas`` only ever
        grow, so files of the undone versions stay readable for time
        travel and ``changes()`` across the boundary, and a later re-ADD
        of a rolled-back column can never collide with the undone epoch's
        file schemas.

        Downstream consumers need no special cases: ``changes()`` across
        a rollback window fails its incremental gate (removed files /
        non-delta adds) and falls back to the full state diff, and the
        changes feed publishes the compensating ops on its to-version
        clock, so a consumer converges to the restored state.
        """
        target = self.snapshot_at(version)
        head = self.snapshot
        if target.version == head.version:
            return {"version": head.version, "restored": target.version,
                    "noop": True}
        new_epoch = head.epoch + 1
        epoch_schemas = dict(head.epoch_schemas)
        epoch_schemas[str(new_epoch)] = [
            ColumnSpec(c.id, c.name, c.type, c.nullable) for c in target.columns
        ]
        props = dict(target.properties)
        # provenance marker; carries forward like any property, reading as
        # "this lineage's most recent rollback restored that version"
        props["rollback_of"] = str(target.version)
        if self.branch:
            # A pre-fork target's properties come from MAIN's chain and
            # carry no fork marker; dropping it would brick
            # publish_branch (fork reads as -1) and branches(). The
            # branch's own head always has it — re-stamp.
            props["branch_fork_version"] = head.properties[
                "branch_fork_version"]
        self._write_snapshot(head.successor(
            columns=target.columns, key_ids=target.key_ids,
            num_buckets=target.num_buckets, epoch=new_epoch,
            epoch_schemas=epoch_schemas, files=list(target.files),
            properties=props,
        ))
        return {"version": head.version + 1, "restored": target.version,
                "noop": False, "n_files": len(target.files),
                "watermark_gtid": self.watermark_gtid}

    def _hybrid_snapshot(self, files: list[dict], properties: dict,
                         num_buckets: int) -> Snapshot:
        """A read-only snapshot view: HEAD's logical schema (columns +
        epoch_schemas, which only ever grow) over an older version's
        files/properties — lets old state be read pre-mapped to the
        current column set, so diffs never compare across renames by
        name."""
        return replace(self.snapshot, version=-1, num_buckets=num_buckets,
                       files=files, properties=properties, parent=None)

    def changes_plan(self, from_version: int | str, to_version: int | str | None = None) -> str:
        """Which plan :meth:`changes` will use for this window:
        ``'incremental'`` (read ONLY the delta files the window added —
        O(changes), the 100 TB path) or ``'diff'`` (full-state
        comparison — O(table), the always-correct fallback).

        The incremental path is sound exactly when the endpoint file sets
        prove the window was append-only MOR commits of STRICTLY NEWER
        events: every ``from`` file survives into ``to`` (no compaction/
        rebucket/CoW rewrite), every added file is a delta, bucketing and
        the TRUNCATE marker are unchanged, AND every added file's stamped
        gtid envelope sits strictly above every ``from`` file's — the
        incremental plan lets the window's per-key winners override the
        old state, which is only the read-time LWW answer when the
        window's gtids beat the old state's. A gtid-ranged replay always
        satisfies this; a file-paced streaming tail can commit epochs
        with interleaved gtid ranges (a later epoch carrying an OLDER
        event that read-time LWW correctly ignores), and must fall back.
        Unstamped files can't prove the ordering and also fall back.
        Endpoints suffice — snapshot state is purely (files, properties,
        schema), and data files are immutable."""
        from_snap = self.snapshot_at(from_version)
        to_snap = (self.snapshot if to_version is None
                   else self.snapshot_at(to_version))
        from_paths = {fi["path"] for fi in from_snap.files}
        added = [fi for fi in to_snap.files if fi["path"] not in from_paths]
        ok = (
            from_snap.num_buckets == to_snap.num_buckets
            and from_snap.properties.get("truncate_gtid", "-1")
            == to_snap.properties.get("truncate_gtid", "-1")
            and len(from_paths - {fi["path"] for fi in to_snap.files}) == 0
            and all(fi.get("kind") == "delta" for fi in added)
        )
        if ok and added and from_snap.files:
            from_his = [fi.get("gtid_hi") for fi in from_snap.files]
            added_los = [fi.get("gtid_lo") for fi in added]
            ok = (all(v is not None for v in from_his + added_los)
                  and min(added_los) > max(from_his))
        return "incremental" if ok else "diff"

    def changes(self, from_version: int | str, to_version: int | str | None = None,
                mode: str = "auto", include_meta: bool = False,
                with_before: bool = False,
                keyset_pushdown_max: int = 4096) -> DataFrame:
        """Row-level net changes between two snapshots — the lake as a CDC
        *source* (Iceberg's changelog scan / Delta CDF analogue): the
        binlog fed the table; ``changes()`` re-publishes the table's own
        history downstream. Output = current logical columns plus
        ``_change_type`` in {INSERT, UPDATE, DELETE}; DELETE rows carry
        the before-image, INSERT/UPDATE the after-image. Net semantics: a
        key touched many times in the window emits one row (its final
        outcome); insert-then-delete inside the window emits nothing.

        ``mode``: 'auto' picks :meth:`changes_plan`'s answer;
        'incremental' demands the O(changes) plan (raises when a
        compaction/rebucket/TRUNCATE in the window makes it unsound);
        'diff' forces the full-state comparison.

        Scale shape (incremental): one scan of the window's delta files,
        one per-key LWW window over them, one join against the *from*
        state pruned to the touched buckets only. A billion-row table
        with a million-row window reads the million rows plus the touched
        buckets — never the table.

        ``include_meta`` adds ``_gtid``/``_seq`` of the deciding change
        event (incremental) or of the surviving row (diff — a diff cannot
        know the deleting event's gtid; documented asymmetry).

        ``with_before`` adds a ``_before`` struct of the non-key columns'
        prior values (NULL for INSERT) — the Update bean's Before image
        (update.go:23-31), free in both plans since each already joins
        the old state.

        ``keyset_pushdown_max``: on the incremental plan, when the
        window holds at most this many ROWS (one bounded no-shuffle
        probe, ``limit(max+1)`` — an early-terminating scan, never a
        full distinct pass; distinct keys <= rows, deduped driver-side), a
        per-column ``isin`` prefilter narrows the old-state read to the
        changed keys BEFORE its LWW window (safe: the window partitions
        by exactly those keys, so whole key groups pass or fail together,
        and per-column sets are a superset of the exact tuples — the join
        applies exact equality). Catalyst pushes the filter through the
        window into the parquet scans, collapsing the touched-bucket
        resolve's shuffle/window volume from O(bucket rows) to ~O(changed
        keys) — the lever for uniformly-spread small batches, whose
        touched buckets are the whole table. 0 disables."""
        if mode not in ("auto", "incremental", "diff"):
            raise ValueError(f"unknown mode {mode!r}")
        from_snap = self.snapshot_at(from_version)
        to_snap = (self.snapshot if to_version is None
                   else self.snapshot_at(to_version))
        if to_snap.version < from_snap.version:
            raise ValueError(
                f"to_version {to_snap.version} precedes from_version {from_snap.version}")
        plan = self.changes_plan(from_version, to_snap.version)
        if mode == "incremental" and plan != "incremental":
            raise ValueError(
                "incremental changes are unsound for this window (a "
                "compaction, rebucket, CoW rewrite or TRUNCATE intervened, "
                "or a commit carries gtids at or below an earlier commit's "
                "— e.g. file-paced streaming epochs); use mode='diff' or 'auto'"
            )
        use = plan if mode == "auto" else mode

        keys = to_snap.key_names
        val_cols = [c.name for c in to_snap.columns if c.name not in keys]
        meta_cols = [GTID_COL, SEQ_COL] if include_meta else []

        def _empty() -> DataFrame:
            st = _struct_of(to_snap.columns)
            by_name = {f.name: f for f in st.fields}
            fields = [by_name[c] for c in keys + val_cols]
            if include_meta:
                fields += [T.StructField(GTID_COL, T.LongType()),
                           T.StructField(SEQ_COL, T.LongType())]
            fields.append(T.StructField("_change_type", T.StringType()))
            if with_before:
                fields.append(T.StructField("_before", T.StructType(
                    [by_name[v] for v in val_cols])))
            return self.spark.createDataFrame([], T.StructType(fields))

        if use == "incremental":
            from_paths = {fi["path"] for fi in from_snap.files}
            trunc = int(to_snap.properties.get("truncate_gtid", "-1"))
            added = [fi for fi in to_snap.files if fi["path"] not in from_paths
                     and not self._gtid_dead(fi, trunc)]
            if not added:
                return _empty()
            touched = {fi["bucket"] for fi in added}
            new_rows = self._read_mapped(to_snap, added, with_op=True)
            if trunc >= 0:
                new_rows = new_rows.filter(F.col(GTID_COL) > trunc)
            # net outcome per key: last (gtid, seq) wins, DELETEs KEPT
            net = (new_rows.withColumn("_rn", _lww_rank(*keys))
                   .filter(F.col("_rn") == 1).drop("_rn"))
            old_state = self.read(snapshot=self._hybrid_snapshot(
                [fi for fi in from_snap.files if fi["bucket"] in touched],
                from_snap.properties, from_snap.num_buckets))
            kf = self._keyset_prefilter(new_rows, keys, keyset_pushdown_max)
            if kf is not None:
                old_state = old_state.filter(kf)
            # null-safe key join: an equality `on=keys` would never match
            # a NULL key component, misreading its UPDATE as an INSERT
            old = old_state.select(
                *[F.col(k).alias(f"_oldk_{k}") for k in keys],
                *[F.col(v).alias(f"_old_{v}") for v in val_cols],
            ).withColumn("_old_exists", F.lit(True))
            j = net.join(old, on=self._nullsafe_key_cond(keys), how="left"
                         ).drop(*[f"_oldk_{k}" for k in keys])
            is_del = F.col(OP_COL) == "DELETE"
            exists = F.col("_old_exists").isNotNull()
            # net semantics, same as the diff plan: a rewrite to identical
            # values is not a change (else the two plans — and the
            # full-outer-join oracle — would disagree on no-op updates)
            same_vals = F.struct(*[F.col(v) for v in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"_old_{v}") for v in val_cols]))
            out = (
                j.filter(~is_del | exists)  # delete of a never-seen key: no-op
                .filter(is_del | ~exists | ~same_vals)
                .withColumn("_change_type",
                            F.when(is_del, "DELETE")
                            .when(exists, "UPDATE").otherwise("INSERT"))
            )
            sel = [F.col(k) for k in keys] + [
                F.when(is_del, F.col(f"_old_{v}")).otherwise(F.col(v)).alias(v)
                for v in val_cols
            ] + [F.col(c) for c in meta_cols] + [F.col("_change_type")]
            if with_before:
                sel.append(self._before_struct(val_cols, exists).alias("_before"))
            return out.select(*sel)

        # diff fallback: full-state comparison, always correct
        old_full = self.read(
            include_meta=include_meta,
            snapshot=self._hybrid_snapshot(
                from_snap.files, from_snap.properties, from_snap.num_buckets))
        new_full = self.read(include_meta=include_meta, snapshot=to_snap)
        o = old_full.select(
            *[F.col(k).alias(f"_oldk_{k}") for k in keys],
            *[F.col(c).alias(f"_old_{c}") for c in val_cols + meta_cols],
        ).withColumn("_old_exists", F.lit(True))
        n = new_full.select(
            keys + val_cols + meta_cols).withColumn("_new_exists", F.lit(True))
        # null-safe key join (NULL key components must pair across sides)
        j = n.join(o, on=self._nullsafe_key_cond(keys), how="full_outer")
        new_ex = F.col("_new_exists").isNotNull()
        old_ex = F.col("_old_exists").isNotNull()
        same = F.struct(*[F.col(v) for v in val_cols]).eqNullSafe(
            F.struct(*[F.col(f"_old_{v}") for v in val_cols]))
        out = (
            j.filter(~(new_ex & old_ex & same))
            .withColumn("_change_type",
                        F.when(new_ex & old_ex, "UPDATE")
                        .when(new_ex, "INSERT").otherwise("DELETE"))
        )
        sel = [
            # DELETE rows have no n side; new_ex (not coalesce) picks the
            # side, since a matched key component may be legitimately NULL
            F.when(new_ex, F.col(k)).otherwise(F.col(f"_oldk_{k}")).alias(k)
            for k in keys
        ] + [
            F.when(F.col("_change_type") == "DELETE", F.col(f"_old_{v}"))
            .otherwise(F.col(v)).alias(v)
            for v in val_cols
        ] + [
            F.when(F.col("_change_type") == "DELETE", F.col(f"_old_{c}"))
            .otherwise(F.col(c)).alias(c)
            for c in meta_cols
        ] + [F.col("_change_type")]
        if with_before:
            sel.append(self._before_struct(val_cols, old_ex).alias("_before"))
        return out.select(*sel)

    @staticmethod
    def _nullsafe_key_cond(keys: list[str]):
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"_oldk_{k}"))
            cond = c if cond is None else (cond & c)
        return cond

    @staticmethod
    def _keyset_probe(new_rows: DataFrame, keys: list[str], cap: int):
        """limit(cap+1) key-row probe: the collected rows (possibly
        EMPTY — callers may short-circuit a zero-change window), or None
        when ``cap <= 0`` or the window exceeds the cap."""
        if cap <= 0:
            return None
        # Probe ROWS, not distinct keys: limit(cap+1) on the raw rows is
        # an early-terminating scan with NO shuffle (Spark's incremental
        # take reads partitions until it has cap+1 rows), so a window far
        # larger than the cap costs ~cap rows of IO, never a full
        # distinct pass that ends in "too many". Trade disclosed: a
        # >cap-row window with few DISTINCT keys (hot-key churn) skips
        # the prefilter — the unfiltered plan is correct, just wider.
        rows = new_rows.select(*keys).limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        return rows

    @staticmethod
    def _keyset_prefilter(new_rows: DataFrame, keys: list[str], cap: int):
        """Per-column membership condition over the window's changed keys
        (None when the window's ROW count exceeds ``cap`` or is empty;
        distinct keys are a subset of the probed rows and equal the net
        winners' keys — one winner per key — so no LWW window is needed
        to enumerate them). NULL key components get an explicit isNull
        arm (``isin`` never matches NULL)."""
        rows = LakeTable._keyset_probe(new_rows, keys, cap)
        if not rows:
            return None
        return LakeTable._membership_cond(rows, keys)

    @staticmethod
    def _membership_cond(rows, keys: list[str]):
        """Per-column ``isin``/``isNull`` condition from probed key rows
        (None for non-hashable key types — the filter is optional)."""
        cond = None
        for k in keys:
            try:
                vals = {bytes(r[k]) if isinstance(r[k], bytearray) else r[k]
                        for r in rows}
            except TypeError:
                # non-hashable key type (array/map — bytearray is already
                # normalized to bytes above) — the prefilter is an
                # optimization; fall back to the unfiltered plan
                return None
            has_null = None in vals
            vals.discard(None)
            c = F.col(k).isin(*vals) if vals else F.lit(False)
            if has_null:
                c = c | F.col(k).isNull()
            cond = c if cond is None else (cond & c)
        return cond

    @staticmethod
    def _before_struct(val_cols: list[str], old_exists):
        return F.when(old_exists, F.struct(
            *[F.col(f"_old_{v}").alias(v) for v in val_cols]))

    # ---------------------------------------------------------------- write helpers

    @staticmethod
    def _bucket_expr_of(keys: list[str], num_buckets: int):
        """THE bucket function — single definition site: writers, point
        reads, and rebucket must all hash identically or point reads open
        the wrong bucket (see tests/test_exact_repartition.py for the
        F.hash parity this composes with)."""
        return F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                      F.lit(num_buckets)).cast("int")

    def bucket_expr(self, key_cols: list[str] | None = None):
        return self._bucket_expr_of(key_cols or self.snapshot.key_names,
                                    self.snapshot.num_buckets)

    @staticmethod
    def _salt_of(keys: list[str], files_per_bucket: int):
        """A key's file slot within its bucket, in ``[0, files_per_bucket)``:
        the write exchange and compaction's cell exchange both place a key
        by (bucket, this salt)."""
        return F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.lit(7)),
                      F.lit(files_per_bucket))

    def _commit_dir(self, prefix: str) -> str:
        """A fresh data dir for the next version's files (``prefix`` names
        the writer: c=CoW, x=correction, k/t=compaction and its
        tombstones, r/rt=rebucket and its tombstones)."""
        return os.path.join(
            "data", f"{prefix}{self.snapshot.version + 1:012d}-{uuid.uuid4().hex[:8]}")

    def _bloom_write_options(self) -> dict:
        """Parquet bloom-filter writer options for the KEY columns when
        the table property ``bloom_keys`` is truthy (set at create or via
        ``set_properties``). Point reads (``lookup`` / ``key_history``)
        push a key-equality predicate into every file of one bucket; a
        file's min/max column stats only prune row groups when the data
        is key-clustered (``compact(sort_by=keys)``), which delta files
        by construction are NOT — blooms give the reader a per-row-group
        membership test that skips unsorted groups without reading them.
        Cost is self-limiting: parquet-mr omits the bloom for any column
        chunk that stayed fully dictionary-encoded (the dictionary page
        already answers equality), so low-cardinality chunks pay nothing,
        and adaptive sizing picks the smallest candidate (down to
        ``bloom_max_bytes``/16, default 64 KiB) that holds the chunk's
        actual NDV at the target FPP. Keyed by the epoch's PHYSICAL
        column names — what the data files store; a renamed key keeps its
        blooms under the new name from the next commit on."""
        snap = self.snapshot
        if str(snap.properties.get("bloom_keys", "")).lower() not in ("true", "1"):
            return {}
        phys = {c.id: c.name for c in snap.epoch_schemas[str(snap.epoch)]}
        opts = {
            "parquet.bloom.filter.adaptive.enabled": "true",
            "parquet.bloom.filter.max.bytes": str(int(
                snap.properties.get("bloom_max_bytes", str(1 << 20)))),
        }
        for kid in snap.key_ids:
            opts[f"parquet.bloom.filter.enabled#{phys[kid]}"] = "true"
        return opts

    def _write_exchange(self, df: DataFrame, files_per_bucket: int = 1,
                        num_buckets: int | None = None) -> DataFrame:
        """The write-side exchange: dense (bucket, salt) cell ids map
        evenly and DETERMINISTICALLY onto ``min(cells,
        spark.sql.shuffle.partitions)`` reducers via
        :func:`exact_partition_rep` — no range-sampling job. ``files_per_bucket``
        > 1 salts it so a hot bucket is written by several tasks/files.

        ``repartitionByRange`` buys the same even placement only with an
        extra job that re-executes the whole child plan to sample it, per
        merge batch the largest constant serial cost of a replay. Naive
        ``repartition(n, bucket, salt)`` is NOT equivalent: hash placement
        of a few hundred distinct cells is balls-in-bins (some reducers
        draw 3-4x the cells and straggle). Exposed for the plan-shape
        regression test (tests/test_exact_repartition.py)."""
        snap = self.snapshot
        fpb = max(files_per_bucket, 1)
        salt = self._salt_of(snap.key_names, fpb)
        n_cells = (num_buckets or snap.num_buckets) * fpb
        shuffle_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        n_parts = max(1, min(n_cells, shuffle_parts))
        if n_parts <= EXACT_REPARTITION_MAX:
            cell = F.col(BUCKET_COL) * fpb + salt
            part = F.floor(cell * n_parts / F.lit(n_cells))
            return df.repartition(n_parts, exact_partition_rep(part, n_parts))
        # maintenance-scale cell counts: fall back to sampling
        return df.repartitionByRange(F.col(BUCKET_COL), salt.alias("_salt"))

    def _write_files(self, df: DataFrame, commit_dir_rel: str, kind: str,
                     with_op: bool, obs: Observation | None = None,
                     metrics: list | None = None,
                     drop_deletes: bool = False) -> tuple[list[dict], dict]:
        """THE data-file writer: every data file of the table is written
        here, so the physical layout is decided once — the current epoch's
        physical column names, the meta columns (plus ``_op`` when
        ``with_op``), one ``_bucket_p=<bucket>`` dir per bucket (parsed back
        by :meth:`_list_commit_files`) and the key blooms
        (:meth:`_bloom_write_options`). ``df`` arrives already placed by its
        caller's exchange. Returns the written files (``kind``, current
        epoch, unstamped) and the observed metrics.

        ``obs`` observes ``metrics`` in the write job itself, ABOVE the
        caller's exchange (a sampling exchange below would run the child
        twice and double-count), together with the per-bucket counts of
        the rows written: returned as ``bucket_counts`` {bucket: rows},
        observed up to ``_OBS_BUCKET_LIMIT`` buckets, read from the written
        footers above it. ``drop_deletes`` (CoW): DELETE winners ride the
        exchange so the observation counts them, then drop before the
        write."""
        snap = self.snapshot
        phys = {c.id: c.name for c in snap.epoch_schemas[str(snap.epoch)]}
        cols = [F.col(c.name).alias(phys[c.id]) for c in snap.columns]
        cols += [F.col(GTID_COL), F.col(SEQ_COL), F.col(BUCKET_COL)]
        if with_op:
            cols.append(F.col(OP_COL))
        observed = snap.num_buckets <= self._OBS_BUCKET_LIMIT
        if obs is not None:
            if observed:
                metrics = metrics + self._bucket_count_metrics(
                    snap.num_buckets, exclude_deletes=drop_deletes)
            df = df.observe(obs, *metrics)
        if drop_deletes:
            df = df.filter(F.col(OP_COL) != "DELETE")
        (
            df.select(*cols, F.col(BUCKET_COL).alias("_bucket_p"))
            .write.options(**self._bloom_write_options())
            .partitionBy("_bucket_p")
            .parquet(os.path.join(self.root, commit_dir_rel))
        )
        files = self._list_commit_files(commit_dir_rel, snap.epoch, kind)
        if obs is None:
            return files, {}
        m = self._obs_get_safe(obs)
        m["bucket_counts"] = (
            {b: int(n) for b, n in enumerate(m.get("bucket_counts") or []) if n}
            if observed else self._footer_rows(self.root, files))
        return files, m

    def _list_commit_files(self, commit_dir_rel: str, epoch: int, kind: str) -> list[dict]:
        out = []
        base = os.path.join(self.root, commit_dir_rel)
        for dirpath, _dirs, fnames in os.walk(base):
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, fn), self.root)
                bucket = None
                for seg in rel.split(os.sep):
                    if seg.startswith("_bucket_p="):
                        bucket = int(seg.split("=", 1)[1])
                if bucket is None:
                    raise ValueError(f"no bucket dir in {rel}")
                out.append({"path": rel, "bucket": bucket, "epoch": epoch, "kind": kind})
        return out

    @staticmethod
    def _stamp_gtid_bounds(files: list[dict], lo, hi) -> list[dict]:
        """Commit-level gtid bounds stamped on every file of a commit
        (Iceberg manifest column stats, riding the write Observation —
        zero extra IO, ``t_footer_s`` stays ~0). Batches partition the
        gtid axis, so commit bounds are file-precise for deltas; for
        rewrites they are conservative envelopes. Readers treat a file
        with ``gtid_hi <= truncate_gtid`` as fully dead and plan it out
        instead of row-filtering it; files without stats (older tables)
        are simply never pruned."""
        if lo is None or hi is None:
            return files
        for fi in files:
            fi["gtid_lo"] = int(lo)
            fi["gtid_hi"] = int(hi)
        return files

    @staticmethod
    def _gtid_dead(fi: dict, trunc: int) -> bool:
        hi = fi.get("gtid_hi")
        return trunc >= 0 and hi is not None and hi <= trunc

    @staticmethod
    def _obs_get_safe(obs: Observation) -> dict:
        """Observation metrics, tolerating the JVM assert that fires when
        the observed write ran zero tasks (fully-empty batch) — an empty
        batch still needs its metadata-only commit for exactly-once."""
        try:
            return dict(obs.get)
        except Exception:
            return {}

    # Above this many buckets, per-bucket Observation expressions stop
    # being codegen-friendly; fall back to (threaded) footer reads.
    _OBS_BUCKET_LIMIT = 512

    @staticmethod
    def _bucket_count_metrics(num_buckets: int, exclude_deletes: bool) -> list:
        """Per-bucket row-count aggregates riding the WRITE job's
        Observation — the task-side replacement for driver-serial parquet
        footer reads (round-2 review #8): counts come out of the same job
        that writes the rows, so commit-time lineage costs zero extra IO
        (``t_footer_s`` ~ 0), on tmpfs and object storage alike.

        One array-of-sums aggregate parsed from one SQL string, so its
        build is one JVM call at any bucket count: a Column per bucket
        costs round trips per call, ~0.1 s at 16 buckets and seconds at
        512, on every write."""
        # CoW drops DELETE winners before the write
        one = f"if(`{OP_COL}` != 'DELETE', 1, 0)" if exclude_deletes else "1"
        sums = ", ".join(f"sum(if(`{BUCKET_COL}` = {b}, {one}, 0))"
                         for b in range(num_buckets))
        return [F.expr(f"array({sums}) AS bucket_counts")]

    @staticmethod
    def _footer_rows(root: str, files: list[dict]) -> dict[int, int]:
        """Per-bucket row counts from parquet footers (fallback for tables
        beyond _OBS_BUCKET_LIMIT buckets; metadata-only reads, fanned out
        over threads so object-storage latency doesn't serialize)."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def one(fi):
            return fi["bucket"], pq.ParquetFile(
                os.path.join(root, fi["path"])).metadata.num_rows

        per_bucket: dict[int, int] = {}
        if not files:
            return per_bucket
        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            for bucket, n in ex.map(one, files):
                per_bucket[bucket] = per_bucket.get(bucket, 0) + n
        return per_bucket

    # ---------------------------------------------------------------- merge

    def _projected_changes(self, changes: DataFrame) -> DataFrame:
        """A merge's input on the current columns, leniently: each cast to
        its current type, columns the batch does not carry (events decoded
        before an ADD COLUMN landed) as NULL, ``_seq`` 0 when absent, plus
        the bucket column."""
        avail = set(changes.columns)
        proj = [
            F.col(c.name).cast(c.type).alias(c.name) if c.name in avail
            else F.lit(None).cast(c.type).alias(c.name)
            for c in self.snapshot.columns
        ]
        seq = F.col(SEQ_COL).cast("bigint") if SEQ_COL in avail else F.lit(0).cast("bigint")
        return changes.select(*proj, OP_COL, GTID_COL, seq.alias(SEQ_COL)).withColumn(
            BUCKET_COL, self.bucket_expr()
        )

    def _progress_properties(self, batch_max: int | None, batch_id: int,
                             extra_properties: dict[str, str] | None) -> dict:
        """The exactly-once properties a merge commit carries: the watermark
        raised to the batch's max gtid, ``last_batch_id``, and
        ``extra_properties`` with ``truncate_gtid`` merged monotonically
        (a replay can never regress it)."""
        props = dict(self.snapshot.properties)
        props["watermark_gtid"] = str(max(self.watermark_gtid,
                                          -1 if batch_max is None else batch_max))
        props["last_batch_id"] = str(batch_id)
        extra = dict(extra_properties or {})
        if "truncate_gtid" in extra:
            extra["truncate_gtid"] = str(max(self.truncate_gtid, int(extra["truncate_gtid"])))
        props.update(extra)
        return props

    def stage_mor_delta(
        self,
        changes: DataFrame,
        files_per_bucket: int = 1,
        label: str = "staged",
    ) -> dict:
        """Run the expensive half of a MOR merge — the delta-file write job —
        WITHOUT committing a snapshot. Returns a staged-commit dict for
        :meth:`commit_staged`.

        This split is what lets the replay runner PIPELINE batches: delta
        writes of consecutive batches are independent Spark jobs (distinct
        commit dirs, no table reads), so they may run concurrently; only
        the snapshot pointer swap must serialize, in batch order. A crash
        leaves staged files unreachable from any snapshot — the same
        orphan-cleanup story as a crashed writer (module docstring)."""
        import time as _time

        t_start = _time.monotonic()
        snap = self.snapshot
        changes = self._projected_changes(changes)
        obs = Observation(f"stage-{label}-{uuid.uuid4().hex[:6]}")
        # Append the batch as per-bucket deltas. LWW resolution happens at
        # read/compaction time anyway (keyed on _gtid), so the write needs
        # NO key shuffle and NO sort — one bucket-hash exchange + parquet
        # write, the cheapest possible apply.
        metrics = [
            F.sum(F.when(F.col(OP_COL) != "DELETE", 1).otherwise(0)).alias("rows_upserted"),
            F.sum(F.when(F.col(OP_COL) == "DELETE", 1).otherwise(0)).alias("rows_deleted"),
            F.max(F.col(GTID_COL)).alias("max_gtid"),
            F.min(F.col(GTID_COL)).alias("min_gtid"),
        ]
        written, m = self._write_files(
            self._write_exchange(changes, files_per_bucket),
            os.path.join("data", f"s{uuid.uuid4().hex[:12]}"), "delta",
            with_op=True, obs=obs, metrics=metrics)
        return {
            "written": self._stamp_gtid_bounds(
                written, m.get("min_gtid"), m.get("max_gtid")),
            "epoch": snap.epoch,
            "counts": {
                "rows_inserted": int(m.get("rows_upserted") or 0),
                "rows_updated": 0,
                "rows_deleted": int(m.get("rows_deleted") or 0),
            },
            "bucket_counts": m["bucket_counts"],
            "min_gtid": m.get("min_gtid"),
            "max_gtid": m.get("max_gtid"),
            "t_write_s": round(_time.monotonic() - t_start, 4),
        }

    def empty_staged(self) -> dict:
        """A staged write of no rows: :meth:`commit_staged` turns it into the
        same snapshot an empty :meth:`merge` commits, without a Spark job."""
        return {
            "written": [], "epoch": self.snapshot.epoch,
            "counts": {"rows_inserted": 0, "rows_updated": 0, "rows_deleted": 0},
            "bucket_counts": {}, "min_gtid": None, "max_gtid": None,
            "t_write_s": 0.0,
        }

    def commit_staged(
        self,
        staged: dict,
        batch_id: int,
        extra_properties: dict[str, str] | None = None,
        auto_compact_deltas: int | str | None = None,
        files_per_bucket: int = 1,
        compact_keep_tombstones: bool = False,
    ) -> dict:
        """Commit a staged delta write as batch ``batch_id`` (ordered,
        driver-serial, O(metadata)). Same exactly-once guard as merge():
        an already-applied batch id is a no-op (the staged files stay
        orphaned — harmless, unreachable)."""
        import time as _time

        t0 = _time.monotonic()
        snap = self.snapshot
        if batch_id <= self.last_batch_id:
            return {"skipped": True, "batch_id": batch_id}
        if staged["epoch"] != snap.epoch:
            raise RuntimeError(
                f"staged write at epoch {staged['epoch']} cannot commit at "
                f"epoch {snap.epoch}: schema evolved mid-pipeline (barrier bug)"
            )
        per_bucket = staged["bucket_counts"]
        new = snap.successor(
            files=snap.files + staged["written"],
            properties=self._progress_properties(staged["max_gtid"], batch_id,
                                                 extra_properties))
        self._write_snapshot(new)
        result = {
            "skipped": False, "batch_id": batch_id, **staged["counts"],
            "gtid_min": staged["min_gtid"], "gtid_max": staged["max_gtid"],
            "buckets_touched": len(per_bucket),
            "partitions": sorted(per_bucket.items()),
            "version": new.version,
            "t_write_s": staged["t_write_s"],
            "t_footer_s": 0.0,
            "t_commit_s": round(_time.monotonic() - t0, 4),
        }
        if auto_compact_deltas is not None:
            if auto_compact_deltas == "auto":
                # ~8 batches' worth of delta files: bounds per-bucket read
                # amplification and snapshot size for untuned streams while
                # amortizing the rewrite over many commits.
                auto_compact_deltas = 8 * snap.num_buckets * max(files_per_bucket, 1)
            n_delta = sum(
                1 for fi in self.snapshot.files
                # tombstone files are compaction's own steady-state output
                # (never cleared by design) — counting them would pin the
                # trigger past the threshold and compact EVERY batch
                if fi.get("kind") == "delta" and not fi.get("tombstones"))
            if n_delta > auto_compact_deltas:
                result["compacted_buckets"] = self.compact(
                    files_per_bucket=files_per_bucket,
                    keep_tombstones=compact_keep_tombstones)
        return result

    def merge(
        self,
        changes: DataFrame,
        batch_id: int,
        mode: str = "cow",
        extra_properties: dict[str, str] | None = None,
        files_per_bucket: int = 1,
        auto_compact_deltas: int | str | None = None,
        compact_keep_tombstones: bool = False,
    ) -> dict:
        """MERGE a change batch (the Iceberg ``MERGE INTO`` analogue).

        ``changes`` must carry the current logical columns plus ``_op``
        ('INSERT'|'UPDATE'|'DELETE') and ``_gtid`` (bigint, total order).
        Semantics: last writer (max ``_gtid``) wins per key; a winning
        DELETE removes the key; winning INSERT/UPDATE upserts the row —
        resolution on the *final* op per key, so DELETE→INSERT
        resurrection within one batch lands as the INSERT.

        ``mode='mor'`` appends deltas (O(batch), target never read) — the
        staged write of :meth:`stage_mor_delta` committed at once by
        :meth:`commit_staged`; ``mode='cow'`` rewrites affected buckets
        (delta-free reads, exact insert/update/delete lineage).
        ``auto_compact_deltas``: in mor mode, compact when delta-file
        count exceeds it.

        Returns lineage metrics. Replay of an applied batch (batch_id <=
        last_batch_id) is a no-op returning {"skipped": True}, checked
        before anything is written.
        """
        import time as _time

        t_start = _time.monotonic()
        snap = self.snapshot
        if batch_id <= self.last_batch_id:
            return {"skipped": True, "batch_id": batch_id}
        if mode == "mor":
            return self.commit_staged(
                self.stage_mor_delta(changes, files_per_bucket,
                                     label=f"merge-{batch_id}"),
                batch_id, extra_properties, auto_compact_deltas,
                files_per_bucket, compact_keep_tombstones)
        if mode != "cow":
            raise ValueError(f"unknown merge mode {mode!r}")
        keys = snap.key_names
        changes = self._projected_changes(changes)

        obs = Observation(f"merge-{batch_id}")
        affected = {r[0] for r in changes.select(BUCKET_COL).distinct().collect()}
        touched = [fi for fi in snap.files if fi["bucket"] in affected]
        untouched = [fi for fi in snap.files if fi["bucket"] not in affected]
        target = self.read(include_meta=True, snapshot=snap.sub(touched))
        unioned = target.withColumn(OP_COL, F.lit(_KEEP)).unionByName(changes)
        wf = Window.partitionBy(*keys).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        ranked = unioned.withColumn("_rn", _lww_rank(*keys)).withColumn(
            "_had_target", F.max(F.when(F.col(OP_COL) == _KEEP, 1).otherwise(0)).over(wf)
        )
        is_change = F.col(OP_COL) != _KEEP
        winners = ranked.filter(F.col("_rn") == 1)
        metrics = [
            F.sum(F.when(is_change & (F.col(OP_COL) != "DELETE") & (F.col("_had_target") == 0), 1)
                  .otherwise(0)).alias("rows_inserted"),
            F.sum(F.when(is_change & (F.col(OP_COL) != "DELETE") & (F.col("_had_target") == 1), 1)
                  .otherwise(0)).alias("rows_updated"),
            F.sum(F.when((F.col(OP_COL) == "DELETE") & (F.col("_had_target") == 1), 1)
                  .otherwise(0)).alias("rows_deleted"),
            F.max(F.when(is_change, F.col(GTID_COL))).alias("max_gtid"),
            F.min(F.when(is_change, F.col(GTID_COL))).alias("min_gtid"),
            # bounds over the rows actually WRITTEN (kept rows carry
            # older gtids than the batch's changes)
            F.max(F.when(F.col(OP_COL) != "DELETE", F.col(GTID_COL)))
            .alias("w_max_gtid"),
            F.min(F.when(F.col(OP_COL) != "DELETE", F.col(GTID_COL)))
            .alias("w_min_gtid"),
        ]
        written, m = self._write_files(
            self._write_exchange(winners, files_per_bucket), self._commit_dir("c"),
            "base", with_op=False, obs=obs, metrics=metrics, drop_deletes=True)
        self._stamp_gtid_bounds(written, m.get("w_min_gtid"), m.get("w_max_gtid"))
        t_write_done = _time.monotonic()
        new = snap.successor(
            files=untouched + written,
            properties=self._progress_properties(m.get("max_gtid"), batch_id,
                                                 extra_properties))
        self._write_snapshot(new)
        return {
            "skipped": False,
            "batch_id": batch_id,
            "rows_inserted": int(m.get("rows_inserted") or 0),
            "rows_updated": int(m.get("rows_updated") or 0),
            "rows_deleted": int(m.get("rows_deleted") or 0),
            "gtid_min": m.get("min_gtid"),
            "gtid_max": m.get("max_gtid"),
            "buckets_touched": len(m["bucket_counts"]),
            "partitions": sorted(m["bucket_counts"].items()),
            "version": new.version,
            # phase walls: the write job (parallel, per-bucket counts
            # included) vs the driver-serial snapshot commit
            "t_write_s": round(t_write_done - t_start, 4),
            "t_footer_s": 0.0,
            "t_commit_s": round(_time.monotonic() - t_write_done, 4),
        }

    # ------------------------------------------- out-of-band corrections

    def delete_where(self, condition: str | Column,
                     files_per_bucket: int = 1) -> dict:
        """Delete every CURRENT row matching ``condition`` — the
        compliance / contamination-removal operation a training-data lake
        needs outside the change stream (kill-listed domains, poisoned
        shards, takedown requests). Not a reference operator: the binlog
        only ever *carries* deletes; this originates one.

        Spark-first plan: one MOR read selects the victims (``condition``
        pushes into the parquet scans of CLEAN buckets; on dirty buckets a
        non-key predicate evaluates above the LWW window — the window's
        key shuffle is the MOR read's existing cost, not an extra one),
        and ONE delta commit (same bucket-exchange write as a merge
        batch) appends a DELETE row per victim carrying its before-image.
        The rows are stamped ``(_gtid = effective watermark, _seq = 2^62
        + correction#)`` — above every stream row already applied (stream
        seq < 2^53 by the packing), below ANY later stream event (gtid
        strictly greater) — so replay bookkeeping (``last_batch_id`` /
        ``watermark_gtid``) is untouched, a resumed or handed-off stream
        is oblivious, a later re-insert of the key wins as it should, and
        compaction's tombstone retention treats the rows like any winning
        DELETE. ``changes()`` over a window containing a correction
        normally falls back to the always-correct diff (the added stamps
        sit AT the from-side's max, failing the gate's strictly-above
        clause); the one shape where the gate can still pass — a CoW
        table whose written-row bounds sit below the watermark — is
        sound, because strictly-above IS the soundness condition. Crash
        before the snapshot swap leaves only an orphan data dir for
        ``vacuum()``; zero matches commit nothing (decided from the
        written file set, never from job metrics).
        """
        victims = self.read().filter(condition)
        return self._commit_correction(victims, "DELETE", files_per_bucket)

    def update_where(self, condition: str | Column,
                     assignments: dict[str, str | Column],
                     files_per_bucket: int = 1) -> dict:
        """Rewrite columns of every CURRENT row matching ``condition``
        (redaction / PII scrubbing: ``update_where("lang = 'py'",
        {"content": "md5(content)"})``). Same single-delta-commit shape
        and ordering guarantees as :meth:`delete_where`, with UPDATE rows
        carrying the reassigned values; key columns cannot be reassigned
        (the bucket function pins identity)."""
        snap = self.snapshot
        keys = set(snap.key_names)
        bad = sorted(keys & set(assignments))
        if bad:
            raise ValueError(f"cannot reassign key columns {bad} — delete "
                             "and re-insert under the new key instead")
        known = {c.name for c in snap.columns}
        unknown = sorted(set(assignments) - known)
        if unknown:
            raise ValueError(f"unknown columns {unknown}")
        rows = self.read().filter(condition)
        # ONE projection: every RHS evaluates against the PRE-update row
        # (SQL UPDATE SET semantics — {"a": "'X'", "b": "a"} archives the
        # ORIGINAL a; sequential withColumn would archive 'X' or not,
        # depending on dict order)
        exprs = {
            name: (F.expr(e) if isinstance(e, str) else e)
            for name, e in assignments.items()
        }
        rows = rows.select(*[
            exprs[c.name].alias(c.name) if c.name in exprs else F.col(c.name)
            for c in snap.columns
        ])
        # reject type-incompatible redactions UP FRONT: the write path's
        # cast is non-ANSI and would silently commit NULLs over real data
        target = {c.name: c.type for c in snap.columns}
        for name, dt in rows.dtypes:
            if name not in exprs:
                continue
            want = target[name]
            if dt != want and dt != "void" and (dt, want) not in _WIDEN_OK \
                    and want != "string":
                raise ValueError(
                    f"assignment for {name!r} has type {dt}, column is "
                    f"{want} — a lossy cast would write NULLs; cast "
                    "explicitly in the expression if intended")
        return self._commit_correction(rows, "UPDATE", files_per_bucket)

    def _commit_correction(self, rows: DataFrame, op: str,
                           files_per_bucket: int) -> dict:
        import time as _time

        t0 = _time.monotonic()
        snap = self.snapshot
        # effective high-water: the declared watermark, raised to the
        # stamped file envelope when a mid-batch crash left data past it
        # (the correction must outrank every PERSISTED row) and past the
        # TRUNCATE marker (rows at or below it are planned dead).
        his = [fi.get("gtid_hi") for fi in snap.files]
        wm = max([self.watermark_gtid, self.truncate_gtid + 1, 0]
                 + [h for h in his if h is not None])
        corr_n = int(snap.properties.get("correction_count", "0"))
        seq = CORRECTION_SEQ_BASE + corr_n * CORRECTION_SEQ_STEP
        changes = (
            rows.select(*[F.col(c.name).cast(c.type).alias(c.name)
                          for c in snap.columns])
            .withColumn(OP_COL, F.lit(op))
            .withColumn(GTID_COL, F.lit(wm).cast("bigint"))
            .withColumn(SEQ_COL, F.lit(seq).cast("bigint"))
            .withColumn(BUCKET_COL, self.bucket_expr())
        )
        obs = Observation(f"correction-{snap.version + 1}")
        commit_dir_rel = self._commit_dir("x")
        written, m = self._write_files(
            self._write_exchange(changes, files_per_bucket), commit_dir_rel,
            "delta", with_op=True, obs=obs,
            metrics=[F.count(F.lit(1)).alias("rows")])
        # the emptiness decision must NOT ride the Observation (its get
        # can fail independently of the write — a swallowed metrics error
        # reading as rows=0 would rmtree a committed takedown): zero
        # matches is decided by the written FILE SET, which the
        # partitioned write leaves empty exactly when no row matched
        if not written:
            shutil.rmtree(os.path.join(self.root, commit_dir_rel),
                          ignore_errors=True)
            return {"op": op, "rows": 0, "skipped": True}
        props = dict(snap.properties)
        props["correction_count"] = str(corr_n + 1)
        new = snap.successor(
            files=snap.files + self._stamp_gtid_bounds(written, wm, wm),
            properties=props)
        self._write_snapshot(new)
        per_bucket = m["bucket_counts"]
        n = m.get("rows")
        if n is None:  # metrics unavailable — count from the fallback
            n = sum(per_bucket.values())
        return {"op": op, "rows": int(n), "gtid": wm, "seq": seq,
                "version": new.version,
                "buckets_touched": len(per_bucket),
                "t_total_s": round(_time.monotonic() - t0, 4)}

    # ---------------------------------------------------------------- DDL

    def _commit_meta(self, columns: list[ColumnSpec], files: list[dict] | None = None,
                     bump_epoch: bool = True, extra_properties: dict[str, str] | None = None) -> None:
        snap = self.snapshot
        new_epoch = snap.epoch + 1 if bump_epoch else snap.epoch
        epoch_schemas = dict(snap.epoch_schemas)
        if bump_epoch:
            epoch_schemas[str(new_epoch)] = [ColumnSpec(c.id, c.name, c.type, c.nullable) for c in columns]
        self._write_snapshot(snap.successor(
            columns=columns, epoch=new_epoch, epoch_schemas=epoch_schemas,
            files=snap.files if files is None else files,
            properties={**snap.properties, **(extra_properties or {})},
        ))

    def alter(self, cmd: AlterCommand, extra_properties: dict[str, str] | None = None) -> None:
        """ALTER TABLE ``cmd`` (ADD/RENAME/MODIFY-widen/DROP COLUMN) as one
        metadata commit of :func:`altered_columns`' result; old files are
        re-mapped by column id on read (absent columns read as NULL).

        A new column's id is one past every id the table ever used: a
        dropped column's id stays in the ``epoch_schemas`` of the files
        written with it (they only grow), and reusing it would bring those
        files' values back under the new column."""
        snap = self.snapshot
        new_id = 1 + max(c.id for cols in [snap.columns, *snap.epoch_schemas.values()]
                         for c in cols)
        self._commit_meta(altered_columns(snap.columns, snap.key_ids, cmd, new_id),
                          extra_properties=extra_properties)

    def add_column(self, name: str, type_: str,
                   extra_properties: dict[str, str] | None = None) -> None:
        self.alter(AlterCommand("add", column=name, type_=type_), extra_properties)

    def rename_column(self, old: str, new: str,
                      extra_properties: dict[str, str] | None = None) -> None:
        self.alter(AlterCommand("rename", column=old, new_name=new), extra_properties)

    def widen_column(self, name: str, new_type: str,
                     extra_properties: dict[str, str] | None = None) -> None:
        self.alter(AlterCommand("modify", column=name, type_=new_type), extra_properties)

    def drop_column(self, name: str,
                    extra_properties: dict[str, str] | None = None) -> None:
        self.alter(AlterCommand("drop", column=name), extra_properties)

    def truncate(self, extra_properties: dict[str, str] | None = None) -> None:
        """TRUNCATE TABLE (reference op: component/bean/query.go:24) — drop all file refs."""
        self._commit_meta(self.snapshot.columns, files=[], bump_epoch=False,
                          extra_properties=extra_properties)

    def set_properties(self, props: dict[str, str]) -> None:
        self._commit_meta(self.snapshot.columns, bump_epoch=False, extra_properties=props)

    # ---------------------------------------------------------------- maintenance

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Drop snapshot metadata older than the newest ``keep_last``
        versions (Iceberg's expire_snapshots): bounds time-travel history
        and lets :meth:`vacuum` reclaim the data files only those old
        snapshots referenced. Never touches the current snapshot, and
        never a version a :meth:`tag` pins — tagged snapshots ride out
        retention until untagged. Returns the number of snapshot files
        removed."""
        self._require_main("expire_snapshots")
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        meta = self._meta_dir
        cutoff = self.snapshot.version - keep_last + 1
        pinned = set(self.tags().values())
        removed = 0
        for fn in os.listdir(meta):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            try:
                version = int(fn[1:-5])
            except ValueError:
                continue
            if version < cutoff and version not in pinned:
                os.remove(os.path.join(meta, fn))
                removed += 1
        return removed

    # Iceberg remove_orphan_files defaults to a 3-day grace window; same here.
    VACUUM_DEFAULT_GRACE_S = 3 * 86400

    def vacuum(self, older_than_s: float = VACUUM_DEFAULT_GRACE_S) -> int:
        """Delete data files referenced by NO remaining snapshot — expired
        versions' exclusive files plus orphans from crashed/uncommitted
        writers. Safe by construction for committed state: a file
        referenced by any live snapshot json is kept, so time travel over
        the retained history still works. Returns the number of files
        deleted (empty directories are pruned too).

        ``older_than_s``: unreferenced files YOUNGER than this (by mtime)
        are skipped. Staged-but-not-yet-committed delta dirs are the
        normal operating state of a live pipelined writer (the replay CLI
        defaults ``--pipeline-depth 3``; ``stage_mor_delta``/``stage_pairs``
        hold staged dirs across batches) and are indistinguishable from
        crash orphans by path alone — deleting them mid-run would leave
        the imminent commit pointing at missing files. The age threshold
        (Iceberg remove_orphan_files' 3-day default) makes concurrent
        vacuum safe: anything a live pipeline staged is recent. Pass
        ``older_than_s=0`` ONLY when no writer is running.

        Run after :meth:`expire_snapshots`, as scheduled maintenance —
        the Iceberg remove_orphan_files analogue."""
        import time as _time

        self._require_main("vacuum")
        meta = os.path.join(self.root, "_meta")
        # live BRANCH snapshots pin files too: a branch's staged-but-not-
        # published commits reference data files no main snapshot knows
        scan_dirs = [meta]
        bdir = self._branches_dir()
        if os.path.isdir(bdir):
            scan_dirs += [os.path.join(bdir, b) for b in os.listdir(bdir)
                          if os.path.isdir(os.path.join(bdir, b))]
        referenced: set[str] = set()
        for d in scan_dirs:
            for fn in os.listdir(d):
                if fn.startswith("v") and fn.endswith(".json"):
                    with open(os.path.join(d, fn)) as f:
                        snap = json.load(f)
                    referenced.update(fi["path"] for fi in snap["files"])
        # Commit dirs with at least one live file keep their job sidecars
        # (_SUCCESS markers, Hadoop LocalFileSystem .crc companions) — a
        # .crc left behind for a live parquet would otherwise be swept,
        # and LocalFileSystem verifies a checksum file when present.
        referenced_dirs = {p.split("/", 2)[1] for p in referenced if "/" in p}
        cutoff = _time.time() - max(older_than_s, 0)
        data_root = os.path.join(self.root, "data")
        removed = 0
        for dirpath, _dirs, files in os.walk(data_root, topdown=False):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                live = rel in referenced
                if not live and fn.startswith(".") and fn.endswith(".crc"):
                    companion = os.path.join(dirpath, fn[1:-4])
                    live = os.path.relpath(companion, self.root) in referenced
                if not live and fn in ("_SUCCESS", "._SUCCESS.crc"):
                    commit_dir = os.path.relpath(dirpath, data_root).split(os.sep)[0]
                    live = commit_dir in referenced_dirs
                if not live and os.path.getmtime(full) <= cutoff:
                    os.remove(full)
                    removed += 1
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
        return removed

    def rebucket(self, new_num_buckets: int, files_per_bucket: int = 1,
                 keep_tombstones: bool | None = None) -> int:
        """Bucket-count evolution — the Iceberg partition-evolution
        analogue the round-2 review called out: a table created with N
        buckets would otherwise carry ~table_bytes/N per bucket forever
        (6 TB buckets at 100x data, no remedy short of a manual rewrite).
        Rewrites the LWW-resolved current state under the new bucket
        function as fresh base files and swaps the snapshot atomically in
        ONE metadata commit; every subsequent merge/compaction/read uses
        the new layout (``num_buckets`` lives in the snapshot, and
        :meth:`bucket_expr` derives from it), while older snapshots keep
        reading their own files untouched (time travel intact). A crash
        mid-rewrite leaves only unreachable files, like any writer.

        Returns the new bucket count. Cost: one full-table rewrite — run
        it as scheduled maintenance exactly like compaction, sized so a
        bucket stays a task-friendly ~0.5-2 GB.

        ``keep_tombstones``: the rewrite persists the LWW-RESOLVED state,
        which folds winning DELETEs away — the same gtid-interleave
        resurrection hazard :meth:`compact` closes. Default ``None``
        auto-enables when the snapshot already carries tombstone-flagged
        files (the table has evidently declared interleaved ingest);
        streaming-fed tables that have never compacted should pass
        ``True`` explicitly."""
        snap = self.snapshot
        if new_num_buckets == snap.num_buckets:
            return snap.num_buckets
        if new_num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_num_buckets}")
        # LWW-resolved state with lineage meta; tombstones and truncated
        # rows are already gone, so the rewrite also acts as a compaction
        new_bucket = self._bucket_expr_of(snap.key_names, new_num_buckets)
        df = self.read(include_meta=True).withColumn(BUCKET_COL, new_bucket)
        # same zero-sampling deterministic exchange as a merge, sized for
        # the NEW bucket count
        files, _ = self._write_files(
            self._write_exchange(df, files_per_bucket, num_buckets=new_num_buckets),
            self._commit_dir("r"), "base", with_op=False)
        trunc = self.truncate_gtid
        live = [fi for fi in snap.files if not self._gtid_dead(fi, trunc)]
        if keep_tombstones is None:
            keep_tombstones = any(fi.get("tombstones") for fi in snap.files)
        if keep_tombstones:
            # winning DELETEs, re-bucketed under the NEW function
            deltas = self._read_mapped(
                snap, [fi for fi in live if fi.get("kind") == "delta"], with_op=True)
            if deltas is not None:
                files += self._write_tombstones(
                    deltas.withColumn(BUCKET_COL, new_bucket), "rt")
        self._write_snapshot(snap.successor(
            num_buckets=new_num_buckets,
            files=self._stamp_envelope(files, live, trunc)))
        return new_num_buckets

    def _commit_rewrite(self, snap: Snapshot, consumed: set[str],
                        new_files: list[dict], max_retries: int = 5) -> None:
        """Commit a compaction rewrite with REBASE-on-conflict: at 100 TB
        a compaction runs for a long time beside live ingest, and losing
        the HEAD CAS to a merge must not throw the folded output away (a
        full re-read of the inputs). The fold consumed ``consumed`` and
        produced ``new_files``; both stay valid against any head that
        merely APPENDED delta files since, so on
        :class:`ConcurrentCommitError` the commit reloads the head and —
        when the splice gate passes — swaps ``consumed`` for
        ``new_files`` on the CURRENT file list (the interleaved-gtid
        hazard this could re-open is exactly what ``keep_tombstones``
        closes, and without it the caller already asserted monotonic
        ingest by compacting beside a writer). Gate, every clause
        load-bearing:

        - same ``num_buckets`` (a rebucket remaps every bucket id);
        - same ``truncate_gtid`` (a new marker may have killed rows the
          fold retained — replan prunes them instead);
        - every based-on file still present (another rewrite — CoW merge,
          concurrent compaction — may have removed an input);
        - every file added since is ``kind='delta'`` (pure appends).

        Gate failure re-raises ``ConcurrentCommitError`` — the caller
        re-runs ``compact()`` against the new head (full replan); the
        written files become orphans that ``vacuum()`` sweeps."""
        head = snap
        based = {fi["path"] for fi in snap.files}
        for attempt in range(max_retries + 1):
            try:
                self._write_snapshot(head.successor(
                    files=[fi for fi in head.files
                           if fi["path"] not in consumed] + new_files))
                return
            except ConcurrentCommitError:
                if attempt >= max_retries:
                    raise
                head = LakeTable.load(self.spark, self.root,
                                      branch=self.branch).snapshot
                added = [fi for fi in head.files if fi["path"] not in based]
                if not (
                    head.num_buckets == snap.num_buckets
                    and head.properties.get("truncate_gtid", "-1")
                    == snap.properties.get("truncate_gtid", "-1")
                    and based <= {fi["path"] for fi in head.files}
                    and all(fi.get("kind") == "delta" for fi in added)
                ):
                    raise ConcurrentCommitError(
                        "compaction lost the commit race and the rewrite "
                        "cannot be spliced onto the new head (concurrent "
                        "rewrite / rebucket / TRUNCATE in the window) — "
                        "re-run compact() against the current snapshot"
                    )

    def compact(self, target_buckets: list[int] | None = None,
                files_per_bucket: int = 1,
                sort_by: list[str] | None = None,
                keep_tombstones: bool = False) -> int:
        """Fold deltas into base and coalesce fragmented buckets: rewrite
        every bucket that has delta files, or base files from more than
        one commit, into fresh single-commit base files (idempotent — a
        bucket written by one prior compact is a fixed point). The 100 TB
        analogue of Iceberg's rewrite_data_files / Hudi compaction;
        bounded to the dirty buckets.

        Plan shape: ONE range exchange on (bucket, salt) — a key maps to
        exactly one (bucket, salt) cell, so the LWW window runs *within*
        the write partitioning (Catalyst elides the second exchange) and
        the winners stream straight into the per-bucket parquet write.

        Partition-count policy (round-3, measured): the exchange targets
        ~4 waves per core — ``min(cells, max(4 * defaultParallelism,
        input_files / 8))`` — instead of one partition per (bucket, salt)
        cell. Hundreds of cell-sized tasks paid pure scheduler/setup
        serial time (256 tasks at 12M rows: 22.0s at 8 cores, 75.0s at 2;
        the 4-waves cap: 18.4s and 63.5s — faster at BOTH levels, scaling
        0.86). A range partition holding several cells still keeps every
        cell intact (the window needs only co-location), the file-count
        floor bounds any task's external sort to a few input files'
        bytes, and when few buckets are dirty the salt cardinality is
        RAISED (``fpb_eff``) so parallelism never caps at the dirty-bucket
        count.

        ``sort_by`` (or the durable ``compact_sort_by`` table property,
        comma-separated) re-clusters each written file by the given
        columns — the Iceberg sort-order analogue for NON-key predicates:
        a read filtered on a clustered column skips whole parquet row
        groups by min/max stats. One extra in-partition sort, NO extra
        exchange (asserted by test). Trade disclosed: the default
        (no sort_by) leaves files key-sorted, which is what gives
        ``lookup()`` its row-group pruning — cluster by what the
        workload filters on.

        ``keep_tombstones``: the default fold drops a key entirely when
        its LWW winner is DELETE — sound ONLY when every future merge
        carries gtids above the fold (ReplayRunner's contract). Under
        gtid-INTERLEAVED ingest (file-paced streaming epochs, the same
        shape that gates ``changes()``), a later epoch can deliver an
        OLDER insert for that key and, with the tombstone folded away,
        read-time LWW would resurrect it. ``keep_tombstones=True``
        re-emits each such winning DELETE as a tiny per-bucket delta
        file (manifest-flagged ``tombstones``) so the dead key keeps
        outranking late older writes; the flag keeps those files from
        re-marking the bucket dirty (compaction stays a fixed point).
        The streaming shells enable this automatically
        (``ApplyConfig.compact_keep_tombstones`` resolution)."""
        snap = self.snapshot
        known = {c.name for c in snap.columns}
        if sort_by is None:
            # Property-sourced (durable policy): normalize whitespace and
            # SKIP unknown columns instead of raising — this path runs
            # inside merge()'s auto-compaction, where a stale property
            # (e.g. naming a later-dropped column) must not brick every
            # subsequent batch far from the set_properties that caused it.
            sort_by = [c.strip() for c in
                       snap.properties.get("compact_sort_by", "").split(",")
                       if c.strip()]
            sort_by = [c for c in sort_by if c in known]
        elif sort_by:
            bad = [c for c in sort_by if c not in known]
            if bad:
                raise ValueError(f"sort_by columns not in table: {bad}")

        # A bucket needs work when it holds deltas, or base files from MORE
        # THAN ONE commit (several CoW merges / an interrupted history).
        # Base files written together by one commit — however many, the
        # salt fan-out decides that — are a fixed point: calling compact()
        # twice must not rewrite the table again (idempotence).
        # tombstone-flagged deltas don't re-mark a bucket dirty on their
        # own (they are compaction's OWN output — a fixed point), but they
        # DO fold as inputs whenever the bucket compacts for other reasons
        dirty = {fi["bucket"] for fi in snap.files
                 if fi.get("kind") == "delta" and not fi.get("tombstones")}
        base_dirs: dict[int, set] = {}
        for fi in snap.files:
            if fi.get("kind", "base") == "base":
                base_dirs.setdefault(fi["bucket"], set()).add(
                    os.path.dirname(fi["path"]))
        todo = {b for b, dirs in base_dirs.items() if len(dirs) > 1} | dirty
        if target_buckets is not None:
            todo &= set(target_buckets)
        if not todo:
            return 0
        src = [fi for fi in snap.files if fi["bucket"] in todo]
        keys = snap.key_names
        trunc = self.truncate_gtid

        # files whose whole gtid range died under the TRUNCATE marker are
        # planned out (their rows would all be row-filtered anyway)
        live_src = [fi for fi in src if not self._gtid_dead(fi, trunc)]
        base = self._read_mapped(snap, [fi for fi in live_src if fi.get("kind", "base") == "base"],
                                 with_op=False)
        delta = self._read_mapped(snap, [fi for fi in live_src if fi.get("kind") == "delta"],
                                  with_op=True)
        if base is None and delta is None:
            # every src file was dead: the rewrite is a pure drop
            self._commit_rewrite(snap, {fi["path"] for fi in src}, [])
            return len(todo)
        if base is not None:
            base = base.withColumn(OP_COL, F.lit(_KEEP))
        df = base.unionByName(delta) if base is not None and delta is not None else (base or delta)
        if trunc >= 0:
            df = df.filter(F.col(GTID_COL) > trunc)

        par = self.spark.sparkContext.defaultParallelism
        fpb = max(files_per_bucket, 1)
        if len(todo) * fpb < 4 * par:
            # Few dirty buckets: raise salt cardinality so the rewrite
            # still spreads across the cluster (cells >= 4 * parallelism),
            # CAPPED at 64 files per bucket: a single-commit bucket is a
            # compaction fixed point by design (idempotence — see the
            # dirty-bucket rule above), so an uncapped escalation would
            # leave a once-dirty bucket holding up to 4x-parallelism files
            # that only rebucket() could ever shrink (round-3 advice). 64
            # bounds read amplification (a task-friendly 0.5-2 GB bucket ->
            # 8-32 MB files) while keeping a 1-dirty-bucket rewrite
            # parallel enough on any realistic executor count.
            fpb = max(fpb, min(-(-4 * par // max(len(todo), 1)), 64))
        n_cells = len(todo) * fpb
        n_parts = min(n_cells, max(4 * par, -(-len(src) // 8)))
        # Deterministic even placement of the dense (dirty-bucket, salt)
        # cell id — same zero-sampling exchange as _write_exchange. The
        # mapped column LEADS the window's partitionBy so Catalyst proves
        # the clustering and elides the second exchange (it is a pure
        # function of (bucket, salt), so the window's groups are
        # unchanged); hash-partitioning on an expression absent from the
        # window keys would otherwise reintroduce a full key shuffle.
        df = df.withColumn("_salt", self._salt_of(keys, fpb))
        if n_parts <= EXACT_REPARTITION_MAX:
            dense_idx = {b: i for i, b in enumerate(sorted(todo))}
            bucket_rank = F.element_at(
                F.create_map(*[F.lit(v) for bi in dense_idx.items() for v in bi]),
                F.col(BUCKET_COL),
            )
            cell = bucket_rank * fpb + F.col("_salt")
            cellpart = exact_partition_rep(
                F.floor(cell * n_parts / F.lit(n_cells)), n_parts)
            out = df.withColumn("_cellpart", cellpart).repartition(
                n_parts, F.col("_cellpart"))
        else:  # beyond the codegen-friendly mapping size: sampling fallback
            out = df.withColumn("_cellpart", F.col(BUCKET_COL)).repartitionByRange(
                n_parts, F.col(BUCKET_COL), F.col("_salt"))
        winners = (
            out.withColumn("_rn", _lww_rank("_cellpart", BUCKET_COL, "_salt", *keys))
            .filter((F.col("_rn") == 1) & (F.col(OP_COL) != "DELETE"))
        )
        if sort_by:
            # In-partition sort, no new shuffle — and it must LEAD with
            # the bucket column: the partitioned write requires ordering
            # by its partition column and would otherwise insert its own
            # (non-stable) sort on _bucket_p alone, destroying the
            # clustering; with the bucket as prefix (alias-aware ordering
            # survives the projection) the writer reuses this sort.
            winners = winners.sortWithinPartitions(BUCKET_COL, *sort_by)
        out_files, _ = self._write_files(winners, self._commit_dir("k"), "base",
                                         with_op=False)
        if keep_tombstones and delta is not None:
            # Winning DELETEs, computed over the DELTA inputs alone: a
            # base KEEP can never be a DELETE, so any key whose GLOBAL
            # winner is DELETE has that row among the deltas — and when a
            # base KEEP outranks the delta DELETE the key survived the
            # fold anyway, so the (rare) extra tombstone loses read-time
            # LWW and is harmless. Small by the MOR premise: one row per
            # currently-deleted key of the dirty buckets.
            out_files += self._write_tombstones(delta, "t")
        self._commit_rewrite(snap, {fi["path"] for fi in src},
                             self._stamp_envelope(out_files, live_src, trunc))
        return len(todo)

    def _write_tombstones(self, deltas: DataFrame, prefix: str) -> list[dict]:
        """THE tombstone retention pass of :meth:`compact` and
        :meth:`rebucket` (``keep_tombstones``): per (``_bucket``, key), the
        LWW winner among the DELETE rows of ``deltas`` above the TRUNCATE
        marker, written as small per-bucket delta files flagged
        ``tombstones``. The op predicate sits below the window, so it
        reaches the delta parquet scans and only tombstone candidates
        shuffle. The winner among DELETEs can exceed the winner-is-DELETE
        set (a key whose global winner is a later INSERT still emits its
        latest DELETE) — harmless: that tombstone loses read-time LWW."""
        keys = self.snapshot.key_names
        trunc = self.truncate_gtid
        dd = deltas.filter(F.col(OP_COL) == "DELETE")
        if trunc >= 0:
            dd = dd.filter(F.col(GTID_COL) > trunc)
        tombs = (dd.withColumn("_rn", _lww_rank(BUCKET_COL, *keys))
                 .filter(F.col("_rn") == 1))
        files, _ = self._write_files(tombs.repartition(F.col(BUCKET_COL)),
                                     self._commit_dir(prefix), "delta", with_op=True)
        for fi in files:
            fi["tombstones"] = True
        return files

    @classmethod
    def _stamp_envelope(cls, files: list[dict], inputs: list[dict],
                        trunc: int) -> list[dict]:
        """Stamp a rewrite's output ``files`` with the conservative gtid
        envelope of its LIVE ``inputs``: lowest ``gtid_lo`` raised past the
        TRUNCATE marker the rewrite filtered out, highest ``gtid_hi``.
        Inputs without stats leave the outputs unstamped."""
        los = [fi.get("gtid_lo") for fi in inputs]
        his = [fi.get("gtid_hi") for fi in inputs]
        if los and all(v is not None for v in los + his):
            cls._stamp_gtid_bounds(
                files, max(min(los), trunc + 1) if trunc >= 0 else min(los), max(his))
        return files
