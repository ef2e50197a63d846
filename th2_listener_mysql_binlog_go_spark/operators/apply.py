"""Batch apply: change events -> lake table state (the engine core).

Completes the reference listener's downstream contract (SURVEY.md §2
table "needed by our engine"): per micro-batch —

1. **table filter** (S3, listener.go:236-240): drop DML for unobserved
   (schema, table) pairs — a Catalyst ``isin`` filter, pushed to the scan.
2. **flatten** row events into per-key changes: INSERT→after,
   DELETE→before, UPDATE→after; an UPDATE whose *key* changed explodes
   into DELETE(before-key) + INSERT(after-key) at the same GTID (binlog
   PK-update semantics the reference forwards verbatim).
3. **DDL interception** (S6 + north rule): schema-changing ALTER events
   split the batch at their GTID boundaries (SURVEY.md §7 hard part (c));
   each DML segment merges under the schema in force at its position,
   then the DDL applies as a metadata commit before the next segment.
   TRUNCATE is a GTID marker committed atomically with the batch's final
   segment commit. The DDL scan (:func:`scan_ddl`, the one every apply
   path uses) also observes a batch's count and gtid range of observed
   DML; with the segment bounds, :func:`segment_empty` tells which
   segments are provably empty.
4. **commit** per segment, under its own sub-id: a segment holding DML
   merges via :meth:`LakeTable.merge` — merge-on-read delta append by
   default (O(batch)), copy-on-write optional; idempotent (see
   plans/lake.py). An empty segment commits metadata only
   (:meth:`LakeTable.commit_staged` of an empty write, no Spark job); its
   commit still advances ``last_batch_id``, which is what makes a
   crash-replay skip the DDLs before it.

DDL rows are collected to the driver: they are O(1) per batch by
construction (~1% of events, and segments exist only where they occur) —
never the DML path.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.ddl import classify_ddl, ddl_matches_any, parse_alter, parse_create
from ..plans.lake import GTID_COL, OP_COL, SEQ_COL, LakeTable, altered_columns

DML_OPS = ("INSERT", "UPDATE", "DELETE")
DDL_OPS = ("TRUNCATE", "CREATE_TABLE", "DROP_TABLE", "ALTER_TABLE")
# table property: the highest gtid of a schema DDL this table committed
SCHEMA_DDL_GTID = "schema_ddl_gtid"


def _schema_ddl_gtid(table: LakeTable | None) -> int:
    if table is None:
        return -1
    return int(table.snapshot.properties.get(SCHEMA_DDL_GTID, "-1"))


def ddl_candidates_cond():
    """Rows worth collecting as DDL: pre-classified ops, or raw QUERY
    events whose statement matches a known family (JVM-side regex — the
    ~1% non-matching SET/BEGIN noise never reaches the driver)."""
    return F.col("op").isin(*DDL_OPS) | (
        (F.col("op") == "QUERY") & ddl_matches_any(F.coalesce(F.col("ddl"), F.lit("")))
    )


def observed_dml_cond(pairs: list[tuple[str, str]]):
    """The rows :meth:`BatchApplier.flatten_dml` keeps: DML of one of the
    observed (schema, table) ``pairs``. Also the predicate of the DDL
    scan's DML observation, so the empty-segment test and the merge input
    cannot drift."""
    pair_col = F.struct(F.col("schema_name"), F.col("table_name"))
    observed = F.array(
        *[
            F.struct(F.lit(s).alias("schema_name"), F.lit(t).alias("table_name"))
            for s, t in pairs
        ]
    )
    return F.col("op").isin(*DML_OPS) & F.array_contains(observed, pair_col)


def ddl_scan_exprs(pairs: list[tuple[str, str]] | None) -> tuple:
    """The DDL scan's filter and its observed-DML aggregates over ``pairs``
    (None: no aggregates, the scan observes nothing and its stats are
    None). Build once per applier: each PySpark Column call is a JVM round
    trip, a fixed cost every batch would otherwise pay."""
    if pairs is None:
        return ddl_candidates_cond(), []
    dml = observed_dml_cond(pairs)
    return ddl_candidates_cond(), [
        F.count(F.when(dml, 1)).alias("n"),
        F.min(F.when(dml, F.col("gtid"))).alias("lo"),
        F.max(F.when(dml, F.col("gtid"))).alias("hi"),
    ]


@dataclass(frozen=True)
class DmlStats:
    """Count and gtid range of observed DML rows, observed by the DDL scan
    job (no job of its own)."""

    count: int
    min_gtid: int | None
    max_gtid: int | None

    def empty_between(self, low: int | None, hi: int | None) -> bool:
        """True iff no observed DML row has ``low < gtid < hi`` (None =
        unbounded): none at all, or none above ``low`` or below ``hi``.
        Rows with a NULL gtid fail any bound, as they fail the segment
        filters."""
        if self.count == 0:
            return True
        if low is not None and (self.max_gtid is None or self.max_gtid <= low):
            return True
        return hi is not None and (self.min_gtid is None or self.min_gtid >= hi)


def segment_empty(low: int | None, hi: int | None, stats: DmlStats | None) -> bool:
    """True iff the segment ``low < gtid < hi`` provably holds no observed
    DML: no integer gtid fits between its bounds (back-to-back DDLs, or a
    segment wholly at or below a TRUNCATE floor), which needs no stats, or
    ``stats`` prove it."""
    if low is not None and hi is not None and hi <= low + 1:
        return True
    return stats is not None and stats.empty_between(low, hi)


@dataclass(frozen=True)
class DdlScan:
    """What an apply needs to know before it segments a batch: the DDL
    candidate rows in gtid order (unclassified, or already classified for
    this pair), and the observed-DML stats. ``stats`` may cover a superset
    of the rows the segments filter (a whole catalog batch) — a segment
    they prove empty is then empty all the more — but never less. None
    means unknown (a runner window, which observes nothing): only the
    segments :func:`segment_empty` proves without stats skip their merge."""

    rows: list
    stats: DmlStats | None


def scan_ddl(df: DataFrame, exprs: tuple) -> DdlScan:
    """The one DDL scan of every apply path: one collect of ``df``'s DDL
    candidate rows (tiny by construction), whose job also observes the
    count and gtid range of its observed DML — same scan, no extra job or
    stage. ``exprs`` comes from :func:`ddl_scan_exprs`; the Observation
    sits above the filter, so it sees every row of ``df``. Without
    aggregates it observes nothing and the stats are None."""
    ddl_cond, stat_exprs = exprs
    obs = Observation(f"ddl-scan-{uuid.uuid4().hex[:8]}") if stat_exprs else None
    if obs is not None:
        df = df.observe(obs, *stat_exprs)
    rows = (
        df.filter(ddl_cond)
        .select("gtid", "op", "ddl", "schema_name", "table_name")
        .collect()
    )
    m = LakeTable._obs_get_safe(obs) if obs is not None else {}
    stats = (DmlStats(int(m["n"]), m["lo"], m["hi"])
             if m.get("n") is not None else None)
    return DdlScan(sorted(rows, key=lambda r: r["gtid"]), stats)


@dataclass
class ApplyConfig:
    """Which (schema, table) pairs we observe — the reference's
    ``Schemas`` config (component/configuration/configuration.go:26-32)."""

    observed: dict[str, list[str]] = field(
        default_factory=lambda: {"repos": ["files"]}
    )
    session_schema: str = "repos"
    # Which schema attributes a DDL statement to a (schema, table) pair:
    # - 'statement' (default): the schema *qualified in the statement* wins;
    #   the event's session schema (schema_name column, else
    #   ``session_schema``) is only the fallback for unqualified statements.
    #   This matches MySQL name resolution ("db.tbl" binds to db regardless
    #   of the session default) and is a DELIBERATE divergence from the
    #   reference — documented like the Delete.Split bug we don't replicate.
    # - 'session': reference parity (listener.go:253-259) — the binlog
    #   event's session schema wins and the statement-extracted schema is
    #   only the fallback when the event carries none.
    schema_precedence: str = "statement"
    files_per_bucket: int = 1
    # bucket count for tables the applier CREATEs mid-stream (catalog mode)
    num_buckets: int = 16
    # multi-table mode: how many pairs' delta-write jobs may run
    # concurrently within one batch (their tables are disjoint; only the
    # per-table snapshot commits serialize). 1 = fully sequential.
    table_parallelism: int = 4
    # 'mor' appends per-bucket delta files (O(batch) per merge, the scale
    # path); 'cow' rewrites affected buckets (delta-free reads, exact
    # insert/update lineage split). See plans/lake.py.
    merge_mode: str = "mor"
    # in mor mode, fold deltas into base once this many delta files exist.
    # Default 'auto': self-maintaining — compact when deltas exceed
    # ~8 batches' worth (8 * num_buckets * files_per_bucket), so an untuned
    # long-running stream never degrades reads or snapshot size (Hudi's
    # inline-compaction-every-N-commits analogue). None disables (schedule
    # LakeTable.compact as maintenance); an int is an explicit threshold.
    auto_compact_deltas: int | str | None = "auto"
    # auto-compaction tombstone retention (see LakeTable.compact): None =
    # resolved by the runner — the streaming shells set True (file-paced
    # epochs may interleave gtids, so folding a winning DELETE away lets a
    # late older insert resurrect the key), batch replay leaves False
    # (ReplayRunner applies gtid-contiguously; nothing older ever arrives)
    compact_keep_tombstones: bool | None = None

    def observed_pairs(self) -> list[tuple[str, str]]:
        return [(s, t) for s, ts in self.observed.items() for t in ts]


class BatchApplier:
    """Applies one observed (schema, table) pair's changes to its LakeTable.

    With ``catalog`` + ``pair`` set (multi-table mode, see
    :class:`.multi.MultiTableApplier`), CREATE/DROP TABLE are *executed*
    against the catalog — ``table`` may then be None (pair not created
    yet, or dropped mid-stream), in which case DML has no target and is
    skipped, exactly as a binlog could never carry row events for a
    nonexistent table."""

    def __init__(self, table: LakeTable | None, config: ApplyConfig | None = None,
                 catalog=None, pair: tuple[str, str] | None = None):
        self.table = table
        self.config = config or ApplyConfig()
        self.catalog = catalog
        self.pair = pair
        self._check_seq_encoding(table)

    @staticmethod
    def _check_seq_encoding(table: LakeTable | None) -> None:
        """_seq is a PERSISTED ordering key (flatten_dml packs
        log_pos * 2^21 + sub-order into it; LWW windows compare it across
        rows from different commits), so applying with a different packing
        than the table's files carry would order same-gtid changes wrongly.
        Tables stamp ``seq_encoding`` at create; a mismatch fails loudly
        here instead of silently mis-merging (round-3 advice). Tables from
        before the stamp carry no property and pass — they were written by
        this same encoding or its *1024 precursor, whose within-gtid mixing
        is unreachable after any commit (docs/PLANS.md §seq-encoding)."""
        from ..plans.lake import SEQ_ENCODING

        if table is None:
            return
        stamped = table.snapshot.properties.get("seq_encoding")
        if stamped is not None and stamped != SEQ_ENCODING:
            raise RuntimeError(
                f"table {table.root} was written with seq_encoding="
                f"{stamped!r} but this engine packs {SEQ_ENCODING!r}: "
                "rebuild the table (rebucket() rewrites all files) before "
                "applying with this version"
            )

    @property
    def _last_batch_id(self) -> int:
        return self.table.last_batch_id if self.table is not None else -1

    # ------------------------------------------------------------ projection

    def flatten_dml(self, batch: DataFrame) -> DataFrame:
        """Change events (nested before/after) -> flat keyed change rows.

        One narrow-only pass (filter + array + explode): stays inside
        whole-stage codegen, no shuffle, no Python. Every kept event yields
        at least one change row.
        """
        dml = batch.filter(observed_dml_cond(self.config.observed_pairs()))
        keys = self.table.snapshot.key_names
        key_changed = None
        for k in keys:
            c = F.col(f"before.{k}") != F.col(f"after.{k}")
            key_changed = c if key_changed is None else (key_changed | c)
        mk = lambda row, op: F.struct(row.alias("row"), F.lit(op).alias(OP_COL))  # noqa: E731
        arr = (
            F.when(F.col("op") == "INSERT", F.array(mk(F.col("after"), "INSERT")))
            .when(F.col("op") == "DELETE", F.array(mk(F.col("before"), "DELETE")))
            .when(
                key_changed,
                F.array(mk(F.col("before"), "DELETE"), mk(F.col("after"), "INSERT")),
            )
            .otherwise(F.array(mk(F.col("after"), "UPDATE")))
        )
        # Within-gtid sub-order (the reference's (name, pos, seq) total
        # order, README.md:62-63): several events can share one GTID
        # (transaction), ordered by log_pos; a multi-row event's rows are
        # ordered by row_idx (decode.py); a PK-changing UPDATE's
        # DELETE-then-INSERT pair by explode position. Packed into one
        # bigint so LWW/merge windows get a strict total order per key.
        # Shift budget: log_pos < 2^30 (MySQL caps binlog files at 1 GiB)
        # times 2^21 stays < 2^51; row_idx*2 + c_pos < 2^21 holds for any
        # event under 2^20 rows, and even past that slots stay disjoint
        # because the NEXT event's log_pos advances by at least the event's
        # byte size (>= 1 byte/row >> the 2/2^21 slots a row bleeds).
        log_pos = (
            F.coalesce(F.col("log_pos"), F.lit(0)) if "log_pos" in dml.columns else F.lit(0)
        )
        row_idx = (
            F.coalesce(F.col("row_idx"), F.lit(0)) if "row_idx" in dml.columns else F.lit(0)
        )
        seq = (log_pos.cast("bigint") * F.lit(1 << 21)
               + row_idx.cast("bigint") * 2 + F.col("c_pos"))
        return dml.select(
            F.col("gtid").alias(GTID_COL), log_pos.alias("log_pos"),
            row_idx.alias("row_idx"), F.posexplode(arr).alias("c_pos", "c")
        ).select(
            "c.row.*", F.col(f"c.{OP_COL}").alias(OP_COL), F.col(GTID_COL),
            seq.alias(SEQ_COL),
        )

    # ------------------------------------------------------------ DDL

    @cached_property
    def scan_exprs(self) -> tuple:
        """:func:`ddl_scan_exprs` of this applier's pairs, built once."""
        return ddl_scan_exprs(self.config.observed_pairs())

    def _classify_ddl(self, rows: list) -> list[dict]:
        """Classify DDL candidate rows, keeping this applier's observed pairs.

        Accepts pre-classified ops (TRUNCATE/ALTER_TABLE/...) or raw
        op='QUERY' rows classified here via the pattern.go regex families;
        non-matching statements are dropped (listener.go:254-256). Rows
        keep their (gtid) order; classifying classified rows again is a
        no-op."""
        out = []
        observed = set(self.config.observed_pairs())
        for r in rows:
            op, schema, table = r["op"], r["schema_name"], r["table_name"]
            if op == "QUERY" or r["ddl"]:
                # The event's session schema (binlog QueryEvent.Schema) with
                # the configured default as last resort.
                event_schema = r["schema_name"] or self.config.session_schema
                stmt_schema, table2, op2, ok = classify_ddl(r["ddl"] or "")
                if not ok:
                    if r["op"] == "QUERY":
                        continue  # non-matching statement: dropped
                    op2, stmt_schema, table2 = r["op"], r["schema_name"], r["table_name"]
                if self.config.schema_precedence == "session":
                    # reference parity (listener.go:253-259): session wins
                    schema = event_schema or stmt_schema
                else:
                    # default: statement qualification wins (MySQL name
                    # resolution) — documented divergence from the reference
                    schema = stmt_schema or event_schema
                op, table = op2, table2
            if (schema, table) not in observed:
                continue
            out.append({"gtid": r["gtid"], "op": op, "ddl": r["ddl"],
                        "schema_name": schema, "table_name": table})
        return out

    def _apply_ddl(self, d: dict) -> bool:
        """Execute one schema-evolution DDL event against the lake table.

        Returns True if a metadata commit happened. The reference only
        *forwards* DDL (component/bean/query.go:23-29); we apply it.
        TRUNCATE never reaches here — it is handled as a GTID marker
        inside :meth:`apply` (commit-atomic with the batch merge)."""
        t = self.table
        if d["op"] == "ALTER_TABLE":
            if t is None:
                return False  # table dropped / not created yet
            # the commit records its gtid (monotonic): what a within-batch
            # resume reads to skip the schema DDLs already applied
            props = {SCHEMA_DDL_GTID: str(max(d["gtid"], _schema_ddl_gtid(t)))}
            try:
                t.alter(parse_alter(d["ddl"] or ""), props)
            except ValueError:
                return False  # refused (see altered_columns): skip, don't fail the stream
            return True
        if self.catalog is not None and self.pair is not None:
            schema, table = self.pair
            if d["op"] == "CREATE_TABLE":
                cmd = parse_create(d["ddl"] or "", session_schema=self.config.session_schema)
                if cmd is None:
                    return False
                # idempotent: a crash-replayed CREATE returns the live table
                self.table = self.catalog.create_table(
                    schema, table, cmd.columns, cmd.key_cols,
                    num_buckets=self.config.num_buckets,
                )
                return True
            if d["op"] == "DROP_TABLE":
                dropped = self.catalog.drop_table(schema, table)
                self.table = None
                return dropped
        # CREATE/DROP of the observed table itself: out of scope for a
        # single-target apply (no catalog); recorded as classified-only.
        return False

    # ------------------------------------------------------------ pipelined fast path

    def stage_batch(self, batch: DataFrame) -> dict:
        """The expensive half of a NO-DDL mor batch: flatten + delta-file
        write, no snapshot commit. Safe to run concurrently with other
        batches' stage jobs (distinct commit dirs, table never read) —
        the replay runner pipelines these and serializes only
        :meth:`commit_batch`. Callers must ensure the batch carries no
        DDL for observed tables (the runner's window scan knows)."""
        return self.table.stage_mor_delta(
            self.flatten_dml(batch),
            files_per_bucket=self.config.files_per_bucket,
        )

    def commit_batch(self, staged: dict, batch_id: int,
                     final_extra_props: dict[str, str] | None = None) -> dict:
        """Ordered metadata commit of a staged no-DDL batch (sub-id slot 0
        of the batch's 1024-slot space, same guard as the segment loop)."""
        m = self.table.commit_staged(
            staged, batch_id * 1024,
            extra_properties=final_extra_props,
            auto_compact_deltas=self.config.auto_compact_deltas,
            files_per_bucket=self.config.files_per_bucket,
            compact_keep_tombstones=bool(self.config.compact_keep_tombstones),
        )
        metrics = {
            "batch_id": batch_id, "rows_inserted": 0, "rows_updated": 0,
            "rows_deleted": 0, "ddl_applied": 0, "ddl_dropped": 0,
            "segments": 0, "buckets_touched": 0, "partitions": [],
        }
        if not m.get("skipped"):
            metrics.update(
                rows_inserted=m["rows_inserted"], rows_updated=m["rows_updated"],
                rows_deleted=m["rows_deleted"], segments=1,
                buckets_touched=m["buckets_touched"], partitions=m["partitions"],
            )
        return metrics

    # ------------------------------------------------------------ main

    def apply(self, batch: DataFrame, batch_id: int,
              final_extra_props: dict[str, str] | None = None,
              scan: DdlScan | None = None,
              resume_within_batch: bool = False,
              extra_props: dict[str, str] | None = None) -> dict:
        """Apply one micro-batch. Returns lineage metrics.

        Exactly-once: every merge carries a monotonically increasing
        sub-batch id (batch_id * 1024 + segment); the table's
        ``last_batch_id`` guard makes re-application of any prefix a
        no-op, so a crash anywhere inside the segment loop is safe to
        replay from the top of the batch.

        ``final_extra_props`` land only on the batch's final segment
        commit (batch-complete marker, truncate marker). ``extra_props``
        land on EVERY segment commit: properties that must be durable
        the moment ANY of the batch's data is (e.g. the runner's
        ``replay_batch_span`` guard — a crash between segments of a
        fresh table's first DDL-segmented batch must not leave applied
        sub-batches with no recorded span).

        ``scan``: the batch's :class:`DdlScan` when the caller already ran
        :func:`scan_ddl` over it or over a superset (a catalog batch, a
        runner window); else this runs it, one Spark job.
        """
        if scan is None:
            scan = scan_ddl(batch, self.scan_exprs)
        ddls, dml_stats = self._classify_ddl(scan.rows), scan.stats

        # Within-batch resume (this batch was partially applied before — a
        # crash, or an append-only source that has since grown): everything
        # at or below the watermark is already in; apply only what's above
        # it, and continue the sub-id sequence past the last committed one.
        # Segments apply in gtid order, so watermark cuts are exact.
        pos = 0
        gtid_floor: int | None = None  # DML strictly above this applies
        if resume_within_batch:
            wm = self.table.watermark_gtid if self.table is not None else -1
            if wm >= 0:
                gtid_floor = wm
            # Schema DDLs at or below the watermark were applied before the
            # segment that advanced it; those above it but at or below the
            # last recorded schema-DDL gtid were applied after the batch's
            # last DML (empty segments do not advance the watermark) — both
            # drop. TRUNCATE entries are kept even at/below either: the
            # marker is only committed with the batch's FINAL segment, so a
            # crash after a later segment advanced the watermark past the
            # TRUNCATE gtid must still persist it on resume (the marker
            # merge is monotonic-max, so replaying one is always safe).
            done = max(wm, _schema_ddl_gtid(self.table))
            if done >= 0:
                ddls = [d for d in ddls if d["gtid"] > done or d["op"] == "TRUNCATE"]
            if self._last_batch_id // 1024 == batch_id:
                pos = self._last_batch_id % 1024 + 1

        metrics = {
            "batch_id": batch_id, "rows_inserted": 0, "rows_updated": 0,
            "rows_deleted": 0, "ddl_applied": 0, "ddl_dropped": 0,
            "segments": 0, "buckets_touched": 0, "partitions": [],
        }

        # TRUNCATE is a GTID high-water marker, committed atomically with
        # the batch's final segment commit (O(1), order-safe, replay-monotonic).
        # Dead-row elision: DML at or before the marker never survives a
        # read, so don't even write it.
        trunc_gtids = [d["gtid"] for d in ddls if d["op"] == "TRUNCATE"]
        schema_ddls = [d for d in ddls if d["op"] != "TRUNCATE"]
        seg_props = dict(extra_props or {})
        final_props = dict(seg_props, **(final_extra_props or {}))
        if trunc_gtids:
            trunc_max = max(trunc_gtids)
            gtid_floor = trunc_max if gtid_floor is None else max(gtid_floor, trunc_max)
            final_props["truncate_gtid"] = str(trunc_max)
            metrics["ddl_applied"] += len(trunc_gtids)

        # Segment boundaries at schema-evolution DDL gtids (hard part (c)):
        # events on each side of an ALTER see different table shapes.
        # Segments and DDLs share one monotonic sub-id sequence; the
        # table's last_batch_id guard makes any crash-replay prefix a no-op.
        # Sub-ids live in a 1024-slot space per batch (batch_id * 1024 + pos + slot);
        # overflowing would bleed into batch k+1's range and silently skip its
        # early segments via the exactly-once guard. Fail loudly instead —
        # hitting this means the batch span holds >500 schema DDLs, i.e. the
        # span is misconfigured for the stream's DDL density.
        if pos + 2 * len(schema_ddls) + 1 > 1024:
            raise RuntimeError(
                f"batch {batch_id} needs {pos + 2 * len(schema_ddls) + 1} "
                "sub-batch slots (> 1024): reduce batch_span so fewer schema "
                "DDLs land in one batch"
            )

        # Segment ONLY at schema-CHANGING DDLs: an ALTER that provably
        # leaves the column set untouched (re-ADD of an existing column,
        # same-type MODIFY, rename-to-self, DROP of an absent column —
        # i.e. exactly the statements _apply_ddl skips or commits as a
        # no-column-change version) commutes with every merge, so
        # splitting the batch around it buys nothing and costs a whole
        # merge job per occurrence (round-6: 9 of cdc_replay_with_ddl's
        # 10 ALTERs were no-op re-ADDs — ~0.7s of pure fixed cost each).
        # The DDLs themselves still APPLY in gtid order with their own
        # sub-ids; only the data-segmentation boundaries move.
        #
        # Sub-ids are FIXED slots per DDL index — the segment ending at
        # DDL j takes 2j, DDL j takes 2j+1, the last segment 2n — not a
        # running count: the changing/no-op decision is made against the
        # CURRENT table, so a crash-replay of this batch sees its applied
        # DDLs as no-ops, and a running count would shift every later
        # sub-id under the exactly-once guard and skip DDLs that never
        # applied. A replay also keeps every boundary up to the slots it
        # already committed, so its first live segment starts exactly
        # where the committed ones stopped (no rows written twice).
        changing = self._simulate_schema_changes(schema_ddls)
        done = self._last_batch_id - (batch_id * 1024 + pos)
        # (slot, ddl, lo, hi): a DDL step, or (ddl None) a segment lo < gtid < hi
        plan: list[tuple[int, dict | None, int | None, int | None]] = []
        lo: int | None = None
        for j, (d, ch) in enumerate(zip(schema_ddls, changing)):
            if ch or 2 * j <= done:
                plan.append((2 * j, None, lo, d["gtid"]))
                lo = d["gtid"]
            plan.append((2 * j + 1, d, None, None))
        plan.append((2 * len(schema_ddls), None, lo, None))

        for i, (slot, ddl, lo_g, hi_g) in enumerate(plan):
            sub_id = batch_id * 1024 + pos + slot
            if ddl is not None:
                if sub_id > self._last_batch_id:
                    applied = self._apply_ddl(ddl)
                    metrics["ddl_applied" if applied else "ddl_dropped"] += 1
                continue
            # Flatten under the table in force *at this segment*: a
            # CREATE/DROP boundary can rebind self.table (catalog mode),
            # changing the key set the flatten projects on. A None table
            # means this segment's DML has no target (pair dropped / not
            # yet created) — a real binlog can't carry row events for a
            # nonexistent table, so nothing is lost by skipping.
            if self.table is not None and sub_id > self._last_batch_id:
                # the last segment's commit carries the truncate marker and
                # the batch-complete property (resume skip); every segment
                # carries the crash-durable extra_props
                props = final_props if i == len(plan) - 1 else (seg_props or None)
                low = max((g for g in (lo_g, gtid_floor) if g is not None), default=None)
                if segment_empty(low, hi_g, dml_stats):
                    # Provably no DML in this segment: commit metadata only
                    # (no Spark job). The commit itself must stay — its
                    # last_batch_id is what lets a crash-replay skip the
                    # DDLs before it.
                    m = self._commit_empty_segment(sub_id, props)
                else:
                    seg = self.flatten_dml(batch)
                    if low is not None:
                        seg = seg.filter(F.col(GTID_COL) > low)
                    if hi_g is not None:
                        seg = seg.filter(F.col(GTID_COL) < hi_g)
                    m = self.table.merge(
                        seg, sub_id,
                        mode=self.config.merge_mode,
                        files_per_bucket=self.config.files_per_bucket,
                        auto_compact_deltas=self.config.auto_compact_deltas,
                        compact_keep_tombstones=bool(self.config.compact_keep_tombstones),
                        extra_properties=props,
                    )
                if not m.get("skipped"):
                    metrics["rows_inserted"] += m["rows_inserted"]
                    metrics["rows_updated"] += m["rows_updated"]
                    metrics["rows_deleted"] += m["rows_deleted"]
                    metrics["buckets_touched"] = max(metrics["buckets_touched"], m["buckets_touched"])
                    metrics["partitions"].extend(m.get("partitions", []))
                    metrics["segments"] += 1
        return metrics

    def _commit_empty_segment(self, sub_id: int, props: dict[str, str] | None) -> dict:
        """What :meth:`LakeTable.merge` commits for a segment without rows
        — same sub-id, properties, watermark (unchanged) and, in mor mode,
        auto-compaction check — without its flatten + write job."""
        cfg = self.config
        return self.table.commit_staged(
            self.table.empty_staged(), sub_id, extra_properties=props,
            auto_compact_deltas=(cfg.auto_compact_deltas
                                 if cfg.merge_mode == "mor" else None),
            files_per_bucket=cfg.files_per_bucket,
            compact_keep_tombstones=bool(cfg.compact_keep_tombstones),
        )

    def _simulate_schema_changes(self, schema_ddls: list[dict]) -> list[bool]:
        """Per DDL: would applying it CHANGE the table's (name, type) list?

        Folds :func:`~..plans.lake.altered_columns` — the rule
        :meth:`LakeTable.alter` commits — over a driver-side copy of the
        current columns: a DDL changes iff the rule accepts it and the list
        differs (rename-to-self, same-type MODIFY and every refused DDL do
        not). CREATE/DROP TABLE rebind the table and no table means unknown
        state: that DDL and, conservatively, every later one change."""
        if self.table is None:
            return [True] * len(schema_ddls)
        cols, key_ids = self.table.snapshot.columns, self.table.snapshot.key_ids
        out: list[bool] = []
        for d in schema_ddls:
            if d["op"] != "ALTER_TABLE":
                return out + [True] * (len(schema_ddls) - len(out))
            try:
                new = altered_columns(cols, key_ids, parse_alter(d["ddl"] or ""),
                                      1 + max(c.id for c in cols))
            except ValueError:
                out.append(False)
                continue
            out.append([(c.name, c.type) for c in new] != [(c.name, c.type) for c in cols])
            cols = new
        return out
