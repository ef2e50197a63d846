"""Micro-batch replay runner: checkpointed, exactly-once, resumable.

The Spark analogue of the reference's sync loop + resume logic
(/root/reference/component/listener/listener.go:85-227):

- **Batch planning is deterministic**: batch k covers GTIDs
  [k*span, (k+1)*span). Resume recomputes k0 from the table's persisted
  ``watermark_gtid`` — no external checkpoint store needed; the *table
  itself* is the checkpoint (the (name,pos) token of listener.go:325-332
  become snapshot properties). A partially applied batch is replayed from
  its top; the per-sub-batch id guard in :class:`BatchApplier` makes the
  already-applied prefix a no-op (cf. the reference's weaker resume from
  last *published* message, which can re-emit — we converge exactly).
- **Source-range validation** (the error-1236 recovery analogue,
  listener.go:91-110): a watermark beyond the source's max GTID clamps to
  a no-op; a watermark before the source's min (expired binlog) raises
  unless ``allow_gaps`` — matching the reference's choice to restart from
  the earliest available position.
- At scale the source table is partitioned/sorted by GTID range, so each
  batch's ``gtid`` filter becomes partition pruning + a parquet range
  scan — no full-stream rescans per batch.

One run loop serves both targets: :class:`ReplayRunner` (one LakeTable)
and :class:`CatalogReplayRunner` (a LakeCatalog) share the bounds check,
clamp/gap check, recorded-span guard, ``k0``/``k1`` planning, windowed DDL
scan, sequential and pipelined stage/commit paths, totals and lineage.
The catalog runner overrides only the hooks that really differ: where
progress lives (the table's own commits vs the catalog PROGRESS file),
the watermark, the apply/stage/commit calls, and the resume condition
(the table re-enters batch ``k`` in within-batch mode iff its
``last_batch_id // 1024 == k``; the catalog always resumes at ``k0``).

An event-driven Structured Streaming shell with ``foreachBatch`` is in
:mod:`.structured` — batch planning there comes from the stream engine,
while apply semantics are identical.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.apply import ApplyConfig, BatchApplier, DdlScan, ddl_scan_exprs, scan_ddl
from ..plans.lake import LakeTable
from .lineage import LineageWriter


# Batches per DDL scan of a run: each scan collects one window's DDL rows,
# so driver memory stays O(window), never O(run).
PRESCAN_WINDOW = 256


class ReplayRunner:
    """Gtid-span replay of a change stream into one LakeTable, and the
    run loop :class:`CatalogReplayRunner` shares through its hooks."""

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        batch_span: int = 100_000,
        config: ApplyConfig | None = None,
        lineage_dir: str | None = None,
        pipeline_depth: int = 1,
        partition_col: str | None = None,
        partition_span: int | None = None,
        archive_root: str | None = None,
    ):
        """``pipeline_depth`` > 1 overlaps the delta-WRITE jobs of up to
        that many consecutive no-DDL mor batches (independent Spark jobs,
        distinct commit dirs) while snapshot commits stay strictly batch-
        ordered — the Iceberg-style split of parallel data writes from a
        serial metadata pointer swap. Batches carrying DDL (or a partial
        resume) drain the pipeline and run through the sequential
        segment/DDL path unchanged, so evolution ordering is preserved.
        Exactly-once is untouched: a crash orphans staged (uncommitted,
        unreachable) files — the same story as any crashed writer.

        ``partition_col``/``partition_span``: when the source archive is
        hive-partitioned by GTID range (dirs ``{partition_col}=N`` where
        ``N = gtid // partition_span``, as
        :func:`~..sources.changestream.write_gtid_partitioned` lays out),
        batch k's filter ALSO constrains the partition column, so
        Catalyst's partition pruning drops every other partition's files
        from the scan at PLANNING time — batch cost is O(its span's
        files), not O(archive listing + row-group skips). A range filter
        on ``gtid`` alone cannot prune (no gtid->dir transitivity in the
        optimizer); the explicit predicate restores it. Verified by
        tests/test_partition_pruning.py via scan metrics.

        ``archive_root``: filesystem root of the hive-partitioned archive.
        When set (with partitioning declared), resume's bounds discovery
        reads the candidate extreme partition VALUES from ONE root-level
        directory listing — O(partitions) driver cost, file-count
        independent — instead of enumerating every archive file (round-4
        review: at a 10^6-file archive the full listing was the new serial
        cost the pruned scan had just removed)."""
        self.spark = spark
        self.table = table
        self.batch_span = batch_span
        self.applier = BatchApplier(table, config)
        self.lineage = LineageWriter(lineage_dir) if lineage_dir else None
        self.pipeline_depth = max(1, pipeline_depth)
        self.partition_col = partition_col
        self.partition_span = partition_span
        self.archive_root = archive_root
        # instrumentation: max DDL rows held by any single window's
        # scan (tests assert boundedness)
        self.max_prescan_rows = 0

    def _partition_pred(self, lo_g: int, hi_g: int):
        """Partition-column predicate covering GTIDs [lo_g, hi_g) — TRUE
        when no archive partitioning was declared."""
        if self.partition_col is None or not self.partition_span:
            return F.lit(True)
        ps = self.partition_span
        return F.col(self.partition_col).between(lo_g // ps, (hi_g - 1) // ps)

    def _listed_extreme_partitions(self) -> tuple[int, int] | None:
        """Candidate (min, max) partition values from ONE root-level
        directory listing of ``archive_root`` — O(partitions) driver cost,
        independent of the archive's file count (round-4 review: the old
        ``stream.inputFiles()`` path shipped every file path through the
        driver, the one remaining O(archive) serial cost on resume)."""
        if not self.archive_root:
            return None
        import os

        prefix = f"{self.partition_col}="
        vals = []
        try:
            entries = os.listdir(self.archive_root)
        except OSError:
            return None
        for d in entries:
            if d.startswith(prefix):
                try:
                    vals.append(int(d[len(prefix):]))
                except ValueError:
                    continue
        return (min(vals), max(vals)) if vals else None

    def _extreme_partition_bounds(self, stream: DataFrame, lo_p: int, hi_p: int):
        """Exact (lo, hi) gtid from the two extreme partitions, grouped BY
        partition so an extreme partition emptied by an upstream filter is
        DETECTED (its group is absent) rather than silently replaced by the
        other extreme's values — the wrong-bounds hazard of aggregating the
        two partitions together (round-4 advice #1). Returns None when
        either extreme has no surviving rows."""
        pcol = self.partition_col
        per = {
            r["p"]: r
            for r in stream.filter(F.col(pcol).isin(lo_p, hi_p))
            .groupBy(F.col(pcol).alias("p"))
            .agg(F.min("gtid").alias("lo"), F.max("gtid").alias("hi"))
            .collect()
        }
        if lo_p in per and hi_p in per:
            # every row of a lower partition precedes every row of a higher
            # one, so the extremes' per-partition min/max ARE the global ones
            return {"lo": per[lo_p]["lo"], "hi": per[hi_p]["hi"]}
        return None

    def _bounds(self, stream: DataFrame):
        """(min, max) gtid of the source — correct for ANY input DataFrame,
        including a pre-filtered archive read (round-4 advice #1).

        Un-partitioned: one full-stream agg — fine for a bounded replay,
        but it rescans the WHOLE archive every run. With declared
        partitioning, candidate extreme partitions come from (a) one
        root-level dir listing when ``archive_root`` is set — O(partitions)
        driver cost, zero data read — else (b) a distributed min/max agg
        over the partition COLUMN alone (column-pruned to metadata: the
        scan reads partition values + footer row counts, no data pages, and
        honors any upstream filter). The exact gtid min/max then scans only
        the two extreme partitions, grouped by partition so a
        filter-emptied extreme falls back to (b) instead of returning the
        wrong bounds."""
        pcol = self.partition_col
        if pcol and self.partition_span:
            cand = self._listed_extreme_partitions()
            if cand is not None:
                b = self._extreme_partition_bounds(stream, *cand)
                if b is not None:
                    return b
                # an extreme dir exists but has no surviving rows (upstream
                # filter): discover the FILTERED stream's true extremes
            ext = stream.agg(
                F.min(pcol).alias("plo"), F.max(pcol).alias("phi")
            ).collect()[0]
            if ext["plo"] is None:
                return {"lo": None, "hi": None}
            b = self._extreme_partition_bounds(stream, ext["plo"], ext["phi"])
            if b is not None:
                return b
        row = stream.agg(
            F.min("gtid").alias("lo"), F.max("gtid").alias("hi")
        ).collect()[0]
        return {"lo": row["lo"], "hi": row["hi"]}

    def _slice(self, stream: DataFrame, lo_g: int, hi_g: int) -> DataFrame:
        """GTIDs [lo_g, hi_g) of ``stream``: the range filter plus (when
        declared) the partition predicate that lets the scan prune."""
        return stream.filter((F.col("gtid") >= lo_g) & (F.col("gtid") < hi_g)
                             & self._partition_pred(lo_g, hi_g))

    def batch_df(self, stream: DataFrame, k: int) -> DataFrame:
        """Batch k's slice of ``stream``."""
        return self._slice(stream, k * self.batch_span, (k + 1) * self.batch_span)

    def _ddl_scans(self, stream: DataFrame, ks: list[int]):
        """Yield ``(window_ks, {k: DdlScan})``: one :func:`scan_ddl` per
        ``PRESCAN_WINDOW`` batches, over the window's slice, each batch
        getting its own DDL rows. It observes no DML: stats of a whole
        window almost never prove a batch's segment empty, so only the
        segments :func:`~..operators.apply.segment_empty` proves without
        stats skip their merge. DDL is ~1e-4 of a change stream, so each
        collect is tiny, and windowing bounds driver memory at O(window)
        for unbounded runs (round-2 review item #4)."""
        span, exprs = self.batch_span, ddl_scan_exprs(None)
        for i in range(0, len(ks), PRESCAN_WINDOW):
            wks = ks[i:i + PRESCAN_WINDOW]
            scan = scan_ddl(self._slice(stream, wks[0] * span, (wks[-1] + 1) * span),
                            exprs)
            self.max_prescan_rows = max(self.max_prescan_rows, len(scan.rows))
            yield wks, {
                k: DdlScan([r for r in scan.rows if k * span <= r["gtid"] < (k + 1) * span],
                           None)
                for k in wks
            }

    def run(
        self,
        stream: DataFrame,
        max_batches: int | None = None,
        allow_gaps: bool = False,
        bounds: tuple[int, int] | None = None,
    ) -> dict:
        """Replay ``stream`` (change events, CHANGE_SCHEMA-shaped) into the
        target from the current watermark. Returns summary metrics.

        ``bounds``: the stream's exact ``(min_gtid, max_gtid)`` when the
        caller already computed it — skips the discovery aggregation job
        (one full-stream scan for an unpartitioned source). Bounds that
        are not the stream's true extremes silently mis-plan batches
        (stale hi skips the tail; stale lo over-spans), so only pass
        values measured from THIS stream."""
        if bounds is None:
            b = self._bounds(stream)
            bounds = (b["lo"], b["hi"])
        lo, hi = bounds
        if lo is None:
            return {"batches": 0, "events": 0}
        wm = self.watermark_gtid
        if wm >= hi:
            return {"batches": 0, "events": 0, "clamped": True}
        if wm >= 0 and wm < lo - 1 and not allow_gaps:
            # Expired-source analogue of MySQL error 1236
            # (listener.go:48-51,91-110): data between wm and lo is gone.
            raise RuntimeError(
                f"source no longer covers watermark {wm} (min gtid {lo}); "
                "pass allow_gaps=True to restart from earliest available"
            )

        span = self.batch_span
        # Refuse a resume whose batch_span disagrees with the replay
        # history. Sub-batch ids are k*1024+segment with k = gtid//span; a
        # changed span is silently wrong in both directions: a larger span
        # regresses k, every merge falls below the exactly-once guard, and
        # the whole run no-ops while unapplied events sit past the
        # watermark (found by a randomized-interleaving test); a smaller
        # span re-enters applied gtids without the within-batch filter and
        # re-appends the overlap (audit/changelog pollution). The span is
        # RECORDED — never inferred: no arithmetic identity over
        # (watermark, last_batch_id) survives legitimate histories, because
        # an empty batch advances last_batch_id without the watermark
        # (review repro). History from before the guard passes and gets
        # the span recorded on first use — pass the original one there.
        progress = self._progress()
        recorded = progress.get("replay_batch_span")
        if recorded is not None and int(recorded) != span:
            raise ValueError(
                f"batch_span={span} does not match this {self._kind}'s "
                f"recorded replay_batch_span={recorded}; resume with the "
                "original span (a changed span silently no-ops or "
                "re-appends batches)")
        # A batch whose final segment committed recorded itself complete;
        # resume restarts at the *next* batch, else from the watermark's
        # batch (whose applied prefix replays as guarded no-ops).
        done = int(progress.get("last_complete_batch", "-1"))
        if recorded is None:
            self._adopt_span(wm, done)
        k0 = max(lo // span, (wm // span) if wm >= 0 else 0, done + 1)
        k1 = hi // span
        ks = list(range(k0, k1 + 1))[:max_batches]
        total = {"batches": 0, "events": 0, "rows_inserted": 0, "rows_updated": 0,
                 "rows_deleted": 0, "ddl_applied": 0}

        def complete(k: int) -> dict[str, str]:
            # Only a batch the source provably extends past may be marked
            # complete; the tail batch of an append-only source can still
            # grow, and resume must re-enter it (within-batch mode) rather
            # than skip it.
            return {} if k == k1 else {"last_complete_batch": str(k)}

        def record(k: int, m: dict, t0: float) -> None:
            gtid_max = min((k + 1) * span - 1, hi)
            self._batch_done(gtid_max, complete(k))
            total["batches"] += 1
            for key in ("rows_inserted", "rows_updated", "rows_deleted", "ddl_applied"):
                total[key] += m[key]
            total["events"] += m["rows_inserted"] + m["rows_updated"] + m["rows_deleted"]
            if self.lineage:
                self.lineage.write_batch(k, m, int((time.monotonic() - t0) * 1000),
                                         k * span, gtid_max)

        def sequential(k: int, scan: DdlScan) -> None:
            t0 = time.monotonic()
            m = self._apply(self.batch_df(stream, k), k, scan,
                            self._resumes(k, k0), complete(k))
            record(k, m, t0)

        windows = self._ddl_scans(stream, ks)

        depth = self.pipeline_depth
        if depth == 1 or self.applier.config.merge_mode != "mor":
            for wks, scan_by_k in windows:
                for k in wks:
                    sequential(k, scan_by_k[k])
            total["watermark_gtid"] = self.watermark_gtid
            return total

        # Pipelined mode: stage (write) up to ``depth`` no-DDL batches
        # concurrently; commit strictly in batch order on this thread. A
        # DDL-bearing batch — or one needing within-batch resume — drains
        # the pipeline first and runs through the sequential path, so
        # schema evolution still segments exactly where it must. The
        # pipeline rides across window boundaries (the next window's
        # DDL scan runs on this thread while staged jobs proceed).
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        inflight: deque = deque()  # (k, t_submit, future)

        def commit_oldest() -> None:
            k, t0, fut = inflight.popleft()
            record(k, self._commit(fut.result(), k, complete(k)), t0)

        with ThreadPoolExecutor(max_workers=depth, thread_name_prefix="cdc-stage") as ex:
            for wks, scan_by_k in windows:
                for k in wks:
                    if scan_by_k[k].rows or self._resumes(k, k0):
                        while inflight:
                            commit_oldest()
                        sequential(k, scan_by_k[k])
                        continue
                    while len(inflight) >= depth:
                        commit_oldest()
                    inflight.append((k, time.monotonic(),
                                     ex.submit(self._stage, self.batch_df(stream, k))))
            while inflight:
                commit_oldest()
        total["watermark_gtid"] = self.watermark_gtid
        return total

    # -------------------------------------------------- single-table hooks
    # Progress rides the table's own merge commits: ``replay_batch_span``
    # on EVERY segment commit (a crash between segments of a fresh table's
    # first DDL-segmented batch must still leave the span recorded, or a
    # changed-span resume slips past the guard), ``last_complete_batch``
    # on the batch's final one.

    _kind = "table"

    @property
    def watermark_gtid(self) -> int:
        return self.table.watermark_gtid

    def _progress(self) -> dict:
        return self.table.snapshot.properties

    def _adopt_span(self, wm: int, done: int) -> None:
        """The span is recorded on the batches' own commits."""

    def _resumes(self, k: int, k0: int) -> bool:
        # a mid-batch crash leaves the table's sub-ids inside batch k
        return self.table.last_batch_id // 1024 == k

    def _apply(self, df: DataFrame, k: int, scan: DdlScan, resume: bool,
               complete: dict) -> dict:
        return self.applier.apply(
            df, batch_id=k, final_extra_props=complete,
            extra_props={"replay_batch_span": str(self.batch_span)},
            scan=scan, resume_within_batch=resume)

    def _stage(self, df: DataFrame):
        return self.applier.stage_batch(df)

    def _commit(self, staged, k: int, complete: dict) -> dict:
        return self.applier.commit_batch(
            staged, k, final_extra_props=dict(
                complete, replay_batch_span=str(self.batch_span)))

    def _batch_done(self, gtid_max: int, complete: dict) -> None:
        """Nothing to do: the batch's commits carried its progress."""


class CatalogReplayRunner(ReplayRunner):
    """Multi-table replay over a :class:`~..plans.catalog.LakeCatalog`.

    Same deterministic gtid-span batch planning, resume semantics and
    gtid-partitioned-archive pruning as :class:`ReplayRunner`, but batch
    progress (``watermark_gtid``, ``last_complete_batch``,
    ``replay_batch_span``) persists in the *catalog*'s O(1) PROGRESS file —
    the per-table exactly-once guards (sub-batch ids, per-table
    watermarks) make a crash-replayed batch a per-pair no-op, so a crash
    between the last table's commit and the progress update just replays
    one batch of guarded no-ops. The resume batch is always ``k0``."""

    _kind = "catalog"

    def __init__(
        self,
        spark: SparkSession,
        catalog,
        batch_span: int = 100_000,
        config: ApplyConfig | None = None,
        lineage_dir: str | None = None,
        pipeline_depth: int = 1,
        partition_col: str | None = None,
        partition_span: int | None = None,
        archive_root: str | None = None,
    ):
        """``pipeline_depth`` > 1 overlaps the per-pair delta-WRITE jobs of
        up to that many consecutive DDL-free mor batches (on top of the
        within-batch pair parallelism of
        :class:`~..operators.multi.MultiTableApplier`); per-table snapshot
        commits and the catalog progress update stay strictly batch-
        ordered. The other options are :class:`ReplayRunner`'s."""
        from ..operators.multi import MultiTableApplier

        super().__init__(spark, None, batch_span, None, lineage_dir,
                         pipeline_depth, partition_col, partition_span,
                         archive_root)
        self.catalog = catalog
        self.applier = MultiTableApplier(catalog, config)

    @property
    def watermark_gtid(self) -> int:
        return int(self.catalog.properties.get("watermark_gtid", "-1"))

    def _progress(self) -> dict:
        return self.catalog.properties

    def _adopt_span(self, wm: int, done: int) -> None:
        # Adopting a span for a catalog with PRE-GUARD replay history must
        # not enshrine a typo: _batch_done always sets the watermark to its
        # batch's end, so under the true span wm//span is the last applied
        # batch and last_complete_batch is that or one less (growing tail)
        # — a span that breaks the identity is provably not the one the
        # history was built with. (A table has no such check: a mid-batch
        # crash legitimately leaves its sub-ids ahead of the watermark.)
        span = self.batch_span
        if done >= 0 and wm >= 0 and not (0 <= wm // span - done <= 1):
            raise ValueError(
                f"cannot adopt batch_span={span} for a catalog with "
                f"pre-guard replay history (watermark {wm} / "
                f"last_complete_batch {done} are inconsistent with "
                "it); pass the span the history was built with")
        # recorded up-front, before any batch applies, on the O(1)
        # PROGRESS channel (merged, durable) — a registry version per run
        # would violate the progress-channel invariant
        self.catalog.set_progress({"replay_batch_span": str(span)})

    def _resumes(self, k: int, k0: int) -> bool:
        return k == k0

    def _apply(self, df: DataFrame, k: int, scan: DdlScan, resume: bool,
               complete: dict) -> dict:
        return self.applier.apply(df, batch_id=k, scan=scan,
                                  resume_within_batch=resume)

    def _stage(self, df: DataFrame):
        return self.applier.stage_pairs(df, self.applier.config.observed_pairs())

    def _commit(self, staged, k: int, complete: dict) -> dict:
        return self.applier.commit_pairs(staged, k)

    def _batch_done(self, gtid_max: int, complete: dict) -> None:
        # O(1) progress channel: one atomically-swapped PROGRESS file, not
        # a full registry version per batch (a 10^5-batch replay would
        # otherwise leave 10^5 registry dumps)
        self.catalog.set_progress(dict(complete, watermark_gtid=str(gtid_max)))
