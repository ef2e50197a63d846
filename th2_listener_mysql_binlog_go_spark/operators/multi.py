"""Multi-table apply: route one change batch to every observed table.

The reference processes events for *every* configured (schema, table) pair
(/root/reference/component/listener/listener.go:236-241, config map at
component/configuration/configuration.go:26-32) and forwards CREATE/DROP
TABLE (component/bean/query.go:25-26). This module completes that contract
on the apply side: a :class:`MultiTableApplier` fans one micro-batch out to
per-pair :class:`~.apply.BatchApplier`\\ s over a
:class:`~..plans.catalog.LakeCatalog`, *executing* CREATE TABLE (column
defs parsed from the statement) and DROP TABLE as catalog commits in GTID
order relative to the pair's DML.

Scale shape: the batch's DDL rows are collected ONCE by
:func:`~.apply.scan_ddl` (tiny by construction), whose job also observes
the DML of every observed pair, so each pair's provably empty segments
commit without a job; each pair's DML slice is a Catalyst filter over the
shared batch scan — per-pair work is an independent Spark job exactly as the
single-table path, so K observed tables cost K merge jobs, not K stream
rescans of unrelated data (the (schema_name, table_name) filter prunes at
the source). Because those K jobs touch disjoint tables, their expensive
halves (the per-pair delta WRITE jobs) run CONCURRENTLY for DDL-free mor
batches — ``table_parallelism`` threads submit independent Spark jobs, the
same split the single-table runner uses to pipeline batches — and only the
per-table snapshot commits serialize. A pair carrying DDL this batch (or a
within-batch resume) falls back to the sequential segment path, so
evolution ordering is untouched. Exactly-once is per-table (each
LakeTable's sub-batch id guard); catalog-level batch progress lives in
catalog properties.
"""

from __future__ import annotations

from dataclasses import replace
from functools import cached_property

from pyspark.sql import DataFrame

from ..plans.catalog import LakeCatalog
from .apply import ApplyConfig, BatchApplier, DdlScan, ddl_scan_exprs, scan_ddl


class MultiTableApplier:
    def __init__(self, catalog: LakeCatalog, config: ApplyConfig | None = None):
        self.catalog = catalog
        self.config = config or ApplyConfig()

    # ------------------------------------------------------------ helpers

    def _applier(self, schema: str, table: str) -> BatchApplier:
        pair_cfg = replace(self.config, observed={schema: [table]})
        return BatchApplier(
            self.catalog.get(schema, table), pair_cfg,
            catalog=self.catalog, pair=(schema, table),
        )

    @cached_property
    def scan_exprs(self) -> tuple:
        """:func:`~.apply.ddl_scan_exprs` over every observed pair, built
        once: the scan's DML stats cover a superset of any one pair's rows,
        so a segment they prove empty is empty for that pair."""
        return ddl_scan_exprs(self.config.observed_pairs())

    def stage_pairs(self, batch: DataFrame, pairs: list[tuple[str, str]]) -> dict:
        """Stage (delta-write, NO commit) ``pairs``' slices of a DDL-free
        mor batch concurrently — per-pair jobs are independent by
        construction (disjoint tables, disjoint commit dirs). Returns
        {pair: staged | None}; a pair whose table doesn't exist yet stages
        None (a binlog can't carry rows for a nonexistent table)."""
        from concurrent.futures import ThreadPoolExecutor

        appliers = {p: self._applier(*p) for p in pairs}
        live = [p for p in pairs if appliers[p].table is not None]
        out: dict = {p: None for p in pairs}
        if not live:
            return out
        workers = max(1, min(self.config.table_parallelism, len(live)))
        with ThreadPoolExecutor(max_workers=workers,
                                thread_name_prefix="cdc-pair") as ex:
            futs = {p: ex.submit(appliers[p].stage_batch, batch) for p in live}
            for p, f in futs.items():
                out[p] = f.result()
        return out

    def commit_pairs(self, staged_by_pair: dict, batch_id: int) -> dict:
        """Ordered per-table snapshot commits of :meth:`stage_pairs` output
        (driver-serial, O(metadata) each)."""
        total = self._zero_metrics(batch_id)
        for (schema, table), staged in staged_by_pair.items():
            if staged is None:
                continue
            m = self._applier(schema, table).commit_batch(staged, batch_id)
            self._fold(total, f"{schema}.{table}", m)
        return total

    @staticmethod
    def _zero_metrics(batch_id: int) -> dict:
        return {
            "batch_id": batch_id, "rows_inserted": 0, "rows_updated": 0,
            "rows_deleted": 0, "ddl_applied": 0, "ddl_dropped": 0,
            "segments": 0, "tables": {},
        }

    @staticmethod
    def _fold(total: dict, name: str, m: dict) -> None:
        total["tables"][name] = m
        for k in ("rows_inserted", "rows_updated", "rows_deleted",
                  "ddl_applied", "ddl_dropped", "segments"):
            total[k] += m.get(k, 0)

    # ------------------------------------------------------------ main

    def apply(self, batch: DataFrame, batch_id: int,
              scan: DdlScan | None = None,
              resume_within_batch: bool = False) -> dict:
        """Apply one micro-batch to every observed pair. Returns aggregate
        metrics plus a per-pair breakdown under ``"tables"``.

        ``scan``: the batch's :class:`~.apply.DdlScan` (or a superset's,
        possibly without stats) when the caller already ran it; else one
        scan here serves every pair. DDL-free pairs of a mor batch stage
        their delta writes in parallel and commit in order; pairs with DDL
        this batch — or any pair during a within-batch resume — run the
        sequential segment path."""
        if scan is None:
            scan = scan_ddl(batch, self.scan_exprs)
        pairs = self.config.observed_pairs()
        total = self._zero_metrics(batch_id)

        appliers = {p: self._applier(*p) for p in pairs}
        ddl_by_pair = {p: appliers[p]._classify_ddl(scan.rows) for p in pairs}
        can_parallel = (
            self.config.merge_mode == "mor"
            and not resume_within_batch
            and self.config.table_parallelism > 1
        )
        fast = [p for p in pairs
                if can_parallel and not ddl_by_pair[p]
                and appliers[p].table is not None] if can_parallel else []
        slow = [p for p in pairs if p not in fast]

        if len(fast) > 1:
            staged = self.stage_pairs(batch, fast)
            for p in fast:
                if staged[p] is not None:
                    m = appliers[p].commit_batch(staged[p], batch_id)
                    self._fold(total, f"{p[0]}.{p[1]}", m)
        else:
            slow = pairs  # nothing to overlap: keep one code path

        for schema, table in slow:
            m = appliers[(schema, table)].apply(
                batch, batch_id,
                scan=DdlScan(ddl_by_pair[(schema, table)], scan.stats),
                resume_within_batch=resume_within_batch,
            )
            self._fold(total, f"{schema}.{table}", m)
        return total
