"""Per-batch / per-partition lineage + metrics (FIXTURES.md §4).

Replaces the reference's per-message {name,pos,seq,timestamp} metadata
(/root/reference/component/listener/listener.go:325-332) and its
Prometheus liveness monitors (main.go:122-131) with commit-time lineage
rows: one row per (batch, bucket-partition) recording the GTID range and
applied row counts. Written driver-side with pyarrow (no Spark job — the
counts already rode the merge's ``observe()`` and the parquet footers of
the files the commit just wrote), mirroring how Iceberg writes manifests.
Every apply path — both replay runners and the four streaming shells —
builds its rows in one place, :meth:`LineageWriter.write_batch`.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

LINEAGE_SCHEMA = pa.schema(
    [
        ("batch_id", pa.int64()),
        ("gtid_min", pa.int64()),
        ("gtid_max", pa.int64()),
        ("partition_id", pa.int32()),  # bucket id; -1 = batch-level row
        ("rows_applied", pa.int64()),
        ("rows_inserted", pa.int64()),
        ("rows_updated", pa.int64()),
        ("rows_deleted", pa.int64()),
        ("ddl_applied", pa.int32()),
        ("wall_ms", pa.int64()),
        ("table_name", pa.string()),  # 'schema.table' routing target; NULL in single-table runs
    ]
)


class LineageWriter:
    def __init__(self, lineage_dir: str):
        self.dir = lineage_dir
        os.makedirs(lineage_dir, exist_ok=True)

    def write(self, rows: list[dict]) -> None:
        if not rows:
            return
        arrays = {name: [r.get(name) for r in rows] for name in LINEAGE_SCHEMA.names}
        table = pa.table(
            {n: pa.array(arrays[n], type=LINEAGE_SCHEMA.field(n).type) for n in LINEAGE_SCHEMA.names}
        )
        pq.write_table(table, os.path.join(self.dir, f"lineage-{rows[0]['batch_id']}-{uuid.uuid4().hex[:8]}.parquet"))

    def write_batch(self, batch_id: int, m: dict, wall_ms: int,
                    gtid_min: int | None = None, gtid_max: int | None = None) -> None:
        """Write one applied batch's rows: per table, a batch-level row
        (``partition_id = -1``) and one row per bucket the batch wrote to.
        ``m`` is a single-table applier's metrics (``table_name`` NULL) or
        a multi-table one's, whose ``tables`` maps 'schema.table' to
        per-table metrics."""
        rows = []
        for name, tm in m["tables"].items() if "tables" in m else [(None, m)]:
            counts = {k: tm[k] for k in ("rows_inserted", "rows_updated", "rows_deleted")}
            base = dict(counts, batch_id=batch_id, gtid_min=gtid_min, gtid_max=gtid_max,
                        rows_applied=sum(counts.values()), ddl_applied=tm["ddl_applied"],
                        wall_ms=wall_ms, table_name=name)
            rows.append(dict(base, partition_id=-1))
            rows += [dict(base, partition_id=int(b), rows_applied=int(n))
                     for b, n in tm.get("partitions", [])]
        self.write(rows)

    def read(self, spark):
        return spark.read.parquet(self.dir)
