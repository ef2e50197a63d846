"""Lineage rows from every apply path: the two replay runners and the four
streaming shells write the same LINEAGE_SCHEMA rows for one small stream —
one batch-level row (``partition_id = -1``) per (batch, table), per-bucket
rows whose ``rows_applied`` sum to it, and ``table_name`` set exactly on
the catalog paths."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
from th2_listener_mysql_binlog_go_spark.plans.catalog import LakeCatalog
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import (
    CHANGE_SCHEMA,
    synthetic_changestream,
)
from th2_listener_mysql_binlog_go_spark.sources.rawjson import encode_stream
from th2_listener_mysql_binlog_go_spark.streaming.lineage import LINEAGE_SCHEMA
from th2_listener_mysql_binlog_go_spark.streaming.runner import (
    CatalogReplayRunner,
    ReplayRunner,
)
from th2_listener_mysql_binlog_go_spark.streaming.structured import (
    StreamingApplier,
    StreamingCatalogApplier,
    StreamingWireApplier,
    StreamingWireCatalogApplier,
)

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]
TABLES = ("files", "files2")
PATHS = ["replay", "catalog-replay", "stream", "wire-stream",
         "catalog-stream", "catalog-wire-stream"]


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """One stream, with half the DML routed to a second table, landed both
    as CHANGE_SCHEMA parquet and as wire JSON."""
    root = tmp_path_factory.mktemp("lineage-src")
    full = synthetic_changestream(spark, 600, n_repos=8, n_paths=20,
                                  with_truncate=False)
    full = full.withColumn(
        "table_name",
        F.when(F.col("op").isin("INSERT", "UPDATE", "DELETE")
               & (F.col("gtid") % 2 == 0), F.lit("files2"))
        .otherwise(F.col("table_name"))).cache()
    full.repartition(2).write.parquet(str(root / "parquet"))
    encode_stream(full).repartition(2).write.json(str(root / "wire"))
    yield full, str(root / "parquet"), str(root / "wire")
    full.unpersist()


def _run(path, spark, tmp_path, sources):
    full, parquet_dir, wire_dir = sources
    lin, ckpt = str(tmp_path / "lin"), str(tmp_path / "ckpt")
    if path.startswith("catalog"):
        target = LakeCatalog.create(spark, str(tmp_path / "cat"))
        for t in TABLES:
            target.create_table("repos", t, SCHEMA, ["repo", "path"], num_buckets=4)
        cfg = ApplyConfig(observed={"repos": list(TABLES)}, num_buckets=4)
    else:
        target = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                                  ["repo", "path"], num_buckets=4)
        cfg = ApplyConfig(num_buckets=4)
    if path.endswith("replay"):
        cls = CatalogReplayRunner if path.startswith("catalog") else ReplayRunner
        cls(spark, target, batch_span=200, config=cfg, lineage_dir=lin,
            pipeline_depth=2).run(full)
        return lin
    cls = {"stream": StreamingApplier, "wire-stream": StreamingWireApplier,
           "catalog-stream": StreamingCatalogApplier,
           "catalog-wire-stream": StreamingWireCatalogApplier}[path]
    shell = cls(spark, target, config=cfg, lineage_dir=lin)
    if "wire" in path:
        q = shell.start(wire_dir, ckpt, max_files_per_trigger=1)
    else:
        q = shell.start(parquet_dir, ckpt, CHANGE_SCHEMA, max_files_per_trigger=1)
    q.awaitTermination(300)
    return lin


@pytest.mark.parametrize("path", PATHS)
def test_lineage_rows_from_every_apply_path(spark, tmp_path, sources, path):
    lin = _run(path, spark, tmp_path, sources)
    files = sorted(os.listdir(lin))
    assert files
    tables = [pq.read_table(os.path.join(lin, f)) for f in files]
    for t in tables:
        assert t.schema.equals(LINEAGE_SCHEMA), t.schema
    rows = [r for t in tables for r in t.to_pylist()]

    batch_rows = {}
    for r in rows:
        if r["partition_id"] == -1:
            key = (r["batch_id"], r["table_name"])
            assert key not in batch_rows, f"two batch-level rows for {key}"
            batch_rows[key] = r
    assert batch_rows
    per_part = {}
    for r in rows:
        if r["partition_id"] >= 0:
            key = (r["batch_id"], r["table_name"])
            assert key in batch_rows, f"bucket row without a batch row: {key}"
            per_part[key] = per_part.get(key, 0) + r["rows_applied"]
    for key, b in batch_rows.items():
        assert b["rows_applied"] == (
            b["rows_inserted"] + b["rows_updated"] + b["rows_deleted"])
        assert per_part.get(key, 0) == b["rows_applied"], key
    assert sum(b["rows_applied"] for b in batch_rows.values()) > 0

    names = {r["table_name"] for r in rows}
    if path.startswith("catalog"):
        assert names == {f"repos.{t}" for t in TABLES}
        batches = {b for b, _ in batch_rows}
        assert set(batch_rows) == {(b, f"repos.{t}") for b in batches for t in TABLES}
    else:
        assert names == {None}
