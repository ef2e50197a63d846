"""One data-file writer: every parquet file a table operation writes under
the table root is written from inside ``LakeTable._write_files``, and
every file it writes lands in the committed snapshot with the bucket of
its ``_bucket_p`` dir, the kind its columns say (``_op`` stored: delta)
and the snapshot's epoch."""

import os
import traceback

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

SCHEMA = [("repo", "string"), ("path", "string"), ("size", "int")]


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, size int, _op string, _gtid long")


def _seeded(spark, root):
    """Base-less MOR table with inserts, an update and winning DELETEs in
    its deltas, so compaction and rebucket both run a tombstone pass."""
    t = LakeTable.create(spark, root, SCHEMA, ["repo", "path"], num_buckets=4)
    t.merge(_rows(spark, [("r", f"p{i}", i, "INSERT", 10 + i) for i in range(20)]),
            batch_id=1, mode="mor")
    t.merge(_rows(spark, [("r", f"p{i}", None, "DELETE", 100 + i)
                          for i in range(0, 20, 3)] + [("r", "p1", 7, "UPDATE", 130)]),
            batch_id=2, mode="mor")
    return t


def _batch(spark):
    return _rows(spark, [("r", "p2", 50, "UPDATE", 200), ("r", "p30", 3, "INSERT", 201),
                         ("r", "p4", None, "DELETE", 202)])


OPS = {
    "merge_mor": lambda spark, t: t.merge(_batch(spark), batch_id=3, mode="mor"),
    "merge_cow": lambda spark, t: t.merge(_batch(spark), batch_id=3, mode="cow"),
    "delete_where": lambda spark, t: t.delete_where("size > 10"),
    "update_where": lambda spark, t: t.update_where("size < 5", {"size": "size + 100"}),
    "compact": lambda spark, t: t.compact(keep_tombstones=True),
    "rebucket": lambda spark, t: t.rebucket(8, keep_tombstones=True),
}


@pytest.mark.parametrize("op", list(OPS))
def test_every_data_file_comes_from_the_one_writer(spark, tmp_path, monkeypatch, op):
    t = _seeded(spark, str(tmp_path / "t"))
    root = os.path.realpath(t.root)
    writes = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        writes.append((os.path.realpath(path),
                       [f.name for f in traceback.extract_stack()]))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    OPS[op](spark, t)
    monkeypatch.undo()

    table_writes = [(p, stack) for p, stack in writes if p.startswith(root + os.sep)]
    assert table_writes, f"{op} wrote no data file"
    for path, stack in table_writes:
        assert "_write_files" in stack, (op, path, stack[-4:])

    snap = LakeTable.load(spark, t.root).snapshot
    committed = {fi["path"]: fi for fi in snap.files}
    for path, _ in table_writes:
        written = [os.path.join(d, f) for d, _, fs in os.walk(path)
                   for f in fs if f.endswith(".parquet")]
        assert written, (op, path)
        for full in written:
            fi = committed.get(os.path.relpath(full, root))
            assert fi is not None, (op, full)
            bucket = int(os.path.basename(os.path.dirname(full)).split("=", 1)[1])
            assert fi["bucket"] == bucket
            assert fi["epoch"] == snap.epoch
            assert fi["kind"] == ("delta" if "_op" in pq.read_schema(full).names
                                  else "base")
            stored = set(pq.read_table(full, columns=["_bucket"])["_bucket"].to_pylist())
            assert stored == {bucket}
