"""Lake table format: create/merge/read, LWW, idempotency, schema evolution."""

import pyspark.sql.functions as F
import pytest

from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def _mk(spark, tmp_path, buckets=4):
    return LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=buckets)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, _op string, _gtid long"
    )


def test_create_and_empty_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.read().count() == 0
    assert t.watermark_gtid == -1
    t2 = LakeTable.load(spark, t.root)
    assert t2.snapshot.version == 0


def test_merge_insert_update_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    m = t.merge(_changes(spark, [
        ("r1", "a.py", "c1", "py", "x1", "INSERT", 1),
        ("r1", "b.py", "c2", "py", "x2", "INSERT", 2),
        ("r2", "a.py", "c3", "go", "x3", "INSERT", 3),
    ]), batch_id=1)
    assert m["rows_inserted"] == 3 and m["rows_updated"] == 0
    assert t.read().count() == 3

    m = t.merge(_changes(spark, [
        ("r1", "a.py", "c4", "py", "x1b", "UPDATE", 4),
        ("r2", "a.py", None, None, None, "DELETE", 5),
        ("r3", "z.py", "c5", "rs", "x5", "INSERT", 6),
    ]), batch_id=2)
    assert m["rows_inserted"] == 1 and m["rows_updated"] == 1 and m["rows_deleted"] == 1
    rows = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert set(rows) == {("r1", "a.py"), ("r1", "b.py"), ("r3", "z.py")}
    assert rows[("r1", "a.py")]["content"] == "x1b"
    assert t.watermark_gtid == 6


def test_lww_within_batch_and_resurrection(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [
        ("r1", "a.py", "c1", "py", "v1", "INSERT", 1),
        ("r1", "a.py", "c2", "py", "v2", "UPDATE", 2),
        ("r1", "a.py", None, None, None, "DELETE", 3),
        ("r1", "a.py", "c3", "py", "v3", "INSERT", 4),   # resurrection
        ("r2", "b.py", "c4", "py", "v4", "INSERT", 5),
        ("r2", "b.py", None, None, None, "DELETE", 6),   # net delete
    ]), batch_id=1)
    rows = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert rows == {("r1", "a.py"): "v3"}


def test_merge_is_idempotent_exactly_once(spark, tmp_path):
    t = _mk(spark, tmp_path)
    c = [("r1", "a.py", "c1", "py", "v1", "INSERT", 1)]
    t.merge(_changes(spark, c), batch_id=1)
    m = t.merge(_changes(spark, c), batch_id=1)  # replay
    assert m["skipped"]
    assert t.read().count() == 1
    # even a forced re-merge with a new batch id converges (gtid LWW)
    t.merge(_changes(spark, c), batch_id=2)
    assert t.read().count() == 1
    assert t.read().collect()[0]["content"] == "v1"


def test_copy_on_write_touches_only_affected_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=8)
    rows = [(f"r{i}", f"f{i}.py", "c", "py", f"v{i}", "INSERT", i + 1) for i in range(50)]
    t.merge(_changes(spark, rows), batch_id=1)
    files_before = {f["path"] for f in t.snapshot.files}
    m = t.merge(_changes(spark, [("r1", "f1.py", "c2", "py", "new", "UPDATE", 100)]), batch_id=2)
    assert m["buckets_touched"] == 1
    files_after = {f["path"] for f in t.snapshot.files}
    # all but one bucket's files are carried by reference
    assert len(files_before & files_after) == len(files_before) - 1


def test_truncate(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("r1", "a.py", "c1", "py", "v1", "INSERT", 1)]), batch_id=1)
    t.truncate()
    assert t.read().count() == 0
    t.merge(_changes(spark, [("r1", "b.py", "c2", "py", "v2", "INSERT", 2)]), batch_id=2)
    assert t.read().count() == 1


def test_schema_evolution_add_rename_widen(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA + [("stars", "int")], ["repo", "path"])
    t.merge(spark.createDataFrame(
        [("r1", "a.py", "c1", "py", "v1", 5, "INSERT", 1)],
        "repo string, path string, commit string, lang string, content string, stars int, _op string, _gtid long",
    ), batch_id=1)
    # add: old files read as NULL
    t.add_column("forks", "int")
    rows = t.read().collect()
    assert rows[0]["forks"] is None
    # rename: id-stable, old files still map
    t.rename_column("lang", "language")
    assert t.read().collect()[0]["language"] == "py"
    # widen int -> bigint across old + new files
    t.widen_column("stars", "bigint")
    t.merge(spark.createDataFrame(
        [("r2", "b.py", "c2", "go", "v2", 2**40, 7, "INSERT", 2)],
        "repo string, path string, commit string, language string, content string, stars long, forks int, _op string, _gtid long",
    ), batch_id=2)
    got = {r["repo"]: r for r in t.read().collect()}
    assert got["r1"]["stars"] == 5 and got["r2"]["stars"] == 2**40
    assert got["r2"]["forks"] == 7
    # narrowing is rejected
    with pytest.raises(ValueError):
        t.widen_column("stars", "int")
    # reload from disk and re-read (metadata round-trip)
    t2 = LakeTable.load(spark, t.root)
    assert {r["repo"]: r["stars"] for r in t2.read().collect()} == {"r1": 5, "r2": 2**40}


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_readded_column_does_not_reuse_dropped_id(spark, tmp_path, mode):
    """DROP COLUMN then ADD COLUMN of the same name is a new column: the
    files written before the drop must read NULL under it, not their old
    values (the re-added column gets an id no snapshot ever used)."""
    t = _mk(spark, tmp_path)
    t.merge(_changes(spark, [("r1", "a.py", "c1", "py", "old-content", "INSERT", 1)]),
            batch_id=1, mode=mode)
    dropped_id = next(c.id for c in t.snapshot.columns if c.name == "content")
    t.drop_column("content")
    t.add_column("content", "string")
    new_id = next(c.id for c in t.snapshot.columns if c.name == "content")
    assert new_id > dropped_id
    assert [r["content"] for r in t.read().collect()] == [None]
    assert [r["content"] for r in LakeTable.load(spark, t.root).read().collect()] == [None]


def test_time_travel_and_compact(spark, tmp_path):
    t = _mk(spark, tmp_path, buckets=2)
    t.merge(_changes(spark, [("r1", "a.py", "c1", "py", "v1", "INSERT", 1)]), batch_id=1)
    import copy
    snap_v1 = copy.deepcopy(t.snapshot)
    t.merge(_changes(spark, [("r1", "a.py", "c2", "py", "v2", "UPDATE", 2)]), batch_id=2)
    assert t.read().collect()[0]["content"] == "v2"
    assert t.read(snapshot=snap_v1).collect()[0]["content"] == "v1"  # time travel
    t.merge(_changes(spark, [("r9", "z.py", "c3", "py", "v3", "INSERT", 3)]), batch_id=3)
    n = t.compact()
    assert n >= 0
    assert {r["content"] for r in t.read().collect()} == {"v2", "v3"}


def test_bucket_count_metrics_build_cost_is_flat_in_buckets(spark, monkeypatch):
    """The per-bucket row counts are one aggregate parsed from one SQL
    string: building them makes as many Column calls at 512 buckets (the
    Observation limit) as at 16."""
    from pyspark.sql.classic.column import Column

    made = []
    init = Column.__init__

    def counting(self, jc):
        made.append(jc)
        init(self, jc)

    monkeypatch.setattr(Column, "__init__", counting)
    calls = {}
    for n in (16, LakeTable._OBS_BUCKET_LIMIT):
        made.clear()
        LakeTable._bucket_count_metrics(n, exclude_deletes=True)
        calls[n] = len(made)
    assert calls[16] == calls[LakeTable._OBS_BUCKET_LIMIT] >= 1


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_bucket_counts_match_the_written_files(spark, tmp_path, mode):
    """The Observation's per-bucket counts equal the rows in each bucket's
    written files (DELETE rows kept in MOR deltas, dropped by CoW)."""
    t = _mk(spark, tmp_path, buckets=8)
    t.merge(_changes(spark, [(f"r{i}", f"f{i}.py", "c", "py", "v", "INSERT", i + 1)
                             for i in range(40)]), batch_id=1, mode=mode)
    before = {fi["path"] for fi in t.snapshot.files}
    m = t.merge(_changes(spark, [
        (f"r{i}", f"f{i}.py", "c", "py", "w", "UPDATE" if i % 2 else "DELETE", 100 + i)
        for i in range(0, 40, 3)]), batch_id=2, mode=mode)
    written = [fi for fi in t.snapshot.files if fi["path"] not in before]
    assert dict(m["partitions"]) == LakeTable._footer_rows(t.root, written)
    assert sum(n for _, n in m["partitions"]) > 0
