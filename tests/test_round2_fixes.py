"""Round-2 correctness fixes:

- TRUNCATE marker survives a within-batch crash/resume even when the
  watermark already advanced past the TRUNCATE gtid (the marker is only
  committed with the batch's FINAL segment merge).
- Same-gtid changes to one key resolve deterministically by the within-gtid
  sub-order (log_pos, row_idx, explode position) — the reference's
  (name, pos, seq) total order (/root/reference/README.md:62-63).
- Sub-batch id space overflow fails loudly instead of bleeding into the
  next batch's id range.
- rename_column validates both endpoints.
"""

import pytest
from pyspark.sql import functions as F

from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig, BatchApplier
from th2_listener_mysql_binlog_go_spark.plans.lake import GTID_COL, LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import CHANGE_SCHEMA

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def _ev(gtid, op, repo=None, path=None, content=None, ddl=None, log_pos=None,
        before_path=None, before_content=None):
    row = (repo, path, "c" * 40, "py", content) if repo is not None else None
    before = row if op == "DELETE" else None
    if op == "UPDATE":
        before = (repo, before_path or path, "c" * 40, "py", before_content or content)
    after = row if op in ("INSERT", "UPDATE") else None
    return (gtid, "binlog.000001", log_pos if log_pos is not None else gtid * 256,
            gtid, 0, "repos", "files", op, before, after, ddl)


def _batch(spark, events):
    return spark.createDataFrame(events, CHANGE_SCHEMA)


def _state(table):
    return {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}


def test_truncate_marker_survives_within_batch_resume(spark, tmp_path, monkeypatch):
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    applier = BatchApplier(table)
    # batch 0: two pre-existing rows
    applier.apply(_batch(spark, [
        _ev(1, "INSERT", "r1", "a.py", "old-a"),
        _ev(2, "INSERT", "r1", "b.py", "old-b"),
    ]), batch_id=0)
    assert len(_state(table)) == 2

    # batch 1: TRUNCATE at gtid 10, DML at 11, ALTER at 12 (segment
    # boundary), DML at 13. Segment 0 covers gtids < 12, so its commit
    # advances the watermark to 11 — PAST the truncate gtid — while the
    # truncate marker itself only rides the final segment's commit.
    events = [
        _ev(10, "TRUNCATE", ddl="TRUNCATE TABLE repos.files"),
        _ev(11, "INSERT", "r1", "c.py", "new-c"),
        _ev(12, "ALTER_TABLE", ddl="ALTER TABLE repos.files ADD COLUMN stars INT"),
        _ev(13, "INSERT", "r1", "d.py", "new-d"),
    ]
    batch = _batch(spark, events)

    # crash after the first segment merge (before the final commit)
    real_merge = LakeTable.merge
    calls = {"n": 0}

    def crashing_merge(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash before final segment")
        return real_merge(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge", crashing_merge)
    with pytest.raises(RuntimeError, match="injected crash"):
        applier.apply(batch, batch_id=1)
    monkeypatch.setattr(LakeTable, "merge", real_merge)

    crashed = LakeTable.load(spark, table.root)
    assert crashed.watermark_gtid == 11  # past the truncate gtid
    assert crashed.truncate_gtid == -1  # marker not yet persisted

    # resume within the batch: the TRUNCATE must still land
    applier2 = BatchApplier(crashed)
    applier2.apply(batch, batch_id=1, resume_within_batch=True)
    assert crashed.truncate_gtid == 10
    state = _state(crashed)
    assert set(state) == {("r1", "c.py"), ("r1", "d.py")}  # old-a/old-b truncated


def test_same_gtid_log_pos_order_wins(spark, tmp_path):
    """Two changes to one key inside one transaction (shared gtid): the one
    with the higher log_pos must win, deterministically."""
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    applier = BatchApplier(table)
    applier.apply(_batch(spark, [
        _ev(5, "INSERT", "r1", "x.py", "first", log_pos=100),
        _ev(5, "UPDATE", "r1", "x.py", "second", log_pos=200),
    ]), batch_id=0)
    assert _state(table) == {("r1", "x.py"): "second"}

    # reversed arrival order in a later batch, same rule
    applier.apply(_batch(spark, [
        _ev(6, "UPDATE", "r1", "x.py", "fourth", log_pos=900),
        _ev(6, "UPDATE", "r1", "x.py", "third", log_pos=800),
    ]), batch_id=1)
    assert _state(table) == {("r1", "x.py"): "fourth"}


def test_same_gtid_delete_then_insert_via_pk_update(spark, tmp_path):
    """A PK-changing UPDATE explodes into DELETE(old key) + INSERT(new key)
    at one gtid; the INSERT must beat a same-gtid earlier change to the new
    key (explode position is the lowest-order tiebreaker bit)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    applier = BatchApplier(table)
    applier.apply(_batch(spark, [
        _ev(1, "INSERT", "r1", "old.py", "v0"),
        _ev(2, "INSERT", "r1", "new.py", "other", log_pos=100),
        # same gtid, later log_pos: move old.py -> new.py
        _ev(2, "UPDATE", "r1", "new.py", "moved", log_pos=200, before_path="old.py"),
    ]), batch_id=0)
    assert _state(table) == {("r1", "new.py"): "moved"}
    # survives compaction (the persisted _seq column drives the same order)
    table.compact()
    assert _state(table) == {("r1", "new.py"): "moved"}


def test_subbatch_overflow_fails_loudly(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    applier = BatchApplier(table)
    ddls = [
        _ev(i, "ALTER_TABLE", ddl=f"ALTER TABLE repos.files ADD COLUMN c{i} INT")
        for i in range(600)
    ]
    with pytest.raises(RuntimeError, match="sub-batch slots"):
        applier.apply(_batch(spark, ddls), batch_id=0)
    # nothing committed
    assert table.last_batch_id == -1


def test_schema_precedence_modes(spark, tmp_path):
    """A qualified DDL under a different session schema: 'statement' mode
    (default, MySQL name resolution — documented divergence) binds to the
    statement's schema; 'session' mode mirrors the reference
    (listener.go:253-259) and binds to the event's session schema."""
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    rows = [{"gtid": 1, "op": "QUERY", "ddl": "TRUNCATE TABLE stmt_db.files",
             "schema_name": "sess_db", "table_name": ""}]

    stmt_cfg = ApplyConfig(observed={"stmt_db": ["files"]}, schema_precedence="statement")
    got = BatchApplier(table, stmt_cfg)._classify_ddl(rows)
    assert [d["schema_name"] for d in got] == ["stmt_db"]
    # same statement is NOT intercepted when only the session schema is observed
    sess_only = ApplyConfig(observed={"sess_db": ["files"]}, schema_precedence="statement")
    assert BatchApplier(table, sess_only)._classify_ddl(rows) == []

    ref_cfg = ApplyConfig(observed={"sess_db": ["files"]}, schema_precedence="session")
    got = BatchApplier(table, ref_cfg)._classify_ddl(rows)
    assert [d["schema_name"] for d in got] == ["sess_db"]
    # unqualified statement: both modes fall back to the event's session schema
    rows2 = [{"gtid": 2, "op": "QUERY", "ddl": "TRUNCATE TABLE files",
              "schema_name": "sess_db", "table_name": ""}]
    got = BatchApplier(table, sess_only)._classify_ddl(rows2)
    assert [d["schema_name"] for d in got] == ["sess_db"]


def test_auto_compact_bounds_delta_pileup(spark, tmp_path):
    """Default config is self-maintaining: a long-running untuned MOR
    stream never accumulates unbounded delta files (VERDICT scale risk a)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=1)
    applier = BatchApplier(table)  # default auto_compact_deltas='auto' -> 8
    max_deltas = 0
    g = 0
    for b in range(12):
        evs = []
        for _ in range(2):
            evs.append(_ev(g, "INSERT", "r1", f"f{g % 5}.py", f"v{g}"))
            g += 1
        applier.apply(_batch(spark, evs), batch_id=b)
        n_delta = sum(1 for fi in table.snapshot.files if fi.get("kind") == "delta")
        max_deltas = max(max_deltas, n_delta)
    assert max_deltas <= 9  # threshold 8, compacted when exceeded
    expected = {("r1", f"f{k}.py"): f"v{20 + k}" for k in range(4)}
    expected[("r1", "f4.py")] = "v19"
    assert _state(table) == expected


def test_alter_drop_column_applies_and_no_resurrection(spark, tmp_path):
    """ALTER TABLE ... DROP COLUMN executes (metadata-only); re-adding a
    column with the same name gets a fresh column id, so pre-drop values
    must NOT resurrect (Iceberg field-id semantics)."""
    from th2_listener_mysql_binlog_go_spark.functions.ddl import parse_alter

    cmd = parse_alter("ALTER TABLE repos.files DROP COLUMN lang;")
    assert (cmd.kind, cmd.column) == ("drop", "lang")
    # keyword forms are not column drops
    assert parse_alter("ALTER TABLE t DROP INDEX idx").kind == "other"
    assert parse_alter("ALTER TABLE t DROP PRIMARY KEY").kind == "other"

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    applier = BatchApplier(table)
    applier.apply(_batch(spark, [
        _ev(1, "INSERT", "r1", "a.py", "c1"),
        _ev(2, "ALTER_TABLE", ddl="ALTER TABLE repos.files DROP COLUMN lang"),
        _ev(3, "INSERT", "r1", "b.py", "c2"),
    ]), batch_id=0)
    cols = [c.name for c in table.snapshot.columns]
    assert "lang" not in cols
    assert set(table.read().columns) == {"repo", "path", "commit", "content"}

    applier.apply(_batch(spark, [
        _ev(10, "ALTER_TABLE", ddl="ALTER TABLE repos.files ADD COLUMN lang VARCHAR(10)"),
        _ev(11, "INSERT", "r1", "c.py", "c3"),
    ]), batch_id=1)
    rows = {r["path"]: r["lang"] for r in table.read().collect()}
    # a.py was written with the OLD lang column (id retired): stays NULL
    assert rows["a.py"] is None and rows["b.py"] is None
    assert rows["c.py"] == "py"  # written post re-add


def test_rename_column_validation(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    with pytest.raises(ValueError, match="no column"):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("lang", "content")
    table.rename_column("lang", "language")
    assert "language" in [c.name for c in table.snapshot.columns]
