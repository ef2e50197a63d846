"""Round-6 optimization: ALTERs that provably do not change the column set
(re-ADD of an existing column, same-type MODIFY, rename-to-self, DROP of an
absent column) no longer force a segment boundary — the batch merges in
fewer segments, the DDLs still apply in order (metrics identical), and the
converged state is unchanged. A schema-CHANGING ALTER still segments.

Segments that hold no observed DML (DDL-only batches, back-to-back ALTERs,
ranges under a TRUNCATE floor) commit metadata only, without a Spark job;
their commits stay, so crash-replay remains exactly-once.
"""

import os
from unittest import mock

import pytest
from pyspark.sql import functions as F

from th2_listener_mysql_binlog_go_spark.operators import apply as apply_mod
from th2_listener_mysql_binlog_go_spark.operators.apply import (
    BatchApplier,
    DdlScan,
    ddl_candidates_cond,
)
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

SCHEMA = [("repo", "string"), ("path", "string"), ("content", "string")]


def _mk_batch(spark, rows, ddls):
    """rows: (gtid, repo, path, content); ddls: (gtid, stmt)."""
    row_t = "struct<repo:string,path:string,content:string>"
    data = [
        (g, "binlog.000001", g * 256, 0, 0, "repos", "files", "INSERT",
         None, {"repo": r, "path": p, "content": c}, None)
        for (g, r, p, c) in rows
    ] + [
        (g, "binlog.000001", g * 256, 0, 0, "repos", "files", "QUERY",
         None, None, stmt)
        for (g, stmt) in ddls
    ]
    return spark.createDataFrame(
        data,
        f"gtid bigint, log_name string, log_pos bigint, seq bigint, ts bigint, "
        f"schema_name string, table_name string, op string, "
        f"before {row_t}, after {row_t}, ddl string")


def test_noop_alters_do_not_segment(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_cols=["repo", "path"], num_buckets=2)
    rows = [(g, f"r{g % 3}", f"p{g}", f"c{g}") for g in range(1, 20)]
    noop_ddls = [
        (5, "ALTER TABLE repos.files ADD COLUMN content VARCHAR(10)"),  # exists
        (9, "ALTER TABLE repos.files DROP COLUMN nosuch"),              # absent
        (13, "ALTER TABLE repos.files RENAME COLUMN nosuch TO other"),  # absent
    ]
    m = BatchApplier(t).apply(_mk_batch(spark, rows, noop_ddls), batch_id=0)
    # one merge for the whole batch: no boundary at any no-op ALTER
    assert m["segments"] == 1
    assert m["ddl_dropped"] == 3 and m["ddl_applied"] == 0
    assert m["rows_inserted"] == len(rows)
    assert t.read().count() == len(rows)
    assert [c.name for c in t.snapshot.columns] == ["repo", "path", "content"]


def test_changing_alter_still_segments_and_noop_elision_matches_state(spark, tmp_path):
    rows = [(g, f"r{g % 3}", f"p{g % 7}", f"c{g}") for g in range(1, 30)]
    ddls = [
        (10, "ALTER TABLE repos.files ADD COLUMN stars INT"),     # real change
        (15, "ALTER TABLE repos.files ADD COLUMN stars INT"),     # no-op re-add
        (20, "ALTER TABLE repos.files DROP COLUMN nosuch"),       # no-op
    ]
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_cols=["repo", "path"], num_buckets=2)
    m = BatchApplier(t).apply(_mk_batch(spark, rows, ddls), batch_id=0)
    # boundary only at the REAL ALTER: two segments, not four
    assert m["segments"] == 2
    assert m["ddl_applied"] == 1 and m["ddl_dropped"] == 2
    assert [c.name for c in t.snapshot.columns] == ["repo", "path", "content", "stars"]
    # winners written before the ALTER read stars as NULL; after, still NULL
    # (stream carries no stars values) — state matches a per-DDL-segmented
    # replay of the same batch on a fresh table
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA,
                          key_cols=["repo", "path"], num_buckets=2)
    # force the old behavior: apply in two halves split at every DDL gtid
    b = _mk_batch(spark, rows, ddls)
    a2 = BatchApplier(t2)
    a2.apply(b.filter(F.col("gtid") <= 10), batch_id=0)
    a2.apply(b.filter(F.col("gtid") > 10), batch_id=1)
    got = sorted(map(tuple, t.read().select("repo", "path", "content", "stars").collect()))
    exp = sorted(map(tuple, t2.read().select("repo", "path", "content", "stars").collect()))
    assert got == exp


def test_key_buckets_and_bucket_param(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key_cols=["repo", "path"], num_buckets=4)
    rows = [(g, f"r{g}", f"p{g}", f"c{g}") for g in range(1, 9)]
    BatchApplier(t).apply(_mk_batch(spark, rows, []), batch_id=0)
    keys = [(f"r{g}", f"p{g}") for g in range(1, 9)]
    bks = t.key_buckets(keys)
    assert len(bks) == len(keys)
    for (repo, path), b in zip(keys, bks):
        # precomputed bucket answers identically to the discovered path
        fast = t.lookup(repo, path, bucket=b).collect()
        slow = t.lookup(repo, path).collect()
        assert fast == slow and len(fast) == 1
        hist_fast = t.key_history(repo, path, bucket=b).collect()
        hist_slow = t.key_history(repo, path).collect()
        assert hist_fast == hist_slow
    with pytest.raises(ValueError, match="out of range"):
        t.lookup("r1", "p1", bucket=99).collect()


# ---------------------------------------------------------------- empty segments
# Segments that provably hold no observed DML commit metadata only (no
# Spark job). The twin in each test applies the same batch through the
# merge path — a DdlScan without DML stats, and no segment counts as
# provably empty, so every segment runs LakeTable.merge — and the committed
# versions must match.


def _merge_path_apply(applier, batch, batch_id, **kw):
    rows = (batch.filter(ddl_candidates_cond())
            .select("gtid", "op", "ddl", "schema_name", "table_name").collect())
    with mock.patch.object(apply_mod, "segment_empty", lambda low, hi, stats: False):
        return applier.apply(batch, batch_id=batch_id, scan=DdlScan(rows, None), **kw)


def _versions(t):
    """Per committed version: history row + the column specs in force."""
    return [dict(h, columns=[(c.id, c.name, c.type)
                             for c in t.snapshot_at(h["version"]).columns])
            for h in t.history()]


def _rows(t):
    return sorted(map(tuple, t.read().collect()))


def _data_dirs(t):
    return sorted(os.listdir(os.path.join(t.root, "data")))


def _twin_tables(spark, tmp_path, seed_rows):
    out = []
    for name in ("elided", "merged"):
        t = LakeTable.create(spark, str(tmp_path / name), SCHEMA,
                             key_cols=["repo", "path"], num_buckets=2)
        BatchApplier(t).apply(_mk_batch(spark, seed_rows, []), batch_id=0)
        out.append(t)
    return out


def test_ddl_only_batch_runs_one_job_and_commits_like_merge_path(
        spark, tmp_path, spark_jobs):
    seed = [(g, f"r{g % 3}", f"p{g}", f"c{g}") for g in range(1, 10)]
    t, twin = _twin_tables(spark, tmp_path, seed)
    ddls = [
        (10, "TRUNCATE TABLE repos.files"),
        (11, "ALTER TABLE repos.files ADD COLUMN stars INT"),
        (12, "ALTER TABLE repos.files RENAME COLUMN content TO body"),
        (13, "ALTER TABLE repos.files ADD COLUMN lang VARCHAR(8)"),
    ]
    batch = _mk_batch(spark, [], ddls).cache()
    batch.count()
    props = {"last_complete_batch": "1"}
    with spark_jobs() as jobs:
        m = BatchApplier(t).apply(batch, batch_id=1, final_extra_props=props)
    assert len(jobs) == 1  # the DDL scan; no segment ran a job
    m_twin = _merge_path_apply(BatchApplier(twin), batch, 1, final_extra_props=props)
    assert m == m_twin
    assert m["segments"] == 4 and m["ddl_applied"] == 4
    assert _versions(t) == _versions(twin)
    hist = t.history()
    # one empty commit per segment, sub-ids batch 1 * 1024 + (0, 2, 4, 6)
    assert [h["last_batch_id"] for h in hist if h["last_batch_id"] >= 1024] \
        == [1024, 1024, 1026, 1026, 1028, 1028, 1030]
    assert t.truncate_gtid == 10
    assert t.watermark_gtid == 9  # no DML: unchanged
    assert t.snapshot.properties["last_complete_batch"] == "1"
    assert [c.name for c in t.snapshot.columns] == ["repo", "path", "body", "stars", "lang"]
    assert _rows(t) == _rows(twin) == []
    batch.unpersist()


def test_back_to_back_alters_write_no_middle_segment(spark, tmp_path):
    seed = [(1, "r0", "p0", "c0")]
    t, twin = _twin_tables(spark, tmp_path, seed)
    rows = ([(g, f"r{g % 3}", f"p{g % 4}", f"c{g}") for g in range(2, 6)]
            + [(g, f"r{g % 3}", f"p{g % 4}", f"c{g}") for g in range(8, 12)])
    ddls = [(6, "ALTER TABLE repos.files ADD COLUMN stars INT"),
            (7, "ALTER TABLE repos.files ADD COLUMN lang VARCHAR(8)")]
    batch = _mk_batch(spark, rows, ddls)
    before = _data_dirs(t)
    m = BatchApplier(t).apply(batch, batch_id=1)
    # two DML segments wrote data; the (6, 7) segment committed none
    assert len(_data_dirs(t)) == len(before) + 2
    m_twin = _merge_path_apply(BatchApplier(twin), batch, 1)
    assert m == m_twin and m["segments"] == 3
    assert m["rows_inserted"] == len(rows)
    assert _versions(t) == _versions(twin)
    assert _rows(t) == _rows(twin)


def test_segment_below_truncate_floor_is_elided(spark, tmp_path):
    seed = [(1, "r0", "p0", "c0")]
    t, twin = _twin_tables(spark, tmp_path, seed)
    rows = [(g, f"r{g}", f"p{g}", f"c{g}") for g in (2, 3, 4, 7, 8, 10, 11, 12)]
    ddls = [(5, "ALTER TABLE repos.files ADD COLUMN stars INT"),
            (9, "TRUNCATE TABLE repos.files")]
    batch = _mk_batch(spark, rows, ddls)
    before = _data_dirs(t)
    m = BatchApplier(t).apply(batch, batch_id=1)
    # the segment before the ALTER lies wholly below the TRUNCATE at 9:
    # only the segment after it (gtids 10..12) writes data
    assert len(_data_dirs(t)) == len(before) + 1
    m_twin = _merge_path_apply(BatchApplier(twin), batch, 1)
    assert m == m_twin and m["segments"] == 2 and m["rows_inserted"] == 3
    assert _versions(t) == _versions(twin)
    assert _rows(t) == _rows(twin)
    assert {r["path"] for r in t.read().collect()} == {"p10", "p11", "p12"}


_CRASH_ROWS = ([(g, f"r{g % 2}", f"p{g}", f"c{g}") for g in range(1, 5)]
               + [(g, f"r{g % 2}", f"p{g % 6}", f"c{g}") for g in range(8, 12)])


def _crash_and_replay(spark, tmp_path, monkeypatch, ddls, cls, method,
                      fail_on_call, resume):
    """Apply DML 1-4 | ``ddls`` at gtids 5-7 | DML 8-11, raising from the
    ``fail_on_call``-th call of ``cls.method``; replay the same batch_id
    and check it converges to an uninterrupted apply — same columns and
    column ids, same rows, every change row written once."""
    batch = _mk_batch(spark, _CRASH_ROWS, list(zip((5, 6, 7), ddls)))

    def mk(name):
        return LakeTable.create(spark, str(tmp_path / name), SCHEMA,
                                key_cols=["repo", "path"], num_buckets=2)

    ref = mk("ref")
    BatchApplier(ref).apply(batch, batch_id=0)

    t = mk("t")
    real = getattr(cls, method)
    calls = {"n": 0}

    def crashing(*a, **kw):
        calls["n"] += 1
        if calls["n"] == fail_on_call:
            raise RuntimeError("injected crash")
        return real(*a, **kw)

    monkeypatch.setattr(cls, method, crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        BatchApplier(t).apply(batch, batch_id=0)
    monkeypatch.setattr(cls, method, real)

    crashed = LakeTable.load(spark, t.root)
    BatchApplier(crashed).apply(batch, batch_id=0, resume_within_batch=resume)
    got = LakeTable.load(spark, t.root)
    assert got.snapshot.columns == ref.snapshot.columns
    assert got.snapshot.key_ids == ref.snapshot.key_ids
    assert _rows(got) == _rows(ref)
    assert got.watermark_gtid == ref.watermark_gtid == 11
    assert got.events_log().count() == ref.events_log().count() == len(_CRASH_ROWS)
    return got


@pytest.mark.parametrize("k,resume", [(1, False), (2, False), (1, True), (2, True)],
                         ids=["1", "2", "1-resume", "2-resume"])
def test_crash_after_kth_alter_replays_to_same_state(
        spark, tmp_path, monkeypatch, k, resume):
    """Back-to-back schema-changing ALTERs put empty segments between
    them; their commits advance last_batch_id past each applied DDL, so a
    replay of the interrupted batch neither re-runs nor skips a DDL. The
    ADD-then-RENAME prefix is not idempotent: re-running it would add a
    second ``stars`` column. A within-batch resume cannot use the sub-ids
    (it continues past the last one) nor the watermark (empty segments do
    not advance it); it skips the DDLs at or below the schema-DDL gtid the
    applied ALTERs recorded."""
    ddls = ["ALTER TABLE repos.files ADD COLUMN stars INT",
            "ALTER TABLE repos.files RENAME COLUMN stars TO rating",
            "ALTER TABLE repos.files DROP COLUMN content"]
    got = _crash_and_replay(spark, tmp_path, monkeypatch, ddls,
                            BatchApplier, "_apply_ddl", k + 1, resume=resume)
    assert [(c.id, c.name) for c in got.snapshot.columns] == [
        (1, "repo"), (2, "path"), (4, "rating")]


@pytest.mark.parametrize("resume", [False, True], ids=["replay", "resume"])
def test_crash_in_final_merge_replays_only_the_final_segment(
        spark, tmp_path, monkeypatch, resume):
    """Once applied, all three ALTERs read as no-ops, so a replay that
    re-planned from the current schema alone would merge gtids 1-7 as one
    live segment and write rows 1-4 again; it keeps the committed
    boundaries and merges only the final segment."""
    ddls = ["ALTER TABLE repos.files ADD COLUMN stars INT",
            "ALTER TABLE repos.files RENAME COLUMN content TO body",
            "ALTER TABLE repos.files DROP COLUMN body"]
    got = _crash_and_replay(spark, tmp_path, monkeypatch, ddls,
                            LakeTable, "merge", 2, resume)
    assert [c.name for c in got.snapshot.columns] == ["repo", "path", "stars"]
