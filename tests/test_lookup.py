"""Bucket-pruned point lookup: one key's read opens only its bucket's
files, under MOR deltas, time travel, and bucket-count evolution."""

import pytest

from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, _op string, _gtid long")


def test_lookup_prunes_to_one_bucket_and_resolves_lww(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=8)
    rows = [(f"r{i}", f"f{i}.py", f"c{i}", "py", f"v{i}", "INSERT", i + 1)
            for i in range(24)]
    t.merge(_batch(spark, rows), batch_id=1, mode="mor")
    t.merge(_batch(spark, [
        ("r3", "f3.py", "c3b", "py", "v3b", "UPDATE", 30),
        ("r5", "f5.py", None, None, None, "DELETE", 31),
    ]), batch_id=2, mode="mor")

    got = t.lookup("r3", "f3.py").collect()
    assert len(got) == 1 and got[0]["content"] == "v3b"
    assert t.lookup("r5", "f5.py").collect() == []      # deleted
    assert t.lookup("rX", "nope.py").collect() == []    # never existed

    # the plan opened ONLY the key's bucket's files
    df = t.lookup("r3", "f3.py")
    target_bucket = {fi["bucket"] for fi in t.snapshot.files
                     if any(p.endswith(fi["path"]) for p in df.inputFiles())}
    assert target_bucket == {next(iter(target_bucket))}  # exactly one bucket
    all_buckets = {fi["bucket"] for fi in t.snapshot.files}
    assert len(all_buckets) > 1  # the prune was non-trivial

    # time travel: pre-update snapshot still answers v3
    v1 = t.snapshot.version - 1
    old = t.lookup("r3", "f3.py", snapshot=t.snapshot_at(v1)).collect()
    assert len(old) == 1 and old[0]["content"] == "v3"

    # bucket evolution: lookup derives the bucket fn from the snapshot
    t.rebucket(3)
    got = t.lookup("r3", "f3.py").collect()
    assert len(got) == 1 and got[0]["content"] == "v3b"
    # and the old snapshot keeps answering under its OWN bucketing
    old = t.lookup("r3", "f3.py", snapshot=t.snapshot_at(v1)).collect()
    assert len(old) == 1 and old[0]["content"] == "v3"


def test_lookup_key_filter_pushes_into_parquet_scans(spark, tmp_path):
    """The key-equality predicate must reach PushedFilters on EVERY scan
    the lookup plan touches — compacted base (clean bucket), dirty base,
    and delta — so compaction's key-sorted files get parquet row-group
    stats pruning, not just a post-scan filter."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=4)
    rows = [(f"r{i % 40}", f"f{i}.py", f"c{i}", "py", f"v{i}", "INSERT", i + 1)
            for i in range(400)]
    t.merge(_batch(spark, rows), batch_id=1, mode="mor")
    t.compact()
    t = LakeTable.load(spark, str(tmp_path / "t"))

    def pushed(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert scans, plan
        return plan, scans

    # clean (fully compacted) bucket: plain scan, no window
    plan, scans = pushed(t.lookup("r3", "f3.py"))
    assert "Window" not in plan
    for ln in scans:
        assert "EqualNullSafe(repo,r3)" in ln and "EqualNullSafe(path,f3.py)" in ln

    # dirty bucket: the predicate commutes through the LWW window into
    # BOTH the base and the delta scans
    t.merge(_batch(spark, [("r3", "f3.py", "c3b", "py", "v3b", "UPDATE", 9001)]),
            batch_id=2, mode="mor")
    plan, scans = pushed(t.lookup("r3", "f3.py"))
    assert "Window" in plan and len(scans) >= 2
    for ln in scans:
        assert "EqualNullSafe(repo,r3)" in ln and "EqualNullSafe(path,f3.py)" in ln


def test_lookup_many_batch_point_read(spark, tmp_path):
    """lookup_many: k keys in ONE plan — union-bucket prune, membership
    pushdown, and an exact semi-join that must NOT return the
    cross-products per-column isin over-selects."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=8)
    rows = [(f"r{i}", f"f{i}.py", f"c{i}", "py", f"v{i}", "INSERT", i + 1)
            for i in range(40)]
    # cross-product traps: (a, x) and (b, y) exist; we probe (a, y), (b, x)
    rows += [("a", "x.py", "cx", "py", "vx", "INSERT", 100),
             ("b", "y.py", "cy", "py", "vy", "INSERT", 101)]
    t.merge(_batch(spark, rows), batch_id=1, mode="mor")
    t.merge(_batch(spark, [
        ("r3", "f3.py", "c3b", "py", "v3b", "UPDATE", 200),
        ("r5", "f5.py", None, None, None, "DELETE", 201),
    ]), batch_id=2, mode="mor")

    probe = [("r3", "f3.py"), ("r5", "f5.py"), ("r7", "f7.py"),
             ("rX", "nope.py"), ("a", "y.py"), ("b", "x.py")]
    got = {(r["repo"], r["path"]): r["content"]
           for r in t.lookup_many(probe).collect()}
    # updated key resolves LWW, deleted/absent keys return nothing, and
    # the cross-products (a,y)/(b,x) are NOT fabricated from (a,x)/(b,y)
    assert got == {("r3", "f3.py"): "v3b", ("r7", "f7.py"): "v7"}

    # the scan opened ONLY the probed keys' buckets (strict subset)
    df = t.lookup_many(probe)
    opened = {fi["bucket"] for fi in t.snapshot.files
              if any(p.endswith(fi["path"]) for p in df.inputFiles())}
    all_buckets = {fi["bucket"] for fi in t.snapshot.files}
    assert opened and opened < all_buckets

    # empty probe set and wrong arity are explicit
    assert t.lookup_many([]).collect() == []
    with pytest.raises(ValueError, match="expected 2 key values"):
        t.lookup_many([("only-one",)])

    # agreement with k single lookups on a larger sample
    sample = [(f"r{i}", f"f{i}.py") for i in range(0, 40, 3)]
    single = sorted(
        tuple(r) for k in sample for r in t.lookup(*k).collect())
    batch = sorted(tuple(r) for r in t.lookup_many(sample).collect())
    assert single == batch


def test_lookup_many_membership_pushes_into_scans(spark, tmp_path):
    """The capped membership condition must reach PushedFilters as In
    (or EqualTo for a single value after Catalyst folding) on every scan
    of the batch-lookup plan — through the LWW window on dirty buckets —
    so file stats and bloom_keys blooms can prune row groups."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=4)
    rows = [(f"r{i % 20}", f"f{i}.py", f"c{i}", "py", f"v{i}", "INSERT", i + 1)
            for i in range(200)]
    t.merge(_batch(spark, rows), batch_id=1, mode="mor")
    t.merge(_batch(spark, [
        ("r3", "f3.py", "c3b", "py", "v3b", "UPDATE", 900)]),
        batch_id=2, mode="mor")

    df = t.lookup_many([("r3", "f3.py"), ("r7", "f7.py"), ("r11", "f11.py")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scans, plan
    # a single probed value folds isin -> EqualTo in the plan (gotcha
    # pinned in the keyset work) — assert either spelling per column
    for ln in scans:
        assert ("In(repo" in ln or "EqualTo(repo" in ln), ln
        assert ("In(path" in ln or "EqualTo(path" in ln), ln
    assert "Window" in plan  # the dirty bucket resolves LWW; filters still pushed


def _two_batch_table(spark, tmp_path):
    """r0..r23 inserted in one MOR commit, then r3 updated (v3 -> v3b)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=8)
    t.merge(_batch(spark, [(f"r{i}", f"f{i}.py", f"c{i}", "py", f"v{i}",
                            "INSERT", i + 1) for i in range(24)]),
            batch_id=1, mode="mor")
    t.merge(_batch(spark, [("r3", "f3.py", "c3b", "py", "v3b", "UPDATE", 30)]),
            batch_id=2, mode="mor")
    return t


def test_lookup_reuses_the_bucket_plan(spark, tmp_path, monkeypatch):
    """A second lookup on the same snapshot bucket builds no read plan:
    only the key filter is new, and it still answers each key."""
    t = _two_batch_table(spark, tmp_path)
    keys = [(f"r{i}", f"f{i}.py") for i in range(24)]
    buckets = t.key_buckets(keys)
    b = buckets[3]
    peer = next(k for k, kb in zip(keys, buckets) if kb == b and k != keys[3])
    assert t.lookup("r3", "f3.py", bucket=b).collect()[0]["content"] == "v3b"

    calls = []
    read_mapped = LakeTable._read_mapped

    def counting(self, *args, **kwargs):
        calls.append(args)
        return read_mapped(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_read_mapped", counting)
    assert t.lookup("r3", "f3.py", bucket=b).collect()[0]["content"] == "v3b"
    got = t.lookup(*peer).collect()
    assert [r["content"] for r in got] == [f"v{peer[0][1:]}"]
    assert calls == []
    # include_meta is another plan
    meta = t.lookup("r3", "f3.py", bucket=b, include_meta=True).collect()
    assert calls and meta[0]["_gtid"] == 30


def _commit(t, spark):
    t.merge(_batch(spark, [("r3", "f3.py", "c3c", "py", "v3c", "UPDATE", 40)]),
            batch_id=3, mode="mor")
    return {}, lambda rows: [r["content"] for r in rows] == ["v3c"]


def _add_column(t, spark):
    t.add_column("stars", "int")
    return {}, lambda rows: (len(rows) == 1 and rows[0]["stars"] is None
                             and rows[0]["content"] == "v3b")


def _rename_column(t, spark):
    t.rename_column("content", "body")
    return {}, lambda rows: [r["body"] for r in rows] == ["v3b"]


def _drop_column(t, spark):
    t.drop_column("lang")
    return {}, lambda rows: (len(rows) == 1 and "lang" not in rows[0].asDict()
                             and rows[0]["content"] == "v3b")


def _truncate(t, spark):
    t.truncate()
    return {}, lambda rows: rows == []


def _time_travel(t, spark):
    return ({"snapshot": t.snapshot_at(t.snapshot.version - 1)},
            lambda rows: [r["content"] for r in rows] == ["v3"])


def _sub_snapshot(t, spark):
    # the head version without the update's delta file
    first = {fi["path"] for fi in t.snapshot_at(t.snapshot.version - 1).files}
    sub = t.snapshot.sub([fi for fi in t.snapshot.files if fi["path"] in first])
    assert sub.version == t.snapshot.version
    return {"snapshot": sub}, lambda rows: [r["content"] for r in rows] == ["v3"]


def _branch(t, spark):
    # the branch and main each commit one version past the fork, so both
    # snapshots share a version number and differ in files
    bt = t.create_branch("audit")
    bt.merge(_batch(spark, [("r3", "f3.py", "cb", "py", "v3-branch", "UPDATE", 50)]),
             batch_id=3, mode="mor")
    t.merge(_batch(spark, [("r3", "f3.py", "cm", "py", "v3-main", "UPDATE", 51)]),
            batch_id=3, mode="mor")
    assert bt.snapshot.version == t.snapshot.version
    assert [r["content"] for r in t.lookup("r3", "f3.py").collect()] == ["v3-main"]
    return ({"snapshot": bt.snapshot},
            lambda rows: [r["content"] for r in rows] == ["v3-branch"])


@pytest.mark.parametrize("change", [
    _commit, _add_column, _rename_column, _drop_column, _truncate,
    _time_travel, _sub_snapshot, _branch,
], ids=lambda f: f.__name__.strip("_"))
def test_lookup_never_returns_a_stale_plan(spark, tmp_path, change):
    """After a lookup fills the plan memo, a new commit, an ALTER, a
    TRUNCATE, time travel, a sub-snapshot of the same version and a
    branch each answer from their own snapshot."""
    t = _two_batch_table(spark, tmp_path)
    assert [r["content"] for r in t.lookup("r3", "f3.py").collect()] == ["v3b"]
    kwargs, ok = change(t, spark)
    rows = t.lookup("r3", "f3.py", **kwargs).collect()
    assert ok(rows), rows
