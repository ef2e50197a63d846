"""Cross-mode and maintenance coverage: CoW-mode end-to-end replay equals
the oracle; compaction physically drops truncated/dead rows and preserves
state; MOR and CoW replays of the same stream converge identically."""

import os

from pyspark.sql import functions as F

from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import synthetic_changestream
from th2_listener_mysql_binlog_go_spark.streaming.runner import ReplayRunner

from .oracle import df_fingerprint, replay_oracle, state_fingerprint

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def _events(df):
    return [
        {
            "gtid": r["gtid"], "op": r["op"], "table_name": r["table_name"],
            "before": r["before"].asDict() if r["before"] else None,
            "after": r["after"].asDict() if r["after"] else None,
        }
        for r in df.collect()
    ]


def test_cow_mode_replay_matches_oracle_and_mor(spark, tmp_path):
    stream = synthetic_changestream(spark, 2500, n_repos=30, n_paths=60, truncate_per_10k=15)
    expected = state_fingerprint(replay_oracle(_events(stream)))

    cow = LakeTable.create(spark, str(tmp_path / "cow"), SCHEMA, ["repo", "path"], num_buckets=8)
    ReplayRunner(spark, cow, batch_span=700,
                 config=ApplyConfig(merge_mode="cow")).run(stream)
    assert df_fingerprint([r.asDict() for r in cow.read().collect()]) == expected
    # CoW leaves no delta files
    assert all(f.get("kind", "base") == "base" for f in cow.snapshot.files)

    mor = LakeTable.create(spark, str(tmp_path / "mor"), SCHEMA, ["repo", "path"], num_buckets=8)
    ReplayRunner(spark, mor, batch_span=700,
                 config=ApplyConfig(merge_mode="mor")).run(stream)
    assert df_fingerprint([r.asDict() for r in mor.read().collect()]) == expected


def test_compaction_drops_dead_rows_and_preserves_state(spark, tmp_path):
    stream = synthetic_changestream(spark, 2000, n_repos=20, n_paths=40, truncate_per_10k=20)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    ReplayRunner(spark, t, batch_span=500).run(stream)
    before = df_fingerprint([r.asDict() for r in t.read().collect()])
    n_live = t.read().count()

    n_delta_files = sum(1 for f in t.snapshot.files if f.get("kind") == "delta")
    assert n_delta_files > 0  # MOR replay accumulated deltas

    t.compact()
    assert all(f.get("kind", "base") == "base" for f in t.snapshot.files)
    # physical rows on disk == live rows (tombstones + superseded versions
    # + truncated rows are gone)
    import pyarrow.parquet as pq
    physical = sum(
        pq.ParquetFile(os.path.join(t.root, f["path"])).metadata.num_rows
        for f in t.snapshot.files
    )
    assert physical == n_live
    assert df_fingerprint([r.asDict() for r in t.read().collect()]) == before

    # reload from disk: compacted state survives the metadata round-trip
    t2 = LakeTable.load(spark, t.root)
    assert df_fingerprint([r.asDict() for r in t2.read().collect()]) == before


def test_rebucket_mid_replay_preserves_state_and_layout(spark, tmp_path):
    """Bucket-count evolution: replay half the stream into a 4-bucket
    table, rebucket to 16 in one maintenance commit, replay the rest —
    final state must hash-equal an uninterrupted replay, every post-
    rebucket file must sit in a 16-bucket layout, and merges/compaction
    must honor the new bucket function."""
    stream = synthetic_changestream(spark, 4000, n_repos=40, n_paths=80,
                                    truncate_per_10k=5)

    t_ref = LakeTable.create(spark, str(tmp_path / "ref"), SCHEMA,
                             ["repo", "path"], num_buckets=4)
    ReplayRunner(spark, t_ref, batch_span=1000).run(stream)
    expected = df_fingerprint([r.asDict() for r in t_ref.read().collect()])

    t = LakeTable.create(spark, str(tmp_path / "evo"), SCHEMA,
                         ["repo", "path"], num_buckets=4)
    ReplayRunner(spark, t, batch_span=1000).run(stream, max_batches=2)
    assert t.rebucket(16, files_per_bucket=2) == 16
    assert t.snapshot.num_buckets == 16
    # rewrite placed every row in its new-function bucket
    buckets = {fi["bucket"] for fi in t.snapshot.files}
    assert buckets <= set(range(16)) and len(buckets) > 4

    ReplayRunner(spark, t, batch_span=1000).run(stream)
    t.compact(files_per_bucket=2)
    assert df_fingerprint([r.asDict() for r in t.read().collect()]) == expected
    # post-rebucket merges wrote under the 16-bucket function too
    assert {fi["bucket"] for fi in t.snapshot.files} <= set(range(16))
    # reload from disk: the evolved layout survives the metadata round-trip
    t2 = LakeTable.load(spark, t.root)
    assert t2.snapshot.num_buckets == 16
    assert df_fingerprint([r.asDict() for r in t2.read().collect()]) == expected


def test_compact_is_idempotent(spark, tmp_path):
    """compact() right after compact() must be a no-op — a prior compact's
    multi-file buckets (salt fan-out) are a fixed point, not dirt."""
    stream = synthetic_changestream(spark, 2000, n_repos=20, n_paths=40,
                                    truncate_per_10k=0)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=4)
    cfg = ApplyConfig(files_per_bucket=3, auto_compact_deltas=None)
    ReplayRunner(spark, t, batch_span=500, config=cfg).run(stream)
    before = df_fingerprint([r.asDict() for r in t.read().collect()])
    assert t.compact(files_per_bucket=3) > 0      # real work: folds deltas
    v = t.snapshot.version
    assert t.compact(files_per_bucket=3) == 0     # fixed point
    assert t.compact(files_per_bucket=1) == 0     # even at a smaller target
    assert t.snapshot.version == v                # no snapshot churn
    assert df_fingerprint([r.asDict() for r in t.read().collect()]) == before


def test_expire_vacuum_and_concurrent_commit_guard(spark, tmp_path):
    """Snapshot expiry + orphan vacuum (Iceberg expire_snapshots /
    remove_orphan_files analogues) and the optimistic-concurrency HEAD
    guard."""
    import os

    from th2_listener_mysql_binlog_go_spark.plans.lake import ConcurrentCommitError

    stream = synthetic_changestream(spark, 2000, n_repos=20, n_paths=40,
                                    truncate_per_10k=0)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], num_buckets=4)
    ReplayRunner(spark, t, batch_span=500,
                 config=ApplyConfig(auto_compact_deltas=None)).run(stream)
    t.compact()  # supersedes every delta file
    before = df_fingerprint([r.asDict() for r in t.read().collect()])
    # plant an orphan (a crashed writer's unreachable file)
    orphan = os.path.join(t.root, "data", "sdeadbeef", "part-orphan.parquet")
    os.makedirs(os.path.dirname(orphan))
    open(orphan, "wb").write(b"not really parquet")

    n_files_live = len(t.snapshot.files)
    assert t.expire_snapshots(keep_last=1) >= 4    # one snapshot per batch + compact
    # default 3-day grace window (Iceberg remove_orphan_files style): the
    # just-written orphan is YOUNG and must survive — a live pipelined
    # writer's staged-but-uncommitted dirs look exactly like this orphan
    assert t.vacuum() == 0
    assert os.path.exists(orphan)
    # exclusive-access vacuum (older_than_s=0) reclaims everything
    removed = t.vacuum(older_than_s=0)
    assert removed >= 1                            # the orphan + expired deltas
    assert not os.path.exists(orphan)
    # all live files intact; state unchanged; reload works
    assert len(t.snapshot.files) == n_files_live
    t2 = LakeTable.load(spark, t.root)
    assert df_fingerprint([r.asDict() for r in t2.read().collect()]) == before

    # optimistic concurrency: a second handle commits; the stale handle's
    # next commit must fail loudly instead of silently losing the update
    stale = LakeTable.load(spark, t.root)
    t2.set_properties({"winner": "t2"})
    try:
        stale.set_properties({"winner": "stale"})
        raise AssertionError("expected ConcurrentCommitError")
    except ConcurrentCommitError:
        pass
    assert LakeTable.load(spark, t.root).snapshot.properties["winner"] == "t2"


def test_snapshot_metadata_stays_bounded(spark, tmp_path):
    """Round-3 review #6: each commit serializes the full files list, so
    the list must stay BOUNDED under the default auto-compaction policy —
    <= buckets*fpb base files + ~8 batches' worth of deltas — regardless
    of how many batches have ever committed, keeping per-commit metadata
    KB-scale (the measured bound documented in docs/PLANS.md; a two-level
    manifest is the upgrade path if buckets*fpb ever makes this MB-scale)."""
    import json as _json

    stream = synthetic_changestream(spark, 6000, n_repos=20, n_paths=40,
                                    truncate_per_10k=0)
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"],
                         num_buckets=4)
    fpb = 2
    ReplayRunner(spark, t, batch_span=200,          # 30 batches
                 config=ApplyConfig(files_per_bucket=fpb,
                                    auto_compact_deltas="auto")).run(stream)
    buckets = t.snapshot.num_buckets
    bound = buckets * fpb + 9 * buckets * fpb       # base + auto threshold + 1 batch
    assert len(t.snapshot.files) <= bound, (len(t.snapshot.files), bound)
    head = os.path.join(t.root, "_meta", "HEAD")
    snap_file = os.path.join(t.root, "_meta", open(head).read().strip())
    size = os.path.getsize(snap_file)
    assert size < 64 * 1024                          # KB-scale snapshot JSON
    # and the bound is a fixed point: another 30 batches don't grow it
    more = synthetic_changestream(spark, 6000, n_repos=20, n_paths=40,
                                  truncate_per_10k=0).withColumn(
        "gtid", F.col("gtid") + 6000)
    ReplayRunner(spark, t, batch_span=200,
                 config=ApplyConfig(files_per_bucket=fpb,
                                    auto_compact_deltas="auto")).run(more)
    assert len(t.snapshot.files) <= bound


def test_compact_sort_by_clusters_files_without_extra_exchange(spark, tmp_path):
    """compact(sort_by=[...]): each written file's rows are clustered by
    the sort columns (row-group min/max pruning at real file sizes), the
    final state is unchanged, the plan gains NO extra exchange, and the
    durable compact_sort_by property drives later compactions."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        [("repo", "string"), ("path", "string"), ("lang", "string"),
         ("content", "string")],
        ["repo", "path"], num_buckets=4)
    rows = [(f"r{i % 7}", f"f{i}", ["py", "go", "rs"][i % 3], f"v{i}",
             "INSERT", i + 1) for i in range(300)]
    t.merge(spark.createDataFrame(
        rows, "repo string, path string, lang string, content string, "
              "_op string, _gtid long"), batch_id=1, mode="mor")
    before = sorted([tuple(r) for r in t.read().collect()])

    n = t.compact(sort_by=["lang"])
    assert n > 0
    t2 = LakeTable.load(spark, str(tmp_path / "t"))
    assert sorted([tuple(r) for r in t2.read().collect()]) == before

    # every data file is clustered: langs appear in runs, not interleaved
    import os as _os
    files = [fi for fi in t2.snapshot.files]
    assert files
    for fi in files:
        langs = pq.read_table(_os.path.join(str(tmp_path / "t"), fi["path"]),
                              columns=["lang"])["lang"].to_pylist()
        runs = 1 + sum(1 for a, b in zip(langs, langs[1:]) if a != b)
        assert runs <= 3, (fi["path"], runs)  # one run per distinct lang

    # unknown column rejected
    try:
        t2.compact(sort_by=["nope"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass

    # the sort adds NO exchange: identical job/stage counts for a
    # sorted vs plain compaction of identical fresh tables
    def _compact_stages(root, sb):
        tt = LakeTable.create(
            spark, root,
            [("repo", "string"), ("path", "string"), ("lang", "string"),
             ("content", "string")], ["repo", "path"], num_buckets=4)
        tt.merge(spark.createDataFrame(
            rows, "repo string, path string, lang string, content string, "
                  "_op string, _gtid long"), batch_id=1, mode="mor")
        tr0 = spark.sparkContext.statusTracker()
        before_jobs = set(tr0.getJobIdsForGroup(None) or [])
        tt.compact(sort_by=sb)
        tr = spark.sparkContext.statusTracker()
        jobs = [j for j in (tr.getJobIdsForGroup(None) or [])
                if j not in before_jobs]
        return sum(len(tr.getJobInfo(j).stageIds) for j in jobs
                   if tr.getJobInfo(j))
    assert (_compact_stages(str(tmp_path / "p1"), None)
            == _compact_stages(str(tmp_path / "p2"), ["lang"]))

    # durable policy: the property drives a later compaction
    t2.set_properties({"compact_sort_by": "lang"})
    t2.merge(spark.createDataFrame(
        [("r1", "f1", "go", "v1b", "UPDATE", 1000)],
        "repo string, path string, lang string, content string, "
        "_op string, _gtid long"), batch_id=2, mode="mor")
    t3 = LakeTable.load(spark, str(tmp_path / "t"))
    assert t3.compact() > 0
    t4 = LakeTable.load(spark, str(tmp_path / "t"))
    got = {(r["repo"], r["path"]): r["lang"] for r in t4.read().collect()}
    assert got[("r1", "f1")] == "go"


def test_compact_sort_by_property_hygiene(spark, tmp_path):
    """A durable compact_sort_by property with whitespace or stale
    (dropped/unknown) columns must not brick auto-compaction inside
    merge(): property-sourced names are stripped and unknown ones
    skipped; an explicit sort_by=[] overrides the property with 'no
    clustering' (the CLI's --sort-by none)."""
    from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        [("repo", "string"), ("path", "string"), ("lang", "string")],
        ["repo", "path"], num_buckets=2)
    rows = [(f"r{i % 3}", f"f{i}", ["py", "go"][i % 2], "INSERT", i + 1)
            for i in range(40)]
    t.merge(spark.createDataFrame(
        rows, "repo string, path string, lang string, _op string, _gtid long"),
        batch_id=1, mode="mor")
    before = sorted([tuple(r) for r in t.read().collect()])

    # " lang , nope " → strip, keep lang, skip unknown 'nope' — no raise
    t.set_properties({"compact_sort_by": " lang , nope "})
    assert t.compact() > 0
    assert sorted([tuple(r) for r in t.read().collect()]) == before

    # explicit [] (CLI --sort-by none) overrides the property: no raise,
    # state unchanged, and the explicit-path validation stays strict
    t.merge(spark.createDataFrame(
        [("r0", "f0", "rs", "UPDATE", 1000)],
        "repo string, path string, lang string, _op string, _gtid long"),
        batch_id=2, mode="mor")
    assert t.compact(sort_by=[]) > 0
    try:
        t.compact(sort_by=["nope"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
