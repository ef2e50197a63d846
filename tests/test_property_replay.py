"""Seeded randomized replay properties (the reference's randomized
bean_test style, lifted to end-to-end replay): for several seeds and
stream shapes, engine final state == oracle; random split points resume
correctly; random re-application converges."""

import pytest
from pyspark.sql import functions as F

from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import synthetic_changestream
from th2_listener_mysql_binlog_go_spark.streaming import runner as runner_mod
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


# seed, n_events, n_repos, n_paths, truncate_per_10k, buckets, span
CASES = [
    (7, 1500, 3, 5, 0, 2, 400),        # tiny keyspace: heavy per-key churn
    (11, 2500, 100, 300, 50, 16, 500), # truncate-dense
    (13, 2000, 40, 60, 5, 8, 123),     # odd span -> ragged batch boundaries
    (17, 1800, 1, 10, 10, 4, 1800),    # single hot repo, one batch
]


@pytest.mark.parametrize("seed,n,nr,np_,t10k,buckets,span", CASES)
def test_randomized_replay_matches_oracle(spark, tmp_path, seed, n, nr, np_, t10k, buckets, span):
    stream = synthetic_changestream(
        spark, n, n_repos=nr, n_paths=np_, seed=seed,
        truncate_per_10k=t10k, with_truncate=t10k > 0,
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=buckets)
    runner = ReplayRunner(spark, table, batch_span=span)
    runner.run(stream)
    expected = state_fingerprint(replay_oracle(_events(stream)))
    got = df_fingerprint([r.asDict() for r in table.read().collect()])
    assert got == expected

    # random split-point resume: fresh table, stop early, resume, same state
    table2 = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA, ["repo", "path"], num_buckets=buckets)
    r2 = ReplayRunner(spark, table2, batch_span=span)
    r2.run(stream, max_batches=1 + seed % 3)
    ReplayRunner(spark, LakeTable.load(spark, table2.root), batch_span=span).run(stream)
    got2 = df_fingerprint([r.asDict() for r in LakeTable.load(spark, table2.root).read().collect()])
    assert got2 == expected


def test_random_partial_reapplication_converges(spark, tmp_path):
    """Apply overlapping gtid windows out of an at-least-once source:
    watermark + sub-batch guards must still converge exactly once."""
    stream = synthetic_changestream(spark, 1200, n_repos=10, n_paths=20, seed=23,
                                    with_truncate=False)
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    runner = ReplayRunner(spark, table, batch_span=300)
    runner.run(stream.filter(F.col("gtid") < 700))          # batches 0,1 + partial 2
    runner.run(stream)                                       # full replay over the top
    runner.run(stream.filter(F.col("gtid") >= 300))          # suffix replay
    expected = state_fingerprint(replay_oracle(_events(stream)))
    got = df_fingerprint([r.asDict() for r in table.read().collect()])
    assert got == expected


def test_windowed_ddl_prescan_bounded_and_equivalent(spark, tmp_path, monkeypatch):
    """Driver-bounded prescan (round-2 review #4): a dense-DDL replay with
    PRESCAN_WINDOW=2 must (a) never hold more than the window's worth of
    DDL rows in one collect and (b) converge to the same state as an
    effectively-unwindowed run — across both sequential and pipelined
    modes."""
    stream = synthetic_changestream(spark, 4000, n_repos=40, n_paths=80,
                                    truncate_per_10k=60)  # dense TRUNCATEs
    n_ddl = stream.filter(F.col("op") == "TRUNCATE").count()
    assert n_ddl >= 10  # genuinely dense

    fps = {}
    for name, window, depth in (("wide", 10_000, 1), ("narrow", 2, 1),
                                ("narrow_pipe", 2, 3)):
        t = LakeTable.create(spark, str(tmp_path / name),
                             [("repo", "string"), ("path", "string"),
                              ("commit", "string"), ("lang", "string"),
                              ("content", "string")],
                             ["repo", "path"], num_buckets=4)
        monkeypatch.setattr(runner_mod, "PRESCAN_WINDOW", window)
        runner = ReplayRunner(spark, t, batch_span=250, pipeline_depth=depth)
        runner.run(stream)
        fps[name] = df_fingerprint([r.asDict() for r in t.read().collect()])
        if name == "wide":
            assert runner.max_prescan_rows >= n_ddl  # one collect held all
        else:
            # 16 batches / window 2 -> each collect holds ~1/8 of the DDL
            assert 0 < runner.max_prescan_rows < n_ddl
    assert fps["wide"] == fps["narrow"] == fps["narrow_pipe"]
