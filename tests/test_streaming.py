"""Structured Streaming shell: drain a change-event directory via
foreachBatch, converge to the oracle state, then resume after new files."""

import os
import threading
import time

from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import (
    CHANGE_SCHEMA,
    synthetic_changestream,
)
from th2_listener_mysql_binlog_go_spark.streaming.structured import (
    StreamingApplier,
    StreamingCatalogApplier,
)

from .oracle import df_fingerprint, replay_oracle, state_fingerprint

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def _oracle_events(stream_df):
    return [
        {
            "gtid": r["gtid"], "op": r["op"], "table_name": r["table_name"],
            "before": r["before"].asDict() if r["before"] else None,
            "after": r["after"].asDict() if r["after"] else None,
        }
        for r in stream_df.collect()
    ]


def test_streaming_drain_and_resume(spark, tmp_path):
    src = str(tmp_path / "events")
    full = synthetic_changestream(spark, 3000, n_repos=40, n_paths=60, truncate_per_10k=20)
    # stage 1: first 2000 events land as files
    full.filter("gtid < 2000").repartition(4).write.parquet(src)

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=8)
    sa = StreamingApplier(spark, table, lineage_dir=str(tmp_path / "lin"))
    q = sa.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA, available_now=True,
                 max_files_per_trigger=2)
    q.awaitTermination(300)
    part1 = state_fingerprint(replay_oracle(_oracle_events(full.filter("gtid < 2000"))))
    got1 = df_fingerprint([r.asDict() for r in table.read().collect()])
    assert got1 == part1

    # stage 2: more binlog segments arrive; restart from checkpoint
    full.filter("gtid >= 2000").repartition(2).write.mode("append").parquet(src)
    table2 = LakeTable.load(spark, table.root)
    sa2 = StreamingApplier(spark, table2, lineage_dir=str(tmp_path / "lin"))
    q2 = sa2.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA, available_now=True)
    q2.awaitTermination(300)
    expected = state_fingerprint(replay_oracle(_oracle_events(full)))
    got = df_fingerprint([r.asDict() for r in LakeTable.load(spark, table.root).read().collect()])
    assert got == expected
    assert os.path.exists(str(tmp_path / "lin"))


def test_wire_stream_drain_and_resume(spark, tmp_path):
    """Streaming ingest of the PUBLISHED wire format (serialized bean JSON,
    listener.go:296-315): encode the change stream to JSON-lines payload
    files, drain via readStream -> decode_stream -> foreachBatch, converge
    to the oracle; then new payload files arrive and a restart from the
    same checkpoint applies only them (exactly-once across the resume)."""
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import encode_stream
    from th2_listener_mysql_binlog_go_spark.streaming.structured import StreamingWireApplier

    src = str(tmp_path / "wire")
    full = synthetic_changestream(spark, 3000, n_repos=40, n_paths=60, truncate_per_10k=20)
    encode_stream(full.filter("gtid < 2000")).repartition(4).write.json(src)

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=8)
    wa = StreamingWireApplier(spark, table, lineage_dir=str(tmp_path / "lin"))
    q = wa.start(src, str(tmp_path / "ckpt"), available_now=True, max_files_per_trigger=2)
    q.awaitTermination(300)
    part1 = state_fingerprint(replay_oracle(_oracle_events(full.filter("gtid < 2000"))))
    got1 = df_fingerprint([r.asDict() for r in table.read().collect()])
    assert got1 == part1

    # more queue payloads arrive; restart from the checkpoint
    encode_stream(full.filter("gtid >= 2000")).repartition(2).write.mode("append").json(src)
    table2 = LakeTable.load(spark, table.root)
    wa2 = StreamingWireApplier(spark, table2, lineage_dir=str(tmp_path / "lin"))
    q2 = wa2.start(src, str(tmp_path / "ckpt"), available_now=True)
    q2.awaitTermination(300)
    expected = state_fingerprint(replay_oracle(_oracle_events(full)))
    got = df_fingerprint([r.asDict() for r in LakeTable.load(spark, table.root).read().collect()])
    assert got == expected


def test_streaming_catalog_multitable_drain(spark, tmp_path):
    """Multi-table streaming shell: one foreachBatch drain routes to both
    observed tables and converges each to its per-table oracle."""
    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
    from th2_listener_mysql_binlog_go_spark.plans.catalog import LakeCatalog

    src = str(tmp_path / "events")
    full = synthetic_changestream(spark, 2000, n_repos=30, n_paths=50, truncate_per_10k=20)
    full.repartition(4).write.parquet(src)

    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    for t in ("files", "shadow_table"):
        cat.create_table("repos", t, SCHEMA, ["repo", "path"], num_buckets=4)
    cfg = ApplyConfig(observed={"repos": ["files", "shadow_table"]}, num_buckets=4)
    sca = StreamingCatalogApplier(spark, cat, config=cfg, lineage_dir=str(tmp_path / "lin"))
    q = sca.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA, available_now=True,
                  max_files_per_trigger=2)
    q.awaitTermination(300)

    evs = _oracle_events(full)
    for t in ("files", "shadow_table"):
        expected = state_fingerprint(replay_oracle(evs, observed_tables={t}))
        got = df_fingerprint([r.asDict() for r in cat.get("repos", t).read().collect()])
        assert got == expected, t
    lin = spark.read.parquet(str(tmp_path / "lin"))
    assert {r["table_name"] for r in lin.select("table_name").distinct().collect()} == \
        {"repos.files", "repos.shadow_table"}


def test_wire_catalog_multitable_drain(spark, tmp_path):
    """Multi-table consumer of the published wire format: one decode pass
    feeds the catalog fan-out; both observed tables converge to their
    per-table oracles."""
    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
    from th2_listener_mysql_binlog_go_spark.plans.catalog import LakeCatalog
    from th2_listener_mysql_binlog_go_spark.sources.changestream import (
        DERIVED_MULTI_STREAM_SQL,  # noqa: F401  (documents the driver analogue)
    )
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import encode_stream
    from th2_listener_mysql_binlog_go_spark.streaming.structured import (
        StreamingWireCatalogApplier,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "wire")
    full = synthetic_changestream(spark, 2000, n_repos=30, n_paths=50,
                                  truncate_per_10k=20)
    # route half the DML to a second table (same row shape)
    full = full.withColumn(
        "table_name",
        F.when(F.col("op").isin("INSERT", "UPDATE", "DELETE")
               & (F.col("gtid") % 2 == 0), F.lit("files2"))
        .otherwise(F.col("table_name")),
    )
    encode_stream(full).repartition(4).write.json(src)

    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    for t in ("files", "files2"):
        cat.create_table("repos", t, SCHEMA, ["repo", "path"], num_buckets=4)
    cfg = ApplyConfig(observed={"repos": ["files", "files2"]}, num_buckets=4)
    q = StreamingWireCatalogApplier(spark, cat, config=cfg).start(
        src, str(tmp_path / "ckpt"), available_now=True, max_files_per_trigger=2)
    q.awaitTermination(300)

    evs = [
        {"gtid": r["gtid"], "op": r["op"], "table_name": r["table_name"],
         "before": r["before"].asDict() if r["before"] else None,
         "after": r["after"].asDict() if r["after"] else None}
        for r in full.collect()
    ]
    for t in ("files", "files2"):
        expected = state_fingerprint(replay_oracle(evs, observed_tables={t}))
        got = df_fingerprint([r.asDict() for r in cat.get("repos", t).read().collect()])
        assert got == expected, t


def test_wire_catalog_heterogeneous_schemas(spark, tmp_path):
    """The union-row_ddl contract of StreamingWireCatalogApplier with
    tables whose columns GENUINELY differ (round-4 review #8): one decode
    pass over the union schema — from_json NULL-fills fields a payload
    lacks, each table's merge projects leniently onto its own columns —
    must converge both tables to their per-table states."""
    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
    from th2_listener_mysql_binlog_go_spark.plans.catalog import LakeCatalog
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import encode_stream
    from th2_listener_mysql_binlog_go_spark.streaming.structured import (
        StreamingWireCatalogApplier,
    )

    # table A: the repo-file shape; table B: disjoint payload columns
    files_ddl = ("gtid bigint, log_name string, log_pos bigint, seq bigint, "
                 "ts bigint, schema_name string, table_name string, op string, "
                 "before struct<repo:string,path:string,content:string>, "
                 "after struct<repo:string,path:string,content:string>, ddl string")
    metrics_ddl = ("gtid bigint, log_name string, log_pos bigint, seq bigint, "
                   "ts bigint, schema_name string, table_name string, op string, "
                   "before struct<repo:string,path:string,size_bytes:bigint,license:string>, "
                   "after struct<repo:string,path:string,size_bytes:bigint,license:string>, "
                   "ddl string")

    def _f(gtid, op, path, content):
        row = ("r1", path, content)
        return (gtid, "binlog.000001", gtid * 8, gtid, 0, "repos", "files", op,
                row if op in ("UPDATE", "DELETE") else None,
                row if op in ("INSERT", "UPDATE") else None, None)

    def _m(gtid, op, path, size, license):
        row = ("r1", path, size, license)
        return (gtid, "binlog.000001", gtid * 8, gtid, 0, "repos", "metrics", op,
                row if op in ("UPDATE", "DELETE") else None,
                row if op in ("INSERT", "UPDATE") else None, None)

    files_ev = [_f(1, "INSERT", "a.py", "v1"), _f(3, "UPDATE", "a.py", "v2"),
                _f(5, "INSERT", "b.py", "bb"), _f(7, "DELETE", "b.py", "bb")]
    metrics_ev = [_m(2, "INSERT", "a.py", 10, "mit"),
                  _m(4, "INSERT", "c.py", 20, "apache"),
                  _m(6, "UPDATE", "a.py", 30, "gpl")]
    src = str(tmp_path / "wire")
    encode_stream(spark.createDataFrame(files_ev, files_ddl)).write.json(src)
    encode_stream(spark.createDataFrame(metrics_ev, metrics_ddl)) \
        .write.mode("append").json(src)

    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    cat.create_table("repos", "files",
                     [("repo", "string"), ("path", "string"), ("content", "string")],
                     ["repo", "path"], num_buckets=2)
    cat.create_table("repos", "metrics",
                     [("repo", "string"), ("path", "string"),
                      ("size_bytes", "bigint"), ("license", "string")],
                     ["repo", "path"], num_buckets=2)
    union_row_ddl = ("repo string, path string, content string, "
                     "size_bytes bigint, license string")
    cfg = ApplyConfig(observed={"repos": ["files", "metrics"]}, num_buckets=2)
    q = StreamingWireCatalogApplier(spark, cat, config=cfg).start(
        src, str(tmp_path / "ckpt"), row_ddl=union_row_ddl, available_now=True)
    q.awaitTermination(300)

    files_rows = {(r["repo"], r["path"]): r["content"]
                  for r in cat.get("repos", "files").read().collect()}
    assert files_rows == {("r1", "a.py"): "v2"}
    metrics_rows = {(r["repo"], r["path"]): (r["size_bytes"], r["license"])
                    for r in cat.get("repos", "metrics").read().collect()}
    assert metrics_rows == {("r1", "a.py"): (30, "gpl"),
                            ("r1", "c.py"): (20, "apache")}


def test_wire_publish_then_consume_full_circle(spark, tmp_path):
    """The engine in the reference's PRODUCING role, closed end-to-end:
    binlog-shaped parquet -> StreamingWirePublisher (size-bounded bean
    payloads, S8/S9/S10 per micro-batch) -> StreamingWireApplier consumes
    the published queue dir -> the lake state matches the oracle replay of
    the original stream."""
    from th2_listener_mysql_binlog_go_spark.streaming.structured import (
        StreamingWireApplier,
        StreamingWirePublisher,
    )

    src = str(tmp_path / "binlog")
    out = str(tmp_path / "queue")
    full = synthetic_changestream(spark, 2000, n_repos=30, n_paths=50,
                                  truncate_per_10k=20)
    full.repartition(4).write.parquet(src)

    pub = StreamingWirePublisher(spark, max_size=4096)
    q = pub.start(src, out, str(tmp_path / "pub_ckpt"), CHANGE_SCHEMA,
                  available_now=True, max_files_per_trigger=2)
    q.awaitTermination(300)

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                             ["repo", "path"], num_buckets=8)
    q2 = StreamingWireApplier(spark, table).start(
        out, str(tmp_path / "sub_ckpt"), available_now=True)
    q2.awaitTermination(300)

    expected = state_fingerprint(replay_oracle(_oracle_events(full)))
    got = df_fingerprint([r.asDict() for r in table.read().collect()])
    assert got == expected


def test_wire_redelivery_converges(spark, tmp_path):
    """At-least-once publish parity: the reference can re-emit events on
    resume (listener.go:198-227), so a consumer must converge under
    duplicate payload delivery. Publish the same payload set TWICE into
    the queue dir (a crashed publisher's re-emitted epoch); the consumer's
    second drain applies the duplicates and the state is unchanged — LWW
    on (_gtid, _seq) makes re-application idempotent in effect."""
    from th2_listener_mysql_binlog_go_spark.sources.rawjson import encode_stream
    from th2_listener_mysql_binlog_go_spark.streaming.structured import StreamingWireApplier

    src = str(tmp_path / "queue")
    full = synthetic_changestream(spark, 1500, n_repos=20, n_paths=40,
                                  truncate_per_10k=20)
    wire = encode_stream(full)
    wire.repartition(3).write.json(src)

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                             ["repo", "path"], num_buckets=4)
    q = StreamingWireApplier(spark, table).start(
        src, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    expected = state_fingerprint(replay_oracle(_oracle_events(full)))
    first = df_fingerprint([r.asDict() for r in table.read().collect()])
    assert first == expected

    # re-emitted epoch: the SAME payloads land again as new files
    wire.repartition(2).write.mode("append").json(src)
    t2 = LakeTable.load(spark, table.root)
    q2 = StreamingWireApplier(spark, t2).start(
        src, str(tmp_path / "ckpt"), available_now=True)
    q2.awaitTermination(300)
    again = df_fingerprint([r.asDict() for r in LakeTable.load(spark, table.root).read().collect()])
    assert again == expected


def test_streaming_maintains_views_per_epoch(spark, tmp_path):
    """Continuous-aggregate maintenance: views passed to StreamingApplier
    refresh after EVERY micro-batch commit — mid-stream the view is as
    fresh as the table, and a crash between commit and refresh self-heals
    because refresh windows are version-based, not epoch-based."""
    from pyspark.sql import functions as F

    from th2_listener_mysql_binlog_go_spark.plans.matview import IncrementalAggView

    src = str(tmp_path / "events")
    full = synthetic_changestream(spark, 2000, n_repos=30, n_paths=50,
                                  truncate_per_10k=0)
    full.repartition(6).write.parquet(src)

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                             ["repo", "path"], num_buckets=4)
    view = IncrementalAggView.create(
        spark, table, str(tmp_path / "v"), dims=["lang"],
        aggs={"n": ("count",), "s": ("sum", "length(content)")},
        num_buckets=2)
    v_start = view.table.snapshot.version

    sa = StreamingApplier(spark, table, views=[view])
    q = sa.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA,
                 available_now=True, max_files_per_trigger=2)
    q.awaitTermination(300)

    # the view matched EVERY epoch, not just the last: one refresh commit
    # per non-empty micro-batch landed in the view's own history
    assert view.table.snapshot.version - v_start >= 2
    assert view.source_version == table.snapshot.version
    got = sorted([tuple(r) for r in view.read().collect()])
    want = sorted([tuple(r) for r in table.read().groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("content")).cast("bigint").alias("s")).collect()])
    assert got == want

    # crash analogue: a refresh skipped for one epoch is covered by the
    # next refresh (version-windowed) — simulate by advancing the table
    # directly and refreshing once
    t2 = LakeTable.load(spark, table.root)
    t2.merge(spark.createDataFrame(
        [("rz", "z", "c", "zig", "xx", "INSERT", 99991)],
        "repo string, path string, commit string, lang string, "
        "content string, _op string, _gtid long"), batch_id=90000, mode="mor")
    view2 = IncrementalAggView.load(spark, t2, str(tmp_path / "v"))
    view2.refresh()
    langs = {r["lang"] for r in view2.read().collect()}
    assert "zig" in langs


def test_streaming_applier_rebinds_view_source(spark, tmp_path):
    """A view constructed over a DIFFERENT LakeTable instance of the same
    root is rebound to the applier's live handle (a frozen handle would
    watch a stale snapshot and silently skip every refresh); a view over
    a genuinely different table is rejected outright."""
    from th2_listener_mysql_binlog_go_spark.plans.matview import IncrementalAggView

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                             ["repo", "path"], num_buckets=2)
    IncrementalAggView.create(
        spark, table, str(tmp_path / "v"), dims=["lang"],
        aggs={"n": ("count",)}, num_buckets=2)

    # same root, separate instance: rebound to the applier's handle
    frozen = LakeTable.load(spark, str(tmp_path / "t"))
    view = IncrementalAggView.load(spark, frozen, str(tmp_path / "v"))
    sa = StreamingApplier(spark, table, views=[view])
    assert view.source is table

    # different root: hard error at construction, not a silent no-op tail
    other = LakeTable.create(spark, str(tmp_path / "other"), SCHEMA,
                             ["repo", "path"], num_buckets=2)
    IncrementalAggView.create(
        spark, other, str(tmp_path / "ov"), dims=["lang"],
        aggs={"n": ("count",)}, num_buckets=2)
    oview = IncrementalAggView.load(spark, other, str(tmp_path / "ov"))
    try:
        StreamingApplier(spark, table, views=[oview])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass

    # refresh cadence clamps to >= 1
    assert StreamingApplier(spark, table, view_refresh_every=0
                            ).view_refresh_every == 1


def test_streaming_view_cadence_skips_epochs_then_catches_up(spark, tmp_path):
    """view_refresh_every=N skips intermediate epochs (fewer view commits
    than micro-batches) and a single manual refresh closes the final
    window — version-based refresh windows make the cadence safe."""
    from pyspark.sql import functions as F

    from th2_listener_mysql_binlog_go_spark.plans.matview import IncrementalAggView

    src = str(tmp_path / "events")
    full = synthetic_changestream(spark, 600, n_repos=10, n_paths=20,
                                  truncate_per_10k=0)
    full.repartition(6).write.parquet(src)

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                             ["repo", "path"], num_buckets=2)
    view = IncrementalAggView.create(
        spark, table, str(tmp_path / "v"), dims=["lang"],
        aggs={"n": ("count",)}, num_buckets=2)
    v_start = view.table.snapshot.version

    sa = StreamingApplier(spark, table, views=[view], view_refresh_every=3)
    q = sa.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA,
                 available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    refreshes = view.table.snapshot.version - v_start
    assert refreshes < 6  # fewer view commits than the ~6 epochs
    view.refresh()  # closes the final (possibly skipped) window
    assert view.source_version == table.snapshot.version
    got = sorted([tuple(r) for r in view.read().collect()])
    want = sorted([tuple(r) for r in table.read().groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()])
    assert got == want


def test_streaming_maintains_chained_views(spark, tmp_path):
    """A rollup CHAIN inside the micro-batch loop: view B sources view
    A's table; the applier rebinds B to A's live handle and refreshes
    upstream-first each epoch, so after the drain both levels equal a
    recompute from the table."""
    from pyspark.sql import functions as F

    from th2_listener_mysql_binlog_go_spark.plans.matview import IncrementalAggView

    src = str(tmp_path / "events")
    full = synthetic_changestream(spark, 2000, n_repos=10, n_paths=40,
                                  truncate_per_10k=0)
    full.repartition(4).write.parquet(src)

    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                             ["repo", "path"], num_buckets=4)
    a = IncrementalAggView.create(
        spark, table, str(tmp_path / "a"), dims=["repo", "lang"],
        aggs={"n": ("count",)}, num_buckets=2)
    b = IncrementalAggView.create(
        spark, a.table, str(tmp_path / "b"), dims=["lang"],
        aggs={"files": ("sum", "_rowcnt")}, num_buckets=2)

    sa = StreamingApplier(spark, table, views=[b, a])  # dependent first
    assert a.source is table and b.source is a.table
    q = sa.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA,
                 available_now=True, max_files_per_trigger=2)
    q.awaitTermination(300)

    assert a.source_version == table.snapshot.version
    assert b.source_version == a.table.snapshot.version
    got = {r["lang"]: r["files"] for r in b.read().collect()}
    want = {r["lang"]: r["files"] for r in table.read().groupBy("lang").agg(
        F.count(F.lit(1)).alias("files")).collect()}
    assert got == want


def test_streaming_catalog_maintains_views(spark, tmp_path):
    """Continuous aggregates over CATALOG tables: catalog.get returns a
    fresh LakeTable per call, so the shell REBINDS each view to a freshly
    loaded source every refresh cycle (O(metadata)); chains refresh in
    dependency order. After the drain both levels equal a recompute."""
    from th2_listener_mysql_binlog_go_spark.operators.apply import ApplyConfig
    from th2_listener_mysql_binlog_go_spark.plans.catalog import LakeCatalog
    from th2_listener_mysql_binlog_go_spark.plans.matview import IncrementalAggView

    src = str(tmp_path / "events")
    full = synthetic_changestream(spark, 2000, n_repos=10, n_paths=40,
                                  truncate_per_10k=0)
    full.repartition(4).write.parquet(src)

    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    for t in ("files", "shadow_table"):
        cat.create_table("repos", t, SCHEMA, ["repo", "path"], num_buckets=4)
    a = IncrementalAggView.create(
        spark, cat.get("repos", "files"), str(tmp_path / "a"),
        dims=["repo", "lang"], aggs={"n": ("count",)}, num_buckets=2)
    b = IncrementalAggView.create(
        spark, a.table, str(tmp_path / "b"), dims=["lang"],
        aggs={"files": ("sum", "_rowcnt")}, num_buckets=2)

    cfg = ApplyConfig(observed={"repos": ["files", "shadow_table"]}, num_buckets=4)
    from th2_listener_mysql_binlog_go_spark.streaming.structured import (
        StreamingCatalogApplier,
    )
    sca = StreamingCatalogApplier(spark, cat, config=cfg, views=[b, a])
    q = sca.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA,
                  available_now=True, max_files_per_trigger=2)
    q.awaitTermination(300)

    import pyspark.sql.functions as F
    files = cat.get("repos", "files")
    assert a.source_version == files.snapshot.version
    got = {r["lang"]: r["files"] for r in b.read().collect()}
    want = {r["lang"]: r["files"] for r in files.read().groupBy("lang").agg(
        F.count(F.lit(1)).alias("files")).collect()}
    assert got == want

    # a view over a non-catalog root is rejected up front
    import pytest
    orphan = LakeTable.create(spark, str(tmp_path / "orphan"), SCHEMA,
                              ["repo", "path"], num_buckets=2)
    v_bad = IncrementalAggView.create(
        spark, orphan, str(tmp_path / "vb"), dims=["lang"],
        aggs={"n": ("count",)}, num_buckets=2)
    with pytest.raises(ValueError, match="neither a live table"):
        StreamingCatalogApplier(spark, cat, config=cfg, views=[v_bad])

    # DROP + CREATE recycle mid-stream: the rebind refuses instead of
    # silently misreading the new incarnation's restarted versions
    cat.drop_table("repos", "files")
    cat.create_table("repos", "files", SCHEMA, ["repo", "path"], num_buckets=4)
    with pytest.raises(RuntimeError, match="dropped or recycled"):
        sca._rebind_and_refresh_views()


class _SlowFirstEpoch(StreamingApplier):
    """Holds its first epoch open until ``stop()`` has begun, so the stop
    always lands during an in-flight apply."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.in_epoch = threading.Event()

    def _apply_epoch(self, batch_df, epoch_id):
        if not self.in_epoch.is_set():
            self.in_epoch.set()
            deadline = time.monotonic() + 120
            while not self._stopping and time.monotonic() < deadline:
                time.sleep(0.05)
        return super()._apply_epoch(batch_df, epoch_id)


def test_stop_lets_the_in_flight_epoch_commit(spark, tmp_path):
    """stop() called during a slow epoch waits for it: the stop returns
    without error and the epoch's commit is in the table."""
    src = str(tmp_path / "events")
    full = synthetic_changestream(spark, 600, n_repos=10, n_paths=20)
    full.write.parquet(src)
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    sa = _SlowFirstEpoch(spark, table)
    q = sa.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA, available_now=False)
    assert sa.in_epoch.wait(120)
    sa.stop(q)
    assert not q.isActive and q.exception() is None and sa.refused_epoch is None
    t2 = LakeTable.load(spark, table.root)
    assert t2.last_batch_id // 1024 == 0
    expected = state_fingerprint(replay_oracle(_oracle_events(full)))
    assert df_fingerprint([r.asDict() for r in t2.read().collect()]) == expected


def test_stop_refuses_the_next_epoch_and_it_replays(spark, tmp_path):
    """A file lands during the slow epoch, so the engine starts another
    epoch once that one returns. The shell refuses it without applying
    anything, the stop still returns, and a restart on the same checkpoint
    replays the refused epoch to the oracle state."""
    src, stage = str(tmp_path / "events"), str(tmp_path / "stage")
    full = synthetic_changestream(spark, 600, n_repos=10, n_paths=20)
    full.filter("gtid < 300").write.parquet(src)
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    sa = _SlowFirstEpoch(spark, table)
    q = sa.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA, available_now=False)
    assert sa.in_epoch.wait(120)
    full.filter("gtid >= 300").coalesce(1).write.parquet(stage)
    for name in os.listdir(stage):
        if name.endswith(".parquet"):
            os.rename(os.path.join(stage, name), os.path.join(src, "late-" + name))

    class RefusalFirst:
        """Delays query.stop() until the shell has refused the next epoch,
        so the refusal path runs on every test run, not only on a race."""

        def stop(self):
            deadline = time.monotonic() + 120
            while sa.refused_epoch is None and time.monotonic() < deadline:
                time.sleep(0.05)
            q.stop()

    sa.stop(RefusalFirst())
    assert not q.isActive and sa.refused_epoch == 1
    assert "the shell is stopping" in str(q.exception())
    t1 = LakeTable.load(spark, table.root)
    assert t1.last_batch_id // 1024 == 0
    part1 = state_fingerprint(replay_oracle(_oracle_events(full.filter("gtid < 300"))))
    assert df_fingerprint([r.asDict() for r in t1.read().collect()]) == part1

    sa2 = StreamingApplier(spark, t1)
    q2 = sa2.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA, available_now=True)
    q2.awaitTermination(300)
    assert q2.exception() is None
    t2 = LakeTable.load(spark, table.root)
    assert t2.last_batch_id // 1024 == 1
    expected = state_fingerprint(replay_oracle(_oracle_events(full)))
    assert df_fingerprint([r.asDict() for r in t2.read().collect()]) == expected


def test_stop_before_start_is_a_plain_stop(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], num_buckets=4)
    stopped = []

    class Query:
        def stop(self):
            stopped.append(True)

    StreamingApplier(spark, table).stop(Query())
    assert stopped == [True]
