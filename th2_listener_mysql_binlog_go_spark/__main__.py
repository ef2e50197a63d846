"""spark-submit entry point — the north rule's launch surface:

    spark-submit --py-files cdc_engine.zip -m th2_listener_mysql_binlog_go_spark ...

or equivalently ``python -m th2_listener_mysql_binlog_go_spark``. The
session comes from ``SparkSession.builder.getOrCreate()`` so whatever
master/executor topology spark-submit configured applies unchanged; in a
bare python process it falls back to ``local[*]``.

Subcommands (all resumable — the table/catalog directory IS the
checkpoint, so re-running the same command after a crash continues from
the persisted watermark):

  create          create an empty lake table
  delete-where / update-where  out-of-band corrections (kill-list / redact)
  replay          batch-replay a GTID-ordered change-event parquet dir
  stream          Structured Streaming tail (readStream + foreachBatch)
  wire-stream     Structured Streaming tail of the PUBLISHED wire format
                  (JSON-lines bean payloads -> decode_stream -> apply)
  wire-publish    the reference's PRODUCING role: tail CHANGE_SCHEMA
                  parquet, publish size-bounded bean-JSON payloads
  catalog-create / catalog-create-table  initialize a LakeCatalog + tables
  catalog-replay  multi-table replay over a LakeCatalog
  catalog-stream  multi-table Structured Streaming tail
  catalog-wire-stream  multi-table tail of the published wire format
  compact         fold deltas into base files
  rebucket        bucket-count evolution
  vacuum          expire old snapshots + delete unreferenced data files
                  (age-gated: --older-than-hours, default 72 — safe beside
                  a live pipelined writer; 0 requires exclusive access)
  catalog-vacuum  expire old registry versions + remove dropped tables' dirs
  show            print snapshot properties / schema
  history         snapshot history (versions, watermarks, file counts)
  tag             pin/move/drop a named tag on a snapshot version
  lookup          bucket-pruned point read of one key
  key-history     per-key audit: every retained change event, winner flagged
  asof            point-in-time read: the key's image current as of a gtid
  changes         net row-level changes between two snapshots -> parquet
  view-create     materialize a GROUP BY aggregate view over a table
  view-refresh    advance a view from the source changelog (incremental)
  view-show       print a view's groups
  dedup-index-create   build a MinHash-LSH dedup index over a table's text
  dedup-index-refresh  advance the index from the changelog (O(changes))
  dedup-index-match    near-dup matches of a candidate parquet batch -> parquet

Example (single table, create + replay + compact):

  python -m th2_listener_mysql_binlog_go_spark create \
      --table /data/files --schema "repo string, path string, commit string, lang string, content string" \
      --keys repo,path --num-buckets 256
  spark-submit --master ... --py-files cdc_engine.zip run_cdc.py replay \
      --table /data/files --source /binlog/events --batch-span 1000000 \
      --pipeline-depth 3 --lineage-dir /data/files_lineage
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    """The CLI's session: ``spark-submit`` supplies master and memory.
    Python call-site capture is off, as in ``session.build_session``: it
    costs every Column call a stack walk and py4j round trips."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )


def _await_stream(shell, q) -> None:
    """Wait for ``q`` to end; SIGINT or SIGTERM stops it between epochs
    (``shell.stop``). PySpark's own SIGINT handler would cancel the
    in-flight epoch's jobs, and a bare ``query.stop()`` interrupts it."""
    import signal

    def interrupt(signum, frame):
        raise KeyboardInterrupt

    old = {sig: signal.signal(sig, interrupt)
           for sig in (signal.SIGINT, signal.SIGTERM)}
    try:
        q.awaitTermination()
    except KeyboardInterrupt:
        shell.stop(q)
    finally:
        for sig, handler in old.items():
            signal.signal(sig, handler)


def _parse_schema(s: str) -> list[tuple[str, str]]:
    out = []
    for part in s.split(","):
        name, _, typ = part.strip().partition(" ")
        out.append((name, typ.strip() or "string"))
    return out


def cmd_create(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-create")
    props = {"bloom_keys": "true"} if args.bloom_keys else None
    t = LakeTable.create(
        spark, args.table, _parse_schema(args.schema),
        key_cols=args.keys.split(","), num_buckets=args.num_buckets,
        properties=props,
    )
    return {"table": args.table, "version": t.snapshot.version,
            "num_buckets": t.snapshot.num_buckets}


def _apply_config(args):
    from .operators.apply import ApplyConfig

    kw = {}
    if getattr(args, "mode", None):
        kw["merge_mode"] = args.mode
    if getattr(args, "files_per_bucket", None):
        kw["files_per_bucket"] = args.files_per_bucket
    if getattr(args, "observed", None):
        observed: dict[str, list[str]] = {}
        for pair in args.observed.split(","):
            schema, _, table = pair.strip().partition(".")
            observed.setdefault(schema, []).append(table)
        kw["observed"] = observed
    return ApplyConfig(**kw)


def cmd_replay(args) -> dict:
    from .plans.lake import LakeTable
    from .streaming.runner import ReplayRunner

    spark = _spark("cdc-replay")
    table = LakeTable.load(spark, args.table, branch=getattr(args, "branch", None))
    stream = spark.read.parquet(args.source)
    runner = ReplayRunner(
        spark, table, batch_span=args.batch_span, config=_apply_config(args),
        lineage_dir=args.lineage_dir, pipeline_depth=args.pipeline_depth,
        partition_col=args.partition_col, partition_span=args.partition_span,
        archive_root=args.source if args.partition_col else None,
    )
    m = runner.run(stream, max_batches=args.max_batches, allow_gaps=args.allow_gaps)
    return m


def cmd_stream(args) -> dict:
    from .plans.lake import LakeTable
    from .streaming.structured import StreamingApplier

    spark = _spark("cdc-stream")
    table = LakeTable.load(spark, args.table)
    shell = StreamingApplier(spark, table, config=_apply_config(args),
                             lineage_dir=args.lineage_dir)
    q = shell.start(
        args.source, args.checkpoint, args.schema,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
        resume_from_table=args.resume_from_table,
    )
    _await_stream(shell, q)
    return {"table": args.table, "watermark_gtid": LakeTable.load(spark, args.table).watermark_gtid}


def cmd_wire_stream(args) -> dict:
    from .plans.lake import LakeTable
    from .streaming.structured import StreamingWireApplier

    spark = _spark("cdc-wire-stream")
    table = LakeTable.load(spark, args.table)
    shell = StreamingWireApplier(spark, table, config=_apply_config(args),
                                 lineage_dir=args.lineage_dir)
    q = shell.start(
        args.source, args.checkpoint, row_ddl=args.row_ddl,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
        resume_from_table=args.resume_from_table,
        quarantine_dir=args.quarantine_dir,
    )
    _await_stream(shell, q)
    return {"table": args.table, "watermark_gtid": LakeTable.load(spark, args.table).watermark_gtid}


def cmd_catalog_stream(args) -> dict:
    from .plans.catalog import LakeCatalog
    from .streaming.structured import StreamingCatalogApplier

    spark = _spark("cdc-catalog-stream")
    cat = LakeCatalog.load(spark, args.catalog)
    shell = StreamingCatalogApplier(spark, cat, config=_apply_config(args),
                                    lineage_dir=args.lineage_dir)
    q = shell.start(
        args.source, args.checkpoint, args.schema,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
        resume_from_table=args.resume_from_table,
    )
    _await_stream(shell, q)
    return {"catalog": args.catalog,
            "tables": sorted(LakeCatalog.load(spark, args.catalog).list_tables())}


def cmd_catalog_create(args) -> dict:
    from .plans.catalog import LakeCatalog

    spark = _spark("cdc-catalog-create")
    LakeCatalog.create(spark, args.catalog)
    return {"catalog": args.catalog, "tables": []}


def cmd_catalog_create_table(args) -> dict:
    from .plans.catalog import LakeCatalog

    spark = _spark("cdc-catalog-create-table")
    cat = LakeCatalog.load(spark, args.catalog)
    schema, _, table = args.name.partition(".")
    t = cat.create_table(schema, table, _parse_schema(args.schema),
                         key_cols=args.keys.split(","),
                         num_buckets=args.num_buckets)
    return {"catalog": args.catalog, "table": args.name,
            "num_buckets": t.snapshot.num_buckets,
            "tables": cat.list_tables()}


def cmd_wire_publish(args) -> dict:
    from .streaming.structured import StreamingWirePublisher

    spark = _spark("cdc-wire-publish")
    q = StreamingWirePublisher(spark, max_size=args.max_size).start(
        args.source, args.out, args.checkpoint, args.schema,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    q.awaitTermination()
    return {"out": args.out}


def cmd_catalog_wire_stream(args) -> dict:
    from .plans.catalog import LakeCatalog
    from .streaming.structured import StreamingWireCatalogApplier

    spark = _spark("cdc-catalog-wire-stream")
    cat = LakeCatalog.load(spark, args.catalog)
    shell = StreamingWireCatalogApplier(spark, cat, config=_apply_config(args),
                                        lineage_dir=args.lineage_dir)
    q = shell.start(
        args.source, args.checkpoint, row_ddl=args.row_ddl,
        available_now=not args.continuous,
        max_files_per_trigger=args.max_files_per_trigger,
        resume_from_table=args.resume_from_table,
        quarantine_dir=args.quarantine_dir,
    )
    _await_stream(shell, q)
    return {"catalog": args.catalog,
            "tables": sorted(LakeCatalog.load(spark, args.catalog).list_tables())}


def cmd_catalog_replay(args) -> dict:
    from .plans.catalog import LakeCatalog
    from .streaming.runner import CatalogReplayRunner

    spark = _spark("cdc-catalog-replay")
    cat = LakeCatalog.load(spark, args.catalog)
    stream = spark.read.parquet(args.source)
    runner = CatalogReplayRunner(
        spark, cat, batch_span=args.batch_span, config=_apply_config(args),
        lineage_dir=args.lineage_dir, pipeline_depth=args.pipeline_depth,
        partition_col=args.partition_col, partition_span=args.partition_span,
        archive_root=args.source if args.partition_col else None,
    )
    return runner.run(stream, max_batches=args.max_batches, allow_gaps=args.allow_gaps)


def cmd_compact(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-compact")
    t = LakeTable.load(spark, args.table)
    # "--sort-by none" overrides a durable compact_sort_by property with
    # "no clustering" for this run; absent flag defers to the property
    sort_by = ([] if args.sort_by.strip().lower() == "none"
               else [c.strip() for c in args.sort_by.split(",") if c.strip()]
               ) if args.sort_by is not None else None
    n = t.compact(files_per_bucket=args.files_per_bucket, sort_by=sort_by,
                  keep_tombstones=args.keep_tombstones)
    return {"table": args.table, "compacted_buckets": n, "version": t.snapshot.version}


def cmd_delete_where(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-delete-where")
    t = LakeTable.load(spark, args.table)
    return {"table": args.table, **t.delete_where(args.where)}


def cmd_update_where(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-update-where")
    t = LakeTable.load(spark, args.table)
    assignments = {}
    for item in args.set:
        if "=" not in item:
            raise SystemExit(f"--set expects col=expr, got {item!r}")
        col, expr = item.split("=", 1)
        assignments[col.strip()] = expr.strip()
    return {"table": args.table, **t.update_where(args.where, assignments)}


def cmd_rebucket(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-rebucket")
    t = LakeTable.load(spark, args.table)
    keep = True if args.keep_tombstones else None  # None = auto-detect
    n = t.rebucket(args.num_buckets, files_per_bucket=args.files_per_bucket,
                   keep_tombstones=keep)
    return {"table": args.table, "num_buckets": n, "version": t.snapshot.version}


def cmd_vacuum(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-vacuum")
    t = LakeTable.load(spark, args.table)
    expired = t.expire_snapshots(keep_last=args.keep_last)
    removed = t.vacuum(older_than_s=args.older_than_hours * 3600.0)
    return {"table": args.table, "snapshots_expired": expired,
            "files_removed": removed, "version": t.snapshot.version}


def cmd_catalog_vacuum(args) -> dict:
    from .plans.catalog import LakeCatalog

    spark = _spark("cdc-catalog-vacuum")
    cat = LakeCatalog.load(spark, args.catalog)
    expired = cat.expire_versions(keep_last=args.keep_last)
    removed = cat.vacuum(older_than_s=args.older_than_hours * 3600.0)
    return {"catalog": args.catalog, "versions_expired": expired,
            "table_dirs_removed": removed}


def cmd_history(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-history")
    t = LakeTable.load(spark, args.table)
    return {"table": args.table, "history": t.history()}


def cmd_lookup(args) -> dict:
    """Bucket-pruned point read: one key's row (or nothing) from one
    bucket's files."""
    from .plans.lake import LakeTable

    spark = _spark("cdc-lookup")
    t = LakeTable.load(spark, args.table)
    snap = t.snapshot_at(args.version) if args.version is not None else None
    vals = args.values.split(",")
    rows = [r.asDict() for r in t.lookup(*vals, snapshot=snap).collect()]
    return {"table": args.table, "keys": dict(zip(t.snapshot.key_names, vals)),
            "rows": rows}


def cmd_key_history(args) -> dict:
    """Per-key audit: every retained change event for one key, in apply
    order, with the current winner flagged — one bucket-pruned scan."""
    from .plans.lake import LakeTable

    spark = _spark("cdc-key-history")
    t = LakeTable.load(spark, args.table)
    snap = t.snapshot_at(args.version) if args.version is not None else None
    vals = args.values.split(",")
    rows = [r.asDict() for r in t.key_history(*vals, snapshot=snap).collect()]
    return {"table": args.table, "keys": dict(zip(t.snapshot.key_names, vals)),
            "events": rows}


def cmd_asof(args) -> dict:
    """Point-in-time read: one key's image current AS OF a position —
    the single-probe form of ``LakeTable.asof_join`` (bucket-pruned log
    scan + one tiny window). ``match_op`` distinguishes 'deleted as of
    then' (DELETE) from 'never existed' (null)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .plans.lake import LakeTable

    spark = _spark("cdc-asof")
    t = LakeTable.load(spark, args.table)
    snap = t.snapshot_at(args.version) if args.version is not None else None
    keys = t.snapshot.key_names
    vals = args.values.split(",")
    if len(vals) != len(keys):
        raise SystemExit(
            f"expected {len(keys)} key values {tuple(keys)}, got {len(vals)}")
    st = T.StructType([T.StructField(k, T.StringType()) for k in keys]
                      + [T.StructField("as_of_gtid", T.LongType())])
    probes = spark.createDataFrame([tuple(vals) + (int(args.at),)], st)
    key_types = {c.name: c.type for c in t.snapshot.columns}
    for k in keys:  # string CLI values -> the table's key types
        probes = probes.withColumn(k, F.col(k).cast(key_types[k]))
    rows = [r.asDict() for r in t.asof_join(probes, snapshot=snap).collect()]
    return {"table": args.table, "keys": dict(zip(keys, vals)),
            "as_of_gtid": int(args.at), "rows": rows}


def cmd_tag(args) -> dict:
    """Pin (or move / drop) a named tag on a snapshot version; tagged
    versions are exempt from vacuum's expire_snapshots retention."""
    from .plans.lake import LakeTable

    spark = _spark("cdc-tag")
    t = LakeTable.load(spark, args.table)
    if args.delete:
        existed = t.untag(args.name)
        return {"table": args.table, "tag": args.name, "deleted": existed,
                "tags": t.tags()}
    v = t.tag(args.name, version=args.version)
    return {"table": args.table, "tag": args.name, "version": v,
            "tags": t.tags()}


def cmd_rollback(args) -> dict:
    """Restore the table to an earlier snapshot (by version or tag) as a
    new commit. Replay bookkeeping restores with it, so a subsequent
    replay resumes from the restored watermark; history stays
    time-travelable until expired."""
    from .plans.lake import LakeTable

    spark = _spark("cdc-rollback")
    t = LakeTable.load(spark, args.table)
    ref = int(args.to) if args.to.isdigit() else args.to
    return {"table": args.table, **t.rollback(ref)}


def cmd_changes(args) -> dict:
    """Emit the net row-level changes between two snapshots (the lake's
    CDC-out surface) to a parquet directory."""
    from .plans.lake import LakeTable

    spark = _spark("cdc-changes")
    t = LakeTable.load(spark, args.table)
    plan = t.changes_plan(args.from_version, args.to_version)
    df = t.changes(args.from_version, args.to_version, mode=args.mode,
                   include_meta=args.include_meta)
    df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    return {"table": args.table, "from_version": args.from_version,
            "to_version": args.to_version if args.to_version is not None
            else t.snapshot.version,
            "plan": plan if args.mode == "auto" else args.mode,
            "rows": n, "out": args.out}


def cmd_view_create(args) -> dict:
    """Materialize a GROUP BY aggregate view over a lake table; refresh
    it incrementally with ``view-refresh``. --agg takes
    name=count | name=sum:EXPR | name=avg:EXPR | name=min:EXPR |
    name=max:EXPR (repeatable; min/max use the touched-group recompute
    strategy — see plans/matview.py)."""
    from .plans.lake import LakeTable
    from .plans.matview import IncrementalAggView

    spark = _spark("cdc-view-create")
    src = LakeTable.load(spark, args.source)
    aggs = {}
    for spec in args.agg:
        name, _, rest = spec.partition("=")
        kind, _, expr = rest.partition(":")
        aggs[name] = (kind,) if kind == "count" else (kind, expr)
    v = IncrementalAggView.create(spark, src, args.view,
                                  dims=args.dims.split(","), aggs=aggs,
                                  num_buckets=args.num_buckets)
    return {"view": args.view, "source": args.source, "dims": v.dims,
            "aggs": {k: list(s) for k, s in v.aggs.items()},
            "source_version": v.source_version,
            "groups": v.read().count()}


def cmd_view_refresh(args) -> dict:
    """Advance a materialized view to the source's current version —
    O(changes + touched groups), idempotent under crash-replay."""
    from .plans.lake import LakeTable
    from .plans.matview import IncrementalAggView

    spark = _spark("cdc-view-refresh")
    src = LakeTable.load(spark, args.source)
    v = IncrementalAggView.load(spark, src, args.view)
    m = v.rebuild() if args.rebuild else v.refresh(mode=args.mode)
    out = {"view": args.view, "source": args.source}
    out.update({k: m[k] for k in ("skipped", "from_version", "to_version",
                                  "rebuilt") if k in m})
    return out


def cmd_view_show(args) -> dict:
    from .plans.lake import LakeTable
    from .plans.matview import IncrementalAggView

    spark = _spark("cdc-view-show")
    src = LakeTable.load(spark, args.source)
    v = IncrementalAggView.load(spark, src, args.view)
    rows = [r.asDict() for r in v.read().limit(args.limit).collect()]
    return {"view": args.view, "dims": v.dims,
            "source_version": v.source_version, "rows": rows}


def cmd_dedup_index_create(args) -> dict:
    """Build a MinHash-LSH dedup index table over a lake table's text;
    advance it incrementally with ``dedup-index-refresh``, probe a
    candidate ingest with ``dedup-index-match``."""
    from .plans.dedup_index import DedupIndexView
    from .plans.lake import LakeTable

    spark = _spark("cdc-dedup-index-create")
    src = LakeTable.load(spark, args.source)
    v = DedupIndexView.create(
        spark, src, args.index, id_expr=args.id_expr,
        text_expr=args.text_expr, n_hashes=args.n_hashes,
        bands=args.bands, k=args.k, num_buckets=args.num_buckets)
    return {"index": args.index, "source": args.source,
            "source_version": v.source_version,
            "rows": v.read().count()}


def cmd_dedup_index_refresh(args) -> dict:
    """Advance the dedup index to the source's current version —
    O(changes), idempotent under crash-replay."""
    from .plans.dedup_index import DedupIndexView
    from .plans.lake import LakeTable

    spark = _spark("cdc-dedup-index-refresh")
    src = LakeTable.load(spark, args.source)
    v = DedupIndexView.load(spark, src, args.index)
    m = v.rebuild() if args.rebuild else v.refresh(mode=args.mode)
    out = {"index": args.index, "source": args.source}
    out.update({k: m[k] for k in ("skipped", "from_version", "to_version",
                                  "plan", "rebuilt") if k in m})
    return out


def cmd_dedup_index_match(args) -> dict:
    """Near-dup matches of a candidate batch (parquet of documents)
    against the indexed corpus: writes (new_id, match_id, sig_sim)
    parquet to --out; the corpus text is never read."""
    from .plans.dedup_index import DedupIndexView
    from .plans.lake import LakeTable

    spark = _spark("cdc-dedup-index-match")
    src = LakeTable.load(spark, args.source)
    v = DedupIndexView.load(spark, src, args.index)
    out = v.match(spark.read.parquet(args.new),
                  min_sig_sim=args.min_sig_sim,
                  include_new_pairs=not args.cross_only)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    return {"index": args.index, "new": args.new, "out": args.out,
            "pairs": n}


def cmd_show(args) -> dict:
    from .plans.lake import LakeTable

    spark = _spark("cdc-show")
    t = LakeTable.load(spark, args.table, branch=getattr(args, "branch", None))
    s = t.snapshot
    return {
        "table": args.table, "version": s.version, "epoch": s.epoch,
        "num_buckets": s.num_buckets,
        "columns": [(c.id, c.name, c.type) for c in s.columns],
        "keys": s.key_names, "files": len(s.files),
        "properties": s.properties,
        "branches": {} if t.branch else t.branches(),
    }


def cmd_branch(args) -> dict:
    """Create, list, or drop WAP branch refs (write-audit-publish:
    stage commits on the branch with ``replay --branch``, audit with
    ``show --branch``, then ``publish``)."""
    from .plans.lake import LakeTable

    spark = _spark("cdc-branch")
    t = LakeTable.load(spark, args.table)
    if args.list:
        return {"table": args.table, "branches": t.branches()}
    if not args.name:
        raise SystemExit("branch: --name is required unless --list is given")
    if args.drop:
        return {"table": args.table, "dropped": args.name,
                "existed": t.drop_branch(args.name)}
    b = t.create_branch(args.name,
                        at=(int(args.at) if args.at and args.at.isdigit()
                            else args.at))
    return {"table": args.table, "branch": args.name,
            "fork_version": int(b.snapshot.properties["branch_fork_version"])}


def cmd_publish(args) -> dict:
    """Fast-forward main onto a branch tip (the WAP publish)."""
    from .plans.lake import LakeTable

    spark = _spark("cdc-publish")
    t = LakeTable.load(spark, args.table)
    return {"table": args.table, **t.publish_branch(args.name)}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="th2_listener_mysql_binlog_go_spark",
                                description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common_replay(sp):
        sp.add_argument("--source", required=True)
        sp.add_argument("--batch-span", type=int, default=1_000_000)
        sp.add_argument("--pipeline-depth", type=int, default=3)
        sp.add_argument("--partition-col", default=None,
                        help="hive partition column of a gtid-range-"
                             "partitioned source archive (e.g. gtid_span); "
                             "enables per-batch partition pruning")
        sp.add_argument("--partition-span", type=int, default=None,
                        help="gtids per archive partition (gtid // span = "
                             "partition value)")
        sp.add_argument("--max-batches", type=int, default=None)
        sp.add_argument("--allow-gaps", action="store_true")
        sp.add_argument("--mode", choices=["mor", "cow"], default=None)
        sp.add_argument("--files-per-bucket", type=int, default=None)
        sp.add_argument("--lineage-dir", default=None)

    def common_stream(sp, wire: bool):
        """The tail subcommands' flags: a wire source (JSON-lines bean
        payloads, decoded in the stream) or a parquet one read under
        ``--schema``."""
        if wire:
            sp.add_argument("--source", required=True,
                            help="directory of JSON-lines wire payloads (the "
                                 "reference's published bean-JSON surface)")
            sp.add_argument("--quarantine-dir", default=None,
                            help="dead-letter undecodable wire messages here as "
                                 "parquet envelopes instead of dropping them")
        else:
            sp.add_argument("--source", required=True)
            sp.add_argument("--schema", required=True, help="change-event schema DDL")
        sp.add_argument("--checkpoint", required=True)
        sp.add_argument("--continuous", action="store_true",
                        help="keep tailing instead of drain-and-stop (availableNow)")
        sp.add_argument("--max-files-per-trigger", type=int, default=None)
        sp.add_argument("--mode", choices=["mor", "cow"], default=None)
        sp.add_argument("--files-per-bucket", type=int, default=None)
        sp.add_argument("--lineage-dir", default=None)
        sp.add_argument("--resume-from-table", action="store_true",
                        help="handoff from a backfill: pin epoch base + gtid "
                             "floor in <checkpoint>/handoff.json")

    sp = sub.add_parser("create")
    sp.add_argument("--table", required=True)
    sp.add_argument("--schema", required=True,
                    help='e.g. "repo string, path string, content string"')
    sp.add_argument("--keys", required=True, help="comma-separated key columns")
    sp.add_argument("--num-buckets", type=int, default=64)
    sp.add_argument("--bloom-keys", action="store_true",
                    help="write parquet bloom filters on the key columns "
                         "(row-group skipping for point lookups)")
    sp.set_defaults(fn=cmd_create)

    sp = sub.add_parser("replay")
    sp.add_argument("--table", required=True)
    sp.add_argument("--branch", default=None,
                    help="apply onto a WAP branch instead of main")
    common_replay(sp)
    sp.set_defaults(fn=cmd_replay)

    sp = sub.add_parser("stream")
    sp.add_argument("--table", required=True)
    common_stream(sp, wire=False)
    sp.set_defaults(fn=cmd_stream)

    sp = sub.add_parser("wire-stream")
    sp.add_argument("--table", required=True)
    sp.add_argument("--row-ddl", default=None,
                    help='row struct DDL, e.g. "repo string, path string, ..."')
    common_stream(sp, wire=True)
    sp.set_defaults(fn=cmd_wire_stream)

    sp = sub.add_parser("catalog-stream")
    sp.add_argument("--catalog", required=True)
    sp.add_argument("--observed", required=True,
                    help="comma-separated schema.table pairs to observe")
    common_stream(sp, wire=False)
    sp.set_defaults(fn=cmd_catalog_stream)

    sp = sub.add_parser("catalog-create")
    sp.add_argument("--catalog", required=True)
    sp.set_defaults(fn=cmd_catalog_create)

    sp = sub.add_parser("catalog-create-table")
    sp.add_argument("--catalog", required=True)
    sp.add_argument("--name", required=True, help="schema.table")
    sp.add_argument("--schema", required=True,
                    help='column DDL, e.g. "repo string, path string"')
    sp.add_argument("--keys", required=True, help="comma-separated key columns")
    sp.add_argument("--num-buckets", type=int, default=16)
    sp.set_defaults(fn=cmd_catalog_create_table)

    sp = sub.add_parser("wire-publish")
    sp.add_argument("--source", required=True,
                    help="CHANGE_SCHEMA parquet dir (binlog segments)")
    sp.add_argument("--out", required=True,
                    help="output dir for JSON-lines wire payloads")
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--schema", required=True, help="change-event schema DDL")
    sp.add_argument("--max-size", type=int, default=1 << 20,
                    help="max serialized payload bytes (split bound)")
    sp.add_argument("--continuous", action="store_true")
    sp.add_argument("--max-files-per-trigger", type=int, default=None)
    sp.set_defaults(fn=cmd_wire_publish)

    sp = sub.add_parser("catalog-wire-stream")
    sp.add_argument("--catalog", required=True)
    sp.add_argument("--row-ddl", default=None,
                    help="UNION of observed tables' row struct DDLs")
    sp.add_argument("--observed", required=True,
                    help="comma-separated schema.table pairs to observe")
    common_stream(sp, wire=True)
    sp.set_defaults(fn=cmd_catalog_wire_stream)

    sp = sub.add_parser("catalog-replay")
    sp.add_argument("--catalog", required=True)
    common_replay(sp)
    sp.add_argument("--observed", required=True,
                    help="comma-separated schema.table pairs to observe")
    sp.set_defaults(fn=cmd_catalog_replay)

    sp = sub.add_parser("compact")
    sp.add_argument("--table", required=True)
    sp.add_argument("--files-per-bucket", type=int, default=1)
    sp.add_argument("--sort-by", default=None, dest="sort_by",
                    help="comma-separated columns to cluster each written "
                         "file by (Iceberg sort-order analogue); 'none' "
                         "overrides a durable compact_sort_by property")
    sp.add_argument("--keep-tombstones", action="store_true",
                    help="re-emit winning DELETEs as flagged delta files so "
                         "gtid-interleaved ingest cannot resurrect folded "
                         "keys (required when the table is fed by a "
                         "file-paced streaming tail)")
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser("delete-where")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", required=True,
                    help="SQL predicate over the CURRENT rows; matches are "
                         "deleted by one out-of-band correction commit")
    sp.set_defaults(fn=cmd_delete_where)

    sp = sub.add_parser("update-where")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", required=True)
    sp.add_argument("--set", action="append", required=True,
                    help="col=SQL-expr (repeatable), e.g. "
                         "--set \"content=md5(content)\"; key columns "
                         "cannot be reassigned")
    sp.set_defaults(fn=cmd_update_where)

    sp = sub.add_parser("rebucket")
    sp.add_argument("--table", required=True)
    sp.add_argument("--num-buckets", type=int, required=True)
    sp.add_argument("--files-per-bucket", type=int, default=1)
    sp.add_argument("--keep-tombstones", action="store_true",
                    help="re-emit winning DELETEs in the new layout (auto "
                         "when the table already carries tombstone files)")
    sp.set_defaults(fn=cmd_rebucket)

    sp = sub.add_parser("vacuum")
    sp.add_argument("--table", required=True)
    sp.add_argument("--keep-last", type=int, default=10,
                    help="snapshot versions to retain (time-travel window)")
    sp.add_argument("--older-than-hours", type=float, default=72.0,
                    help="only delete unreferenced files older than this "
                         "(mtime); the grace window makes vacuum safe to run "
                         "while a pipelined writer is live — its staged-but-"
                         "uncommitted delta dirs are recent by definition. "
                         "0 requires NO concurrent writer.")
    sp.set_defaults(fn=cmd_vacuum)

    sp = sub.add_parser("catalog-vacuum")
    sp.add_argument("--catalog", required=True)
    sp.add_argument("--keep-last", type=int, default=10,
                    help="registry versions to retain")
    sp.add_argument("--older-than-hours", type=float, default=72.0,
                    help="only remove dropped-table dirs older than this; "
                         "0 requires no concurrent writer")
    sp.set_defaults(fn=cmd_catalog_vacuum)

    sp = sub.add_parser("show")
    sp.add_argument("--table", required=True)
    sp.add_argument("--branch", default=None,
                    help="show a WAP branch's tip instead of main")
    sp.set_defaults(fn=cmd_show)

    sp = sub.add_parser("branch")
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", default=None)
    sp.add_argument("--at", default=None,
                    help="fork at this version or tag (default: head)")
    sp.add_argument("--drop", action="store_true")
    sp.add_argument("--list", action="store_true")
    sp.set_defaults(fn=cmd_branch)

    sp = sub.add_parser("publish")
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", required=True)
    sp.set_defaults(fn=cmd_publish)

    sp = sub.add_parser("history")
    sp.add_argument("--table", required=True)
    sp.set_defaults(fn=cmd_history)

    def _ver(s: str):
        # a bare number is a version; anything else is a tag name
        return int(s) if s.lstrip("-").isdigit() else s

    sp = sub.add_parser("lookup")
    sp.add_argument("--table", required=True)
    sp.add_argument("--values", required=True,
                    help="comma-separated key values in key-column order")
    sp.add_argument("--version", type=_ver, default=None,
                    help="snapshot version or tag name (default: head)")
    sp.set_defaults(fn=cmd_lookup)

    sp = sub.add_parser("key-history")
    sp.add_argument("--table", required=True)
    sp.add_argument("--values", required=True,
                    help="comma-separated key values in key-column order")
    sp.add_argument("--version", type=_ver, default=None,
                    help="snapshot version or tag name (default: head)")
    sp.set_defaults(fn=cmd_key_history)

    sp = sub.add_parser("asof")
    sp.add_argument("--table", required=True)
    sp.add_argument("--values", required=True,
                    help="comma-separated key values in key-column order")
    sp.add_argument("--at", required=True, type=int,
                    help="gtid position the read is as of (inclusive)")
    sp.add_argument("--version", type=_ver, default=None,
                    help="snapshot version or tag name (default: head)")
    sp.set_defaults(fn=cmd_asof)

    sp = sub.add_parser("tag")
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", required=True)
    sp.add_argument("--version", type=int, default=None,
                    help="version to pin (default: current head)")
    sp.add_argument("--delete", action="store_true",
                    help="drop the tag instead of creating it")
    sp.set_defaults(fn=cmd_tag)

    sp = sub.add_parser("rollback")
    sp.add_argument("--table", required=True)
    sp.add_argument("--to", required=True,
                    help="snapshot version number or tag name to restore")
    sp.set_defaults(fn=cmd_rollback)

    sp = sub.add_parser("changes")
    sp.add_argument("--table", required=True)
    sp.add_argument("--from-version", type=_ver, required=True, dest="from_version",
                    help="snapshot version number or tag name")
    sp.add_argument("--to-version", type=_ver, default=None, dest="to_version",
                    help="snapshot version number or tag name (default: head)")
    sp.add_argument("--mode", choices=["auto", "incremental", "diff"],
                    default="auto")
    sp.add_argument("--include-meta", action="store_true")
    sp.add_argument("--out", required=True, help="parquet output directory")
    sp.set_defaults(fn=cmd_changes)

    sp = sub.add_parser("view-create")
    sp.add_argument("--source", required=True, help="source lake table root")
    sp.add_argument("--view", required=True, help="view table root to create")
    sp.add_argument("--dims", required=True,
                    help="comma-separated group-by columns")
    sp.add_argument("--agg", action="append", required=True,
                    help="name=count | name=sum:EXPR | name=avg:EXPR "
                         "(repeatable)")
    sp.add_argument("--num-buckets", type=int, default=16, dest="num_buckets")
    sp.set_defaults(fn=cmd_view_create)

    sp = sub.add_parser("view-refresh")
    sp.add_argument("--source", required=True)
    sp.add_argument("--view", required=True)
    sp.add_argument("--mode", choices=["auto", "incremental", "diff"],
                    default="auto")
    sp.add_argument("--rebuild", action="store_true",
                    help="full recompute in one atomic commit — the "
                         "recovery path when the view's watermark version "
                         "was expired from the source's history")
    sp.set_defaults(fn=cmd_view_refresh)

    sp = sub.add_parser("view-show")
    sp.add_argument("--source", required=True)
    sp.add_argument("--view", required=True)
    sp.add_argument("--limit", type=int, default=50)
    sp.set_defaults(fn=cmd_view_show)

    sp = sub.add_parser("dedup-index-create")
    sp.add_argument("--source", required=True, help="source lake table root")
    sp.add_argument("--index", required=True, help="index table root to create")
    sp.add_argument("--id-expr", required=True, dest="id_expr",
                    help="SQL expr, injective over the source keys "
                         "(e.g. \"concat(repo,'/',path)\")")
    sp.add_argument("--text-expr", required=True, dest="text_expr",
                    help="SQL expr for the hashed text (e.g. content)")
    sp.add_argument("--n-hashes", type=int, default=16, dest="n_hashes")
    sp.add_argument("--bands", type=int, default=4)
    sp.add_argument("--k", type=int, default=5, help="shingle width")
    sp.add_argument("--num-buckets", type=int, default=16, dest="num_buckets")
    sp.set_defaults(fn=cmd_dedup_index_create)

    sp = sub.add_parser("dedup-index-refresh")
    sp.add_argument("--source", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--mode", choices=["auto", "incremental", "diff"],
                    default="auto")
    sp.add_argument("--rebuild", action="store_true",
                    help="full re-hash in one atomic commit — the recovery "
                         "path when the index watermark version was expired "
                         "from the source's history")
    sp.set_defaults(fn=cmd_dedup_index_refresh)

    sp = sub.add_parser("dedup-index-match")
    sp.add_argument("--source", required=True)
    sp.add_argument("--index", required=True)
    sp.add_argument("--new", required=True,
                    help="parquet dir of candidate documents")
    sp.add_argument("--min-sig-sim", type=float, default=0.5,
                    dest="min_sig_sim")
    sp.add_argument("--cross-only", action="store_true", dest="cross_only",
                    help="only new-vs-index matches (skip new-vs-new)")
    sp.add_argument("--out", required=True, help="parquet output directory")
    sp.set_defaults(fn=cmd_dedup_index_match)

    args = p.parse_args(argv)
    print(json.dumps(args.fn(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
