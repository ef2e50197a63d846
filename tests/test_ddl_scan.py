"""Every apply path takes its DDL rows from one scan
(``operators.apply.scan_ddl``) and decides a segment's emptiness by one
rule (``segment_empty``), so the catalog applier and both replay runners
commit provably empty segments without a Spark job, as the single-table
applier does. The catalog applier's scan also observes the batch's DML;
the runners' window scan observes none, so they skip only segments that
no integer gtid fits in. Each test runs a twin through the merge path and
checks that it ran more Spark jobs and committed the same versions and
rows."""

import pytest

from th2_listener_mysql_binlog_go_spark.operators import apply as apply_mod
from th2_listener_mysql_binlog_go_spark.operators.apply import (
    ApplyConfig,
    DdlScan,
    ddl_candidates_cond,
)
from th2_listener_mysql_binlog_go_spark.operators.multi import MultiTableApplier
from th2_listener_mysql_binlog_go_spark.plans.catalog import LakeCatalog
from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import CHANGE_SCHEMA
from th2_listener_mysql_binlog_go_spark.streaming.runner import (
    CatalogReplayRunner,
    ReplayRunner,
)

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]
PAIRS = ApplyConfig(observed={"repos": ["files", "files2"]}, num_buckets=2)


def _ev(gtid, op, table="files", path=None, ddl=None):
    row = ("r", path, "c" * 40, "py", f"v{gtid}") if path is not None else None
    return (gtid, "binlog.000001", gtid * 256, 0, 0, "repos", table, op,
            row if op in ("UPDATE", "DELETE") else None,
            row if op in ("INSERT", "UPDATE") else None, ddl)


def _versions(t):
    return [dict(h, columns=[(c.id, c.name, c.type)
                             for c in t.snapshot_at(h["version"]).columns])
            for h in t.history()]


def _rows(t):
    return sorted(map(tuple, t.read().collect()))


def _catalog(spark, path):
    cat = LakeCatalog.create(spark, path)
    for name in ("files", "files2"):
        cat.create_table("repos", name, SCHEMA, ["repo", "path"], num_buckets=2)
    return cat


def _state(cat):
    return {name: (_versions(cat.get("repos", name)), _rows(cat.get("repos", name)))
            for name in ("files", "files2")}


def _force_merges(monkeypatch):
    """The merge-path twin: no segment counts as provably empty."""
    monkeypatch.setattr(apply_mod, "segment_empty", lambda low, hi, stats: False)


def _multi_apply(spark, tmp_path, spark_jobs, batch, twin):
    """Apply ``batch`` to a fresh catalog, then to a twin catalog through
    the merge path: ``twin()`` forces it and returns the scan to pass (None:
    the applier runs its own). Returns ``(jobs, states, metrics)`` keyed by
    "elided" and "merged"."""
    jobs, states, ms = {}, {}, {}
    for name in ("elided", "merged"):
        cat = _catalog(spark, str(tmp_path / name))
        applier = MultiTableApplier(cat, PAIRS)
        scan = None if name == "elided" else twin()
        with spark_jobs() as jobs[name]:
            ms[name] = applier.apply(batch, batch_id=1, scan=scan)
        states[name] = _state(cat)
    return jobs, states, ms


def _batch(spark, events):
    batch = spark.createDataFrame(events, CHANGE_SCHEMA).cache()
    batch.count()
    return batch


def _ddl_rows(batch):
    return (batch.filter(ddl_candidates_cond())
            .select("gtid", "op", "ddl", "schema_name", "table_name").collect())


def test_multi_table_back_to_back_alters_run_no_middle_merge(
        spark, tmp_path, spark_jobs, monkeypatch):
    """files: DML | ADD stars @7 | ADD lang2 @8 | DML; files2: DML only.
    No gtid fits in the (7, 8) segment of files, so it commits without a
    merge."""
    batch = _batch(spark, [_ev(g, "INSERT", "files", f"p{g}") for g in range(1, 5)]
                   + [_ev(g, "INSERT", "files2", f"p{g}") for g in (5, 6)]
                   + [_ev(7, "QUERY", ddl="ALTER TABLE repos.files ADD COLUMN stars INT"),
                      _ev(8, "QUERY", ddl="ALTER TABLE repos.files ADD COLUMN lang2 VARCHAR(8)")]
                   + [_ev(g, "INSERT", "files", f"p{g}") for g in range(9, 12)]
                   + [_ev(12, "INSERT", "files2", "p12")])

    def twin():
        _force_merges(monkeypatch)

    jobs, states, ms = _multi_apply(spark, tmp_path, spark_jobs, batch, twin)
    for m in ms.values():
        assert m["segments"] == 4 and m["ddl_applied"] == 2
        assert m["rows_inserted"] == 10
    assert len(jobs["elided"]) < len(jobs["merged"])
    assert states["elided"] == states["merged"]
    columns = states["elided"]["files"][0][-1]["columns"]
    assert [n for _, n, _ in columns] == [c for c, _ in SCHEMA] + ["stars", "lang2"]
    batch.unpersist()


def test_multi_table_alters_after_all_dml_run_no_merge(spark, tmp_path, spark_jobs):
    """files: DML | ADD stars @7 | files2 DML @8 | ADD lang2 @9. The
    batch's DML stats (over all pairs) end at gtid 8, so the files segment
    after gtid 9 is provably empty. The (7, 9) segment merges: the stats
    cannot tell files2's row at 8 from a files row. The twin's scan
    carries no stats."""
    batch = _batch(spark, [_ev(g, "INSERT", "files", f"p{g}") for g in range(1, 5)]
                   + [_ev(g, "INSERT", "files2", f"p{g}") for g in (5, 6)]
                   + [_ev(7, "QUERY", ddl="ALTER TABLE repos.files ADD COLUMN stars INT"),
                      _ev(8, "INSERT", "files2", "p8"),
                      _ev(9, "QUERY", ddl="ALTER TABLE repos.files ADD COLUMN lang2 VARCHAR(8)")])
    rows = _ddl_rows(batch)
    jobs, states, ms = _multi_apply(spark, tmp_path, spark_jobs, batch,
                                    lambda: DdlScan(rows, None))
    for m in ms.values():
        assert m["segments"] == 4 and m["ddl_applied"] == 2
        assert m["rows_inserted"] == 7
    assert len(jobs["elided"]) < len(jobs["merged"])
    assert states["elided"] == states["merged"]
    batch.unpersist()


# batch 0 (span 10): observed DML; batch 1: DML | ADD @11 | ADD @12 | DML
_STREAM = ([_ev(g, "INSERT", "files", f"p{g}") for g in range(1, 11)]
           + [_ev(11, "QUERY", ddl="ALTER TABLE repos.files ADD COLUMN stars INT"),
              _ev(12, "QUERY", ddl="ALTER TABLE repos.files ADD COLUMN lang2 VARCHAR(8)"),
              _ev(13, "INSERT", "unobserved", "px")]
           + [_ev(g, "INSERT", "files", f"q{g}") for g in (14, 15)])


@pytest.mark.parametrize("kind", ["table", "catalog"])
def test_runner_back_to_back_alters_run_no_middle_merge(spark, tmp_path, spark_jobs,
                                                        monkeypatch, kind):
    """A runner batch with back-to-back ALTERs: its window scan carries no
    DML stats, yet the segment between the ALTERs holds no gtid and
    commits without a merge."""
    stream = _batch(spark, _STREAM)
    states, jobs = {}, {}
    for name in ("elided", "merged"):
        if name == "merged":
            _force_merges(monkeypatch)
        if kind == "table":
            target = LakeTable.create(spark, str(tmp_path / name), SCHEMA,
                                      ["repo", "path"], num_buckets=2)

            def runner():
                return ReplayRunner(spark, target, batch_span=10)
        else:
            target = _catalog(spark, str(tmp_path / name))

            def runner():
                return CatalogReplayRunner(spark, target, batch_span=10, config=PAIRS)
        runner().run(stream.filter("gtid < 10"))
        with spark_jobs() as jobs[name]:
            m = runner().run(stream.filter("gtid >= 10"), bounds=(10, 15))
        assert m["batches"] == 1 and m["ddl_applied"] == 2
        states[name] = (_state(target) if kind == "catalog"
                        else (_versions(target), _rows(target)))
    assert len(jobs["elided"]) < len(jobs["merged"])
    assert states["elided"] == states["merged"]
    stream.unpersist()
