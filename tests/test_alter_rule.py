"""One ALTER rule (``plans.lake.altered_columns``): the applier's
segmentation simulation flags a DDL as schema-changing exactly when
``LakeTable`` changes its (name, type) column list by applying it."""

import random

import pytest

from th2_listener_mysql_binlog_go_spark.functions.ddl import AlterCommand, parse_alter
from th2_listener_mysql_binlog_go_spark.operators.apply import BatchApplier
from th2_listener_mysql_binlog_go_spark.plans.lake import (
    _WIDEN_OK,
    ColumnSpec,
    LakeTable,
    altered_columns,
)

_SQL_TYPE = {"tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INT",
             "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
             "string": "VARCHAR(16)"}
_NAMES = ["repo", "path", "content", "stars", "lang", "size"]


def _shape(t):
    return [(c.name, c.type) for c in t.snapshot.columns]


def _random_ddl(rng, cols):
    """One ALTER over a mix of present, absent and key column names."""
    kind = rng.choice(["add", "rename", "modify", "drop"])
    name = rng.choice(_NAMES + [c.name for c in cols])
    if kind == "add":
        return f"ALTER TABLE repos.files ADD COLUMN {name} {_SQL_TYPE[rng.choice(list(_SQL_TYPE))]}"
    if kind == "rename":
        new = rng.choice(_NAMES + [name])  # includes rename-to-self
        return f"ALTER TABLE repos.files RENAME COLUMN {name} TO {new}"
    if kind == "modify":
        cur = next((c.type for c in cols if c.name == name), "int")
        widen = [b for a, b in _WIDEN_OK if a == cur]
        typ = rng.choice(widen + [cur, rng.choice(list(_SQL_TYPE))])  # widen, same, any
        return f"ALTER TABLE repos.files MODIFY COLUMN {name} {_SQL_TYPE[typ]}"
    return f"ALTER TABLE repos.files DROP COLUMN {name}"


def _check_flags(t, stmts):
    """The simulation's flags for ``stmts`` against ``t``, then each DDL
    applied for real: flag i must equal "the (name, type) list changed"."""
    ddls = [{"gtid": i, "op": "ALTER_TABLE", "ddl": s} for i, s in enumerate(stmts)]
    applier = BatchApplier(t)
    flags = applier._simulate_schema_changes(ddls)
    changed = []
    for d in ddls:
        before = _shape(t)
        applier._apply_ddl(d)
        changed.append(_shape(t) != before)
    assert flags == changed, list(zip(stmts, flags, changed))
    return changed


@pytest.mark.parametrize("seed", range(6))
def test_simulation_flags_match_table_changes(spark, tmp_path, seed):
    rng = random.Random(seed)
    t = LakeTable.create(spark, str(tmp_path / "t"),
                         [("repo", "string"), ("path", "string"),
                          ("content", "string"), ("stars", "tinyint")],
                         key_cols=["repo", "path"], num_buckets=2)
    stmts = []
    cols = list(t.snapshot.columns)
    for _ in range(25):
        stmts.append(_random_ddl(rng, cols))
        try:
            cols = altered_columns(cols, t.snapshot.key_ids, parse_alter(stmts[-1]),
                                   1 + max(c.id for c in cols))
        except ValueError:
            pass
    changed = _check_flags(t, stmts)
    assert any(changed) and not all(changed)


def test_every_widening_no_ops_keys_and_a_narrowing(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"),
                         [("repo", "string"), ("path", "string")],
                         key_cols=["repo", "path"], num_buckets=2)
    stmts, expect = [], []
    for i, (a, b) in enumerate(sorted(_WIDEN_OK)):
        stmts += [f"ALTER TABLE repos.files ADD COLUMN w{i} {_SQL_TYPE[a]}",
                  f"ALTER TABLE repos.files MODIFY COLUMN w{i} {_SQL_TYPE[b]}"]
        expect += [True, True]
    stmts += [
        "ALTER TABLE repos.files MODIFY COLUMN w0 DOUBLE",  # string -> double narrows
        "ALTER TABLE repos.files ADD COLUMN w1 INT",  # exists
        "ALTER TABLE repos.files RENAME COLUMN w1 TO w1",  # to itself
        "ALTER TABLE repos.files RENAME COLUMN w1 TO w2",  # onto an existing name
        "ALTER TABLE repos.files MODIFY COLUMN w2 BIGINT",  # same type
        "ALTER TABLE repos.files DROP COLUMN nosuch",
        "ALTER TABLE repos.files DROP COLUMN repo",  # key
        "ALTER TABLE repos.files RENAME COLUMN repo TO owner",  # key rename: allowed
        "ALTER TABLE repos.files DROP COLUMN owner",  # still a key
        "ALTER TABLE repos.files ADD INDEX idx (w1)",  # kind 'other'
    ]
    expect += [False, False, False, False, False, False, False, True, False, False]
    assert _check_flags(t, stmts) == expect
    assert t.snapshot.key_names == ["owner", "path"]


@pytest.mark.parametrize("cmd", [
    AlterCommand("add", column="a", type_="int"),
    AlterCommand("rename", column="x", new_name="y"),
    AlterCommand("rename", column="b", new_name="a"),
    AlterCommand("modify", column="x", type_="bigint"),
    AlterCommand("modify", column="b", type_="int"),
    AlterCommand("drop", column="x"),
    AlterCommand("drop", column="k"),
    AlterCommand("other"),
], ids=["add-existing", "rename-absent", "rename-onto", "modify-absent",
        "narrow", "drop-absent", "drop-key", "other"])
def test_altered_columns_refusals(cmd):
    cols = [ColumnSpec(1, "k", "string"), ColumnSpec(2, "a", "int"),
            ColumnSpec(3, "b", "bigint")]
    with pytest.raises(ValueError):
        altered_columns(cols, [1], cmd, 4)
