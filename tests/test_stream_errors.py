"""A failed foreachBatch reaches Spark as one short error.

Spark 4.1's StreamExecution matches a failed foreachBatch's Py4J error
message against PROXY_ERROR to tell an interrupt (a stop) from a failure.
The regex recurses once per character, so a message carrying a long Java
stack kills the stream thread with StackOverflowError and hides the cause.
The shells' handler re-raises every failure as a short error: an interrupt
still matches PROXY_ERROR, anything else names its epoch and root cause."""

import re
import threading
import time
import traceback

import pytest

from th2_listener_mysql_binlog_go_spark.plans.lake import LakeTable
from th2_listener_mysql_binlog_go_spark.sources.changestream import (
    CHANGE_SCHEMA,
    synthetic_changestream,
)
from th2_listener_mysql_binlog_go_spark.streaming.structured import (
    EpochRefused,
    StreamingApplier,
    _short_errors,
)

# StreamExecution.PROXY_ERROR of spark-sql_2.13-4.1.2, ported verbatim: the
# prefix's dots are unescaped there too
_INTERRUPTS = ["java.lang.InterruptedException", "java.io.InterruptedIOException",
               "java.nio.channels.ClosedByInterruptException"]
PROXY_ERROR = re.compile(
    "py4j.protocol.Py4JJavaError: An error occurred while calling((.|\r\n|\r|\n)*)("
    + "|".join(_INTERRUPTS) + ")")

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def _java_trace(exc_line: str, frames: int) -> str:
    """The text of a Py4JJavaError as PySpark formats it: the call, then the
    Java exception and its stack."""
    return ("An error occurred while calling o123.collect.\n"
            f": {exc_line}\n"
            + "\tat org.apache.spark.sql.execution.SparkPlan.executeCollect"
              "(SparkPlan.scala:456)\n" * frames)


class _Py4JJavaError(Exception):
    """Formats like py4j's Py4JJavaError in a traceback."""


_Py4JJavaError.__module__ = "py4j.protocol"
_Py4JJavaError.__name__ = _Py4JJavaError.__qualname__ = "Py4JJavaError"


def _raise_chained(exc_line: str, frames: int):
    def handle(batch_df, epoch_id):
        try:
            raise _Py4JJavaError(_java_trace(exc_line, frames))
        except _Py4JJavaError as e:
            raise RuntimeError("apply failed") from e
    return handle


@pytest.mark.parametrize("exc_line,interrupt", [
    ("java.lang.InterruptedException", True),
    ("java.io.InterruptedIOException: read interrupted", True),
    ("java.nio.channels.ClosedByInterruptException", True),
    ("org.apache.spark.SparkException: Job aborted: disk full", False),
])
def test_classifier_agrees_with_proxy_error(exc_line, interrupt, capsys):
    """The handler's error matches PROXY_ERROR exactly when the original
    traceback does, and stays short either way."""
    with pytest.raises(RuntimeError) as info:
        _short_errors(_raise_chained(exc_line, 40))(None, 7)
    original = "".join(traceback.format_exception(info.value.__context__))
    sent = "".join(traceback.format_exception(info.value))  # what py4j sends
    assert bool(PROXY_ERROR.search(original)) == interrupt
    assert bool(PROXY_ERROR.search(sent)) == interrupt
    assert info.value.__suppress_context__ and len(str(info.value)) < 300
    assert len(sent) < 2000
    if interrupt:
        assert "epoch 7 interrupted" in str(info.value)
    else:
        assert str(info.value).startswith(
            "epoch 7 failed: Py4JJavaError: org.apache.spark.SparkException: "
            "Job aborted: disk full")
    err = capsys.readouterr().err  # the full trace is kept either way
    assert exc_line in err and "SparkPlan.scala:456" in err


def test_plain_python_error_names_type_and_first_line(capsys):
    def handle(batch_df, epoch_id):
        raise ValueError("missing column\nsecond line")

    with pytest.raises(RuntimeError, match=r"^epoch 3 failed: ValueError: missing column") as info:
        _short_errors(handle)(None, 3)
    assert "second line" not in str(info.value)
    assert "ValueError: missing column" in capsys.readouterr().err


def test_messages_name_the_shells_epoch(capsys):
    """After a handoff the shell numbers epochs from ``epoch_base``; the
    short error names that number, as lineage and ``refused_epoch`` do."""
    with pytest.raises(RuntimeError, match=r"^epoch 103 failed: KeyError"):
        _short_errors(lambda df, e: {}["x"], epoch_base=100)(None, 3)
    with pytest.raises(RuntimeError, match=r"epoch 103 interrupted"):
        _short_errors(_raise_chained("java.lang.InterruptedException", 2),
                      epoch_base=100)(None, 3)


def test_refusal_passes_through_unchanged(capsys):
    """The stopping shell's refusal is already short: it reaches Spark with
    its own message and prints no traceback."""
    def handle(batch_df, epoch_id):
        raise EpochRefused(f"epoch {epoch_id} not applied: the shell is stopping")

    with pytest.raises(EpochRefused, match=r"^epoch 5 not applied") as info:
        _short_errors(handle, epoch_base=4)(None, 5)
    assert not info.value.__suppress_context__
    assert capsys.readouterr().err == ""


class _FailsDuringStop(StreamingApplier):
    """The first epoch waits until ``query.stop()`` has begun, then fails
    with a ~100 KB Py4J-style Java trace as its text."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.in_epoch, self.stop_called = threading.Event(), threading.Event()

    def _apply_epoch(self, batch_df, epoch_id):
        self.in_epoch.set()
        assert self.stop_called.wait(120)
        time.sleep(2)  # query.stop() has marked the query terminated by now
        raise RuntimeError("py4j.protocol.Py4JJavaError: " + _java_trace(
            "java.lang.IllegalStateException: root cause marker", 1500))


def test_long_java_trace_at_stop_ends_the_query_with_its_root_cause(spark, tmp_path):
    """Spark runs the PROXY_ERROR check on an epoch that fails while the
    query stops: the short error keeps the stream thread alive to record
    the failure, and it names the root cause."""
    src = str(tmp_path / "events")
    synthetic_changestream(spark, 200, n_repos=5, n_paths=10).write.parquet(src)
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"],
                             num_buckets=2)
    sa = _FailsDuringStop(spark, table)
    q = sa.start(src, str(tmp_path / "ckpt"), CHANGE_SCHEMA, available_now=False)
    assert sa.in_epoch.wait(120)
    sa.stop_called.set()
    q.stop()  # interrupts the stream thread, then waits for the epoch to return
    assert not q.isActive
    err = str(q.exception())
    assert "epoch 0 failed" in err
    assert "IllegalStateException: root cause marker" in err
