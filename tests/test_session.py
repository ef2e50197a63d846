"""build_session's defaults, read off the builder without starting a JVM."""

from pyspark.sql import SparkSession

from th2_listener_mysql_binlog_go_spark.session import build_session

FLAG = "spark.python.sql.dataFrameDebugging.enabled"


def test_call_site_capture_off_by_default_and_extra_conf_overrides(monkeypatch):
    # getOrCreate would start (or reconfigure) a session: return the
    # options the builder was given instead
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    assert build_session()[FLAG] == "false"
    assert build_session(extra_conf={FLAG: "true"})[FLAG] == "true"


def test_cli_session_turns_call_site_capture_off_and_leaves_master_to_submit(monkeypatch):
    from th2_listener_mysql_binlog_go_spark.__main__ import _spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    opts = _spark("cdc-test")
    assert opts[FLAG] == "false"
    # spark-submit's --master and --driver-memory must stay in charge
    assert "spark.master" not in opts and "spark.driver.memory" not in opts
