"""Session defaults set by deepex_spark.session.build_session."""

from pyspark.sql import SparkSession

from deepex_spark.session import build_session

CALL_SITES = "spark.python.sql.dataFrameDebugging.enabled"


def test_build_session_turns_off_python_call_site_capture(spark, monkeypatch):
    """The per-call Python call-site capture is off unless extra_conf turns
    it back on (checked on the options getOrCreate receives: the conf is
    fixed once a session has started)."""
    assert spark.conf.get(CALL_SITES) == "false"
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    assert build_session(master="local[2]")[CALL_SITES] == "false"
    assert build_session(master="local[2]", extra_conf={CALL_SITES: "true"})[CALL_SITES] == "true"
