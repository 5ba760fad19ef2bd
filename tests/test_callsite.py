"""PySpark call-site capture is off by default in ``get_spark``
(``spark.python.sql.dataFrameDebugging.enabled``): with it on, every
DataFrame/Column API call looks up ``PySparkCurrentOrigin`` in the JVM
and walks the Python stack."""

import pyspark.errors.utils as pyspark_errors
from py4j.java_gateway import JVMView

from wimbd_spark.session import get_spark

from conftest import SF_DIR as SF

KEY = "spark.python.sql.dataFrameDebugging.enabled"


def test_get_spark_turns_call_site_capture_off(spark):
    assert spark.conf.get(KEY) == "false"


def test_extra_conf_turns_call_site_capture_back_on(monkeypatch):
    # a static conf: it only takes effect when a session is built, so
    # read what get_spark hands the builder instead of building one
    from pyspark.sql import SparkSession

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    assert get_spark()[KEY] == "false"
    assert get_spark(extra_conf={KEY: "true"})[KEY] == "true"


def _origin_lookups(spark, monkeypatch, debugging_cache):
    """PySparkCurrentOrigin lookups made while constructing
    lsh_neardup_pairs, with PySpark's process-wide flag cache set to
    ``debugging_cache`` (None: read from the session conf)."""
    import __spark_entry__ as entry

    entry.queries()["lsh_neardup_pairs"](spark, SF)  # load the table first
    monkeypatch.setattr(pyspark_errors, "_enable_debugging_cache", debugging_cache)
    names = []
    real = JVMView.__getattr__

    def spy(self, name):
        names.append(name)
        return real(self, name)

    monkeypatch.setattr(JVMView, "__getattr__", spy)
    entry.queries()["lsh_neardup_pairs"](spark, SF)
    monkeypatch.undo()
    return sum("PySparkCurrentOrigin" in n for n in names)


def test_query_construction_captures_no_call_sites(spark, monkeypatch):
    assert _origin_lookups(spark, monkeypatch, None) == 0


def test_call_site_spy_sees_capture_when_on(spark, monkeypatch):
    assert _origin_lookups(spark, monkeypatch, True) > 0
