"""The session factory's driver-cost settings, and that errors stay loud."""

from __future__ import annotations

import py4j.clientserver
import pytest
from pyspark.errors import NumberFormatException
from pyspark.sql import functions as F


def test_dataframe_debugging_is_off(spark):
    # the fixture's session comes from session.get_spark
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_col_costs_three_py4j_commands(spark, monkeypatch):
    """With call-site capture off, building a Column is one JVM call (3 Py4J
    commands) instead of ~20: no session lookup, conf read or
    PySparkCurrentOrigin set/clear around it."""
    F.col("warm")  # first call resolves the JVM functions class
    conn = py4j.clientserver.ClientServerConnection
    sent = []
    send = conn.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(conn, "send_command", counting)
    F.col("x")
    monkeypatch.undo()
    assert len(sent) <= 3, sent


def test_ansi_cast_error_keeps_its_error_class(spark):
    df = spark.createDataFrame([("12",), ("not a number",)], "s string")
    with pytest.raises(NumberFormatException) as e:
        df.select(F.col("s").cast("int")).collect()
    assert e.value.getCondition() == "CAST_INVALID_INPUT"


@pytest.mark.parametrize(
    "phys_gib, want", [(16, "8192m"), (1, "512m"), (96, "49152m"), (512, "49152m")]
)
def test_default_driver_memory_is_half_of_host_capped(monkeypatch, phys_gib, want):
    """No JVM: half of physical memory, never more than 48g."""
    from pysemantic_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._default_driver_memory() == want
