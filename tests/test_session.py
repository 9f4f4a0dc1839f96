"""``build_session`` turns off PySpark's per-call DataFrame call-site capture.

With ``spark.python.sql.dataFrameDebugging.enabled`` at PySpark's default
(true), every wrapped API call also reads a conf through the JVM and sets and
clears the JVM-side origin; off, building a Column is one JVM method call.
"""

from __future__ import annotations

from py4j.clientserver import ClientServerConnection
from pyspark.errors import utils as errors_utils
from pyspark.sql import functions as F

FLAG = "spark.python.sql.dataFrameDebugging.enabled"


def _fresh_flag(monkeypatch) -> None:
    # PySpark caches the flag at the first Column built while a session is
    # active — or as False when a Column was built before any session existed,
    # which would hide a missing conf. Re-read it from the session under test.
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)


def test_build_session_turns_off_call_site_capture(spark, monkeypatch):
    assert spark.conf.get(FLAG) == "false"
    _fresh_flag(monkeypatch)
    assert errors_utils.is_debugging_enabled() is False


def test_column_is_one_py4j_round_trip(spark, monkeypatch):
    _fresh_flag(monkeypatch)
    F.col("warm")  # resolves the flag and the JVM function handles
    sent: list[str] = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # py4j releasing a dead object
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    F.col("x")
    # two reflection lookups (the ``functions`` class, its ``col`` member)
    # and ONE method call; with capture on it is 13 commands, 4 of them calls
    assert [c.split("\n", 1)[0] for c in sent] == ["r", "r", "c"], sent
