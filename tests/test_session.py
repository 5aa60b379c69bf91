"""``session.get_spark`` turns PySpark 4's call-site capture off.

With ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's default),
every ``Column`` method and ``functions.*`` call walks the Python stack and
makes extra py4j round trips to attach its call site.
"""

from __future__ import annotations

import py4j.java_gateway
from pyspark.sql import functions as F

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"
# Round trips of a warm ``F.col("a") + F.lit(1)`` under PySpark 4.1:
# 7 with call-site capture off, 27 with it on.
COL_PLUS_LIT_ROUND_TRIPS = 7


def test_get_spark_turns_call_site_capture_off(spark):
    assert spark.conf.get(DEBUG_CONF) == "false"


def test_column_expression_round_trips(spark, monkeypatch):
    calls = []
    send = py4j.java_gateway.GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counting)
    counts = []
    for _ in range(3):  # the first build may also resolve JVM classes
        calls.clear()
        F.col("a") + F.lit(1)
        counts.append(len(calls))
    assert min(counts) <= COL_PLUS_LIT_ROUND_TRIPS, counts
