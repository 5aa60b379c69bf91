"""``session.get_spark`` turns PySpark 4's call-site capture off and starts
its Python workers from ``pyworker``.

With ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's default),
every ``Column`` method and ``functions.*`` call walks the Python stack and
makes extra py4j round trips to attach its call site. ``pyworker``'s
workers skip re-reading unchanged zip archives before each task, and
``spark.executorEnv.PYTHONPATH`` lets them import the package whatever the
driver's working directory.
"""

from __future__ import annotations

import os
import subprocess
import sys

import py4j.java_gateway
from pyspark.sql import functions as F

from postgres_cdc_example_spark.session import PACKAGE_ROOT

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"
DAEMON = "postgres_cdc_example_spark.pyworker"
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


def test_workers_run_the_engine_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON

    def patch_owner(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            owner = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pydict({"owner": [owner]})

    rows = spark.range(0, 4, 1, 2).mapInArrow(patch_owner, "owner string").collect()
    assert {r.owner for r in rows} == {DAEMON}


DRIVER = """
import sys
sys.path.insert(0, {root!r})
import pyarrow as pa
from postgres_cdc_example_spark.operators import similarity
from postgres_cdc_example_spark.session import get_spark

spark = get_spark(app_name="other-cwd", shuffle_partitions=2)
vecs = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
side = pa.table({{"vec_id": [v for v, _ in vecs], "embedding": [e for _, e in vecs]}})
print("ROWS", similarity.raw_cosine_pairs(df, side, top2=True).count())
spark.stop()
"""


def test_kernel_runs_from_another_working_directory(tmp_path):
    """The cosine kernel is pickled by reference; a driver started outside
    the checkout, with the repo only on its ``sys.path``, still gets rows."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    out = subprocess.run(
        [sys.executable, "-c", DRIVER.format(root=PACKAGE_ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 6" in out.stdout
