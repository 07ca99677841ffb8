"""One Python worker pool per session, with no more idle workers than slots.

pyspark keys its worker pools by the runner's environment. The SQL
Arrow runners (``mapInArrow``) add ``SPARK_SIMPLIFIED_TRACEBACK=1``; a
Python RDD job (``createDataFrame`` of Python rows, ``rdd.map``) does so
only when the session sets it as an executor env, as ``get_spark`` does.
Without it the two kinds of job start two daemons, each keeping its own
idle workers for the life of the session.

A stage that chains a Python RDD map into ``mapInArrow`` holds two
workers per task, so one pool can still grow to twice the slot count;
``get_spark`` caps the idle workers at the slot count on a local master.

``test_one_daemon_and_idle_workers_capped`` runs such a stage and then
a plain ``mapInArrow`` in a fresh ``local[2]`` session in a subprocess
(this file run as a script), then counts the session's daemons and
workers in /proc.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from pyworkers import python_workers

REPO = Path(__file__).resolve().parent.parent
SLOTS = 2


def _drive() -> dict:
    from simplepolygon_spark.operators.decompose import (
        POLYGONS_SCHEMA,
        decompose_polygons,
        validate_polygons,
    )
    from simplepolygon_spark.session import get_spark
    from simplepolygon_spark.sources.footprints import footprint_rows, footprints_df

    spark = get_spark("one-worker-pool", parallelism=SLOTS)
    rows = spark.sparkContext.parallelize(footprint_rows(2), 4)
    chained = validate_polygons(spark.createDataFrame(rows, POLYGONS_SCHEMA)).count()
    plain = decompose_polygons(footprints_df(spark, grid=2)).count()
    # an evicted worker exits asynchronously: give it a moment
    deadline = time.monotonic() + 10
    while True:
        procs = python_workers()
        daemons = sum(p["daemon"] for p in procs)
        workers = len(procs) - daemons
        if (daemons == 1 and workers <= SLOTS) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    spark.stop()
    return {"rows": [chained, plain], "daemons": daemons, "workers": workers}


@pytest.mark.skipif(not Path("/proc/self/stat").exists(), reason="needs /proc")
def test_one_daemon_and_idle_workers_capped(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, __file__],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert all(report["rows"]), report
    assert report["daemons"] == 1, report
    assert report["workers"] <= SLOTS, report


def test_session_sets_one_pool_key_and_the_idle_cap(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK") == "1"
    assert conf.get("spark.python.factory.idleWorkerMaxPoolSize") == str(
        spark.sparkContext.defaultParallelism
    )


def test_cluster_master_leaves_the_idle_cap_unset(monkeypatch):
    from simplepolygon_spark.session import get_spark

    # the builder's options, without starting a session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    options = get_spark(master=None)
    assert options["spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK"] == "1"
    assert "spark.python.factory.idleWorkerMaxPoolSize" not in options
    assert "spark.master" not in options


if __name__ == "__main__":
    print(json.dumps(_drive()))
