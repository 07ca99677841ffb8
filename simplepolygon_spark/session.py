"""SparkSession factory with engine defaults.

Centralizes the configs that matter at scale (AQE, Arrow batch sizing,
shuffle partitions) so every entry point — tests, bench, spark-submit —
runs the same plan-shaping knobs.  ``parallelism`` is the local[] core
count in the sandbox; on a real cluster pass ``master=None`` so
spark-submit controls deployment (scripts/submit_job.py does).

It also keeps the session to one pool of Python workers.  pyspark keys
its worker pools (one ``pyspark.daemon`` each, with its own idle
workers) by the environment a job's runner passes.  The SQL Arrow
runners behind ``mapInArrow`` add ``SPARK_SIMPLIFIED_TRACEBACK=1``; a
Python RDD job (``createDataFrame`` of Python rows, ``rdd.map``) has it
only as an executor env.  So every session sets it as one: both kinds
of job share one daemon instead of keeping two for the session's life,
and a Python RDD job's errors now show simplified tracebacks too.  A
stage that chains a Python RDD map into ``mapInArrow`` still holds two
workers per task, so on a local master the idle pool is also capped at
``parallelism`` (the slot count), evicting the least recently used.
On a cluster the executors' own conf decides that cap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "simplepolygon_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = "local",
) -> SparkSession:
    """``master="local"`` (default) pins ``local[parallelism]`` — the
    sandbox/test/bench mode.  ``master=None`` leaves the master UNSET so
    ``spark-submit --master yarn|k8s://...`` controls deployment (a
    builder-side .master() would silently override it and run the whole
    job on the driver node); shuffle partitions are then also left to
    cluster conf unless explicitly passed.  Any other string is passed
    through verbatim."""
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = SparkSession.builder.appName(app_name)
    if master == "local":
        b = b.master(f"local[{parallelism}]")
        if shuffle_partitions is None:
            # at local scale: ~2x cores
            shuffle_partitions = max(2 * parallelism, 8)
        # idle Python workers <= slots (module docstring)
        b = b.config("spark.python.factory.idleWorkerMaxPoolSize", str(parallelism))
    elif master is not None:
        b = b.master(master)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big enough to amortize JVM<->Python Arrow dispatch, small enough
        # to keep executor memory bounded (SURVEY.md §7.4 R5)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # one Python worker pool for RDD and SQL Arrow jobs (module docstring)
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# the driver-testdata table set (TESTDATA.md); also the names the
# DuckDB oracle pre-registers, so SQL written against these views is
# cross-checkable by construction
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def register_tables(spark: SparkSession, sf_dir: str, tables=None) -> list:
    """Register the parquet tables under ``sf_dir`` as temp views so the
    whole engine surface is reachable from ``spark.sql(...)`` — the SQL
    half of the API (the oracle-portable expression emitters in
    ``functions/`` compose with these views; see
    ``functions.cells_sql.cell_sql_expr``).  Missing files are skipped
    (a deployment may ship a subset); returns the view names
    registered — check it if you expect a specific set.  Presence is
    probed with ``os.path.exists``, i.e. DRIVER-LOCAL filesystem only:
    on an s3://...-style ``sf_dir`` every table is skipped and the function
    returns ``[]`` rather than failing.  Temp views are metadata only — no data is read until a
    query runs, so registration is free and pruning/pushdown work
    exactly as with ``spark.read``."""
    import os as _os

    done = []
    for t in tables or TABLES:
        p = _os.path.join(sf_dir, f"{t}.parquet")
        if _os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(t)
            done.append(t)
    return done
