"""SparkSession factory tuned for this engine.

Scale posture (100 TB design, local[N] test): AQE on (skew-join splitting +
dynamic coalescing), UTC session timezone (the reference inherits container-local
time from ``datetime.fromtimestamp`` — a latent bug we fix, see SURVEY.md §7.4),
Arrow enabled for the Pandas-UDF paths, shuffle partitions sized to cores locally
(overridable for cluster runs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] width: SPARK_GRAFT_CPUS, else the cores this process may run on
# (a hard-coded width oversubscribes small boxes and starves big ones)
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)

# Executor Python workers must be able to import this package regardless of
# the caller's cwd (Pandas-UDF closures unpickle by module reference). Local
# mode workers inherit the driver env, so exporting PYTHONPATH is enough; on
# a real cluster ship a wheel via --py-files instead.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def get_spark(
    app_name: str = "ideafast-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be ~2-3x total executor cores; locally we
    default both from SPARK_GRAFT_CPUS.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # tz-naive parquet timestamps scan directly as TIMESTAMP (LTZ) —
        # the engine's canonical type — so no per-row NTZ→LTZ cast sits on
        # the event-time hot path (values identical under the UTC session)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # inert unless a fixture carries parquet TIMESTAMP(NANOS) columns
        # (Spark never writes those); pinned here so tables.load never has
        # to flip it on a session this factory built
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    elif master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
