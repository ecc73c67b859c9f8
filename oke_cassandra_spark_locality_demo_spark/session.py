"""SparkSession factory.

Reference analog: the demo's session bootstrap at
/root/reference/userdata/cloudinit.sh:337-344 (builder + connection conf +
log level). Here the connector confs are replaced by engine confs: AQE for
runtime re-planning (the stand-in for the connector's adaptive split
sizing), UTC session timezone for oracle parity, Arrow for the
Pandas-UDF slow path.

``spark.python.sql.dataFrameDebugging.enabled`` is off. When on,
PySpark wraps every ``functions.*`` and ``Column`` call to record its
Python call site in the JVM (about five Py4J round trips per call:
active-session lookup, a conf read, an origin set and clear), only to
name that line in engine error messages. A builder makes hundreds of
such calls, so the capture was about half of its build time. Pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to get the call-site context back while debugging.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .conf import shuffle_partitions_for


def _default_driver_mem() -> str:
    """24g, capped at half of the host's MemTotal: a heap larger than
    RAM turns spill into an OOM kill."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def build_session(
    app_name: str = "spark-graft",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the driver's bench harness controls parallelism. On a
    real cluster the caller passes the cluster master URL and the same
    engine confs apply unchanged. The driver heap is
    ``$SPARK_GRAFT_DRIVER_MEM`` if set, else ``_default_driver_mem()``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = shuffle_partitions_for(master)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
