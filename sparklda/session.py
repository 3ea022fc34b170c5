"""SparkSession bootstrap.

The engine builds one kind of master, ``local[N]``: a single JVM with N task
slots. N comes from ``SPARK_GRAFT_CPUS`` and defaults to the cores this
process may run on. The shuffle is therefore bounded by one machine, so its
width is derived from N rather than configured:
``spark.sql.shuffle.partitions = 2 * N``, two tasks per core, the low end of
Spark's tuning-guide advice. AQE, on by default in Spark 4, coalesces
below that at runtime.

The trade-off: 2N partitions suit a shuffle that one machine holds, and the
engine builds no other master. A width sized for a cluster, such as Spark's
default of 200, makes each map task write 200 partitions for a few tens of
thousands of pre-aggregated rows, which AQE then merges back to at most N
reduce tasks. A caller whose shuffle outgrows 2N partitions raises the width
with Spark's own runtime setting,
``spark.conf.set("spark.sql.shuffle.partitions", n)``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cores() -> int:
    """Task slots of the ``local[N]`` master, from ``SPARK_GRAFT_CPUS``."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    # Fail here, not later as an opaque master-URL error from the JVM.
    try:
        n = int(raw)
    except ValueError:
        raise ValueError(f"SPARK_GRAFT_CPUS={raw!r} is not an integer") from None
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be >= 1, got {raw!r}")
    return n


def get_spark(app_name: str = "sparklda") -> SparkSession:
    """Build (or fetch) a ``local[N]`` SparkSession tuned for this engine."""
    cpus = _cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
