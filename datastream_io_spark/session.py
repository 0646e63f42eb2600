"""SparkSession factory with the engine's physical tuning defaults.

Defaults follow SURVEY.md §4.4: AQE on, Arrow on, shuffle partitions
sized to cores (not 200), UTC session timezone so DuckDB oracle
comparisons are stable, zstd parquet.

:func:`get_spark` starts the JVM and runs no Spark job. Python workers
are forked by the first job that runs a Python UDF (the distributed
build's ``mapInArrow``, a streaming ingest, an over-the-gate query
kernel), as Spark does by default; a session whose builds, queries
and sidecars stay under the in-process gates never forks one.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datastream_io_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``. On a real cluster the same confs are
    passed to ``spark-submit``; nothing here is local-mode-specific
    except the master URL.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 4)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(4, ncores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # finalize/merge read MANY explicit directories (per-bucket
        # segment dirs: n_splits × buckets roots). Past this threshold
        # Spark launches a DISTRIBUTED listing job — one tiny task per
        # root (256-task Stage 0 measured as ~80% of a 2-core finalize
        # call). Driver-side listing of a few thousand dirs is
        # milliseconds on any FS; a real deployment with >10k segment
        # dirs per task should lower it again.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_AQE_LOCK = threading.Lock()
_AQE_SCOPES: dict[int, list] = {}  # id(session) -> [depth, saved value]


@contextmanager
def aqe_disabled(spark: SparkSession):
    """Scope with adaptive query execution off on ``spark``. AQE is a
    session-global conf, so overlapping scopes (concurrent builds,
    finalize inside a build, other threads) share one saved value:
    the first scope to enter saves and disables, the last to leave
    restores. A raw save/set/restore per scope could restore "on"
    under a still-running scope, or save another scope's "off" and
    leave AQE disabled for good."""
    key = id(spark)
    with _AQE_LOCK:
        scope = _AQE_SCOPES.get(key)
        if scope is None:
            scope = _AQE_SCOPES[key] = [
                0, spark.conf.get("spark.sql.adaptive.enabled", "true")]
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        scope[0] += 1
    try:
        yield
    finally:
        with _AQE_LOCK:
            scope[0] -= 1
            if scope[0] == 0:
                del _AQE_SCOPES[key]
                spark.conf.set("spark.sql.adaptive.enabled", scope[1])

