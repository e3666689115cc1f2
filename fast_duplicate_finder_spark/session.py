"""SparkSession factory with scale-appropriate defaults.

Local mode is the sandbox proxy for a multi-executor cluster; the config
below (AQE, skew join, Arrow) is exactly what we would ship to a 1000-executor
``spark-submit --py-files`` run, minus cluster-only knobs.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

# Repo root (parent of the package dir) — executors' Python workers must be
# able to import this package to deserialize pandas-UDF closures. On a real
# cluster this is `spark-submit --py-files fdf.zip`; in local mode we
# propagate PYTHONPATH to the worker processes.
_PKG_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)


def get_spark(
    app_name: str = "fast_duplicate_finder_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` (or env SPARK_GRAFT_MASTER) overrides the default
    ``local[cores]`` — e.g. ``local-cluster[4,8,8192]`` for real separate
    executor JVMs (the in-sandbox N-vs-4N-executor scaling proxy); on a real
    cluster this is spark-submit's ``--master``, and this factory only adds
    SQL-level conf."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 8)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    py_path = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{py_path}" if py_path else _PKG_ROOT
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers: 512m default causes kill/respawn (fork-storm) churn
        # under the Arrow kernels; on a cluster this maps to
        # spark.executor.pyspark.memory sizing
        .config("spark.python.worker.memory", "2g")
    )
    if master.startswith("local-cluster["):
        # separate executor JVMs: size their heaps to the slot declared in
        # the master string and make the package importable in their Python
        # workers (spark-submit --py-files analogue for the sandbox)
        mem_mb = master.rstrip("]").split(",")[-1].strip()
        builder = (
            builder.config("spark.executor.memory", f"{mem_mb}m")
            .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        )
    # shuffle/spill files on RAM-backed tmpfs: virtio disk syscalls in this
    # sandbox dominate kernel time at high parallelism (measured 40% sys
    # during shuffle-heavy stages); a real cluster uses fast local SSDs for
    # the same role. tmpfs cannot absorb a spill larger than RAM, so it is
    # gated: SPARK_GRAFT_TMPFS_SHUFFLE=1 forces on, =0 forces off, unset
    # uses it only when /dev/shm has ample free space (the dedup cascade
    # must survive the spill-to-disk case, not ENOSPC on it).
    tmpfs_mode = os.environ.get("SPARK_GRAFT_TMPFS_SHUFFLE", "")
    use_tmpfs = tmpfs_mode == "1"
    if tmpfs_mode == "" and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            use_tmpfs = st.f_bavail * st.f_frsize >= 16 << 30
        except OSError:
            use_tmpfs = False
    if use_tmpfs and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
        # standalone-launched executors (local-cluster) ignore
        # spark.local.dir and read SPARK_LOCAL_DIRS from their environment
        os.environ["SPARK_LOCAL_DIRS"] = local_dir
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """Zero-row DataFrame of DDL ``schema`` (all columns nullable) that runs no
    tasks: the optimizer folds ``limit(0)`` into an empty LocalRelation.
    ``spark.createDataFrame([], schema)`` plans a Python-RDD scan instead,
    one Python-worker task per core."""
    fields = DataType.fromDDL(schema)
    return (
        spark.range(1)
        .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in fields])
        .limit(0)
    )
