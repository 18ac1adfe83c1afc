"""SparkSession factory.

Defaults are chosen for the driver harness (single-node local[N]) but every
setting is the one you'd want on a real cluster too: AQE handles skew and
partition coalescing at runtime, broadcast threshold keeps dimension joins
shuffle-free, UTC session time keeps timestamp semantics engine-portable.

Streaming checkpoints (offset and commit logs, state-store ``.delta``
files) live where the writer's ``checkpointLocation`` option points, else
under ``spark.sql.streaming.checkpointLocation/<query name>``, else in a
temporary directory for sinks that allow one (the memory sink behind
``run_stream_flow``). When Hadoop's ``fs.defaultFS`` is ``file:``, the
session writes them through Spark's ``FileSystemBasedCheckpointFileManager``
instead of the default ``FileContextBasedCheckpointFileManager``
(``local_checkpoint_conf``). Without Hadoop's native library the default
manager runs a ``readlink`` shell command on every rename, and a stateful
micro-batch renames offsets, commits, ``.delta``, ``.crc`` and checksum
files: 208 child processes and 0.23 s of their CPU per batch of the
``events_stream`` benchmark flow on a ``local[2]`` session (4-vCPU VM),
45 and 0.05 s with the swap. Each file is still published by one atomic
local rename. One difference: a replayed batch does not overwrite state
files its first attempt already wrote (the local FileSystem will not
rename over a file), so the first attempt's state stays (FLOWSPEC.md,
"Streaming flows"). Sessions on HDFS or an object store keep Spark's
default; an explicit ``spark.sql.streaming.checkpointFileManagerClass``
always wins.

The Arrow kernels (POS tags, RBEM polarity, MinHash, SimHash, n-gram
spans, ...) run as pandas UDFs whose Python workers import
``tuktu_spark``. ``add_package_to_worker_path`` puts the directory holding
the package on the workers' PYTHONPATH, so they import it whatever the
driver's working directory is.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def add_package_to_worker_path(sc) -> None:
    """Prepend ``PACKAGE_PARENT`` to ``sc.environment["PYTHONPATH"]``.
    Every Python UDF created afterwards carries that environment to its
    workers (a plain dict update: no conf access, no session state).
    Idempotent. On a cluster whose executors do not share the driver's
    filesystem, ship the package with ``addPyFile`` as usual."""
    env = sc.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in parts:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_PARENT, *parts])


def local_checkpoint_conf(default_fs: str, conf: Mapping[str, str]) -> dict[str, str]:
    """The checkpoint-manager setting to add for a session whose Hadoop
    default FS is ``default_fs`` and whose conf is ``conf``: the
    FileSystem-based manager on a ``file:`` default FS, nothing otherwise
    or when the caller already chose a manager."""
    if CHECKPOINT_MANAGER_KEY in conf or not default_fs.startswith("file:"):
        return {}
    return {CHECKPOINT_MANAGER_KEY: LOCAL_CHECKPOINT_MANAGER}


def hadoop_default_fs(spark: SparkSession) -> str:
    return spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")


def apply_local_checkpoint_conf(spark: SparkSession) -> None:
    """Apply ``local_checkpoint_conf`` to the runtime conf of a session
    that is already in use (reading it builds the session state)."""
    if spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is not None:
        return  # chosen already; skip reading the Hadoop conf
    for k, v in local_checkpoint_conf(hadoop_default_fs(spark), {}).items():
        spark.conf.set(k, v)


def get_spark(
    app_name: str = "tuktu-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract).
    On a real cluster ``master`` is supplied externally; everything here
    remains valid at 1000 executors.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~1 shuffle partition per core. On a cluster you'd size
        # this to data volume (AQE coalescing makes over-provisioning cheap).
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # test corpus `events.ts` is parquet TIMESTAMP(NANOS) which Spark
        # has no native type for; read as long, normalized in tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Into the SparkContext's conf, which every session on the context
    # inherits when it builds its state. Going through spark.conf here
    # would build this session's state (~0.4 s) before its first query.
    sc_conf = spark.sparkContext._conf
    caller = {**dict(sc_conf.getAll()), **(extra_conf or {})}
    for k, v in local_checkpoint_conf(hadoop_default_fs(spark), caller).items():
        sc_conf.set(k, v)
    add_package_to_worker_path(spark.sparkContext)
    return spark
