"""SparkSession factory + per-query runtime tuning.

Two paths:
- ``get_spark()``: build a session for tests/bench (local[N], AQE, Arrow).
  Besides ``tune()``'s confs it sets these static confs, which cut the
  fixed cost of every streaming trigger and every Python job:
  - ``spark.python.daemon.module``: Python workers fork from
    ``daemon.py``, whose zip imports skip the per-task re-read of
    pyspark.zip;
  - ``spark.sql.streaming.checkpointFileManagerClass``: the FileSystem
    API manager writes the offset and commit logs.  Spark's default, the
    FileContext manager, forks ``chmod`` several times per file where
    Hadoop has no native library.  Both managers write to a temp file
    and ``rename(2)`` it, which is atomic on the local POSIX file system
    that a ``local[N]`` session checkpoints to, and both keep the
    ``.crc`` checksums;
  - ``spark.python.unix.domain.socket.enabled`` and ``.dir``: Python
    workers talk to the JVM over Unix-domain sockets in an owner-only
    (0700) directory, removed at exit.  A Unix socket skips Spark's
    per-connection secret, so the directory's mode is what keeps other
    users out.  Where a socket path there would not fit ``sun_path``,
    workers keep TCP and the secret.
- ``tune(spark)``: idempotently apply the *runtime* confs we depend on to a
  session we did not create (the driver owns the session for ``queries()``)
  — session timezone, AQE, shuffle parallelism.  Only runtime-settable
  confs are touched, so this is safe on a live session.  The static confs
  above stay ``get_spark``'s: a session the engine did not build may
  checkpoint to an object store, where a rename is not atomic.

Scale posture: these defaults are for local[32] @ sf<=0.1.  On a real
cluster the same code runs unchanged; shuffle partitions should be sized
~2-3x total cores (or left to AQE coalescing, which we enable), and
``spark.sql.files.maxPartitionBytes`` kept at 128-256 MB so a 100 TB scan
yields ~500k-1M well-sized input splits.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session that runs our queries.
# UTC matters: the DuckDB oracle reads parquet timestamps as wall-clock;
# a non-UTC Spark session shifts them on collect and breaks hash-matching.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource predicate pushdown (Spark 4.1, off by default):
    # lets es_reader_sim compile Spark filters to ES term/terms/range
    # clauses instead of scanning the whole index
    "spark.sql.python.filterPushdown.enabled": "true",
    # 64 MB: node-cardinality array frames (adjacency lists, centroid
    # tables) sit in the 30-60 MB band at probe scale; Spark ships
    # broadcasts of this size routinely, and AQE still gates on the
    # ACTUAL runtime size, so an oversized build side falls back to SMJ.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}

# Only the timezone is load-bearing for CORRECTNESS (the oracle compares
# wall-clock values); a failure to set it must surface, not be skipped.
_REQUIRED_CONFS = {"spark.sql.session.timeZone"}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs idempotently; never touches static confs.
    Sessions that kept Spark's stock 200 shuffle partitions get our
    local-sized default; a session that set its own value wins."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            if k in _REQUIRED_CONFS:
                raise
            # cosmetic conf not settable on this build — keep going
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    return spark


# pyspark names each worker socket ``<dir>/.<uuid4>.sock`` (43 bytes past
# the directory); Linux's sun_path holds 107 bytes plus the NUL
_SOCKET_NAME_BYTES = len("/.") + 36 + len(".sock")
_SUN_PATH_BYTES = 107


@functools.cache
def _worker_socket_dir() -> str | None:
    """This process's owner-only directory for Python worker sockets,
    removed at exit; None where a socket path in it would not fit."""
    path = tempfile.mkdtemp(prefix="gpe")  # mode 0700 whatever the umask
    if len(os.fsencode(path)) + _SOCKET_NAME_BYTES > _SUN_PATH_BYTES:
        os.rmdir(path)
        return None
    atexit.register(shutil.rmtree, path, True)
    return path


def get_spark(app_name: str = "gpe-spark", cpus: int | None = None) -> SparkSession:
    """Session for tests and bench.  local[N] stands in for a cluster; all
    operator code is partition-aware and runs unchanged on multi-executor."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("GPE_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # static: Python workers fork from our daemon, whose zip imports
        # skip the per-task re-read of pyspark.zip (see daemon.py)
        .config("spark.python.daemon.module", "go_pulsar_elasticsearch_spark.daemon")
        # static: offset and commit logs through the FileSystem API, and
        # worker sockets in an owner-only directory (see module docstring)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    socket_dir = _worker_socket_dir()
    if socket_dir is not None:
        builder = builder.config(
            "spark.python.unix.domain.socket.enabled", "true"
        ).config("spark.python.unix.domain.socket.dir", socket_dir)
    spark = builder.getOrCreate()
    return tune(spark)
