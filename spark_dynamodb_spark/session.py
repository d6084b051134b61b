"""SparkSession builder tuned for the test harness and for scale.

Local mode is a correctness harness; the config is written for the
real target (a many-executor cluster over ~100 TB):

- AQE on (runtime coalescing, skew-join splitting) — on a cluster this
  is what fixes skewed shuffle keys without manual salting.
- shuffle.partitions matched to local cores here; on a cluster this is
  overridden per-job (or left to AQE's coalescing from a high initial).
- Arrow enabled so Pandas-UDF paths are vectorized batch transfer.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Python workers talk to the JVM over Unix domain sockets. Over
  loopback TCP, a worker waited about 40 ms (a delayed-ACK stall) to
  drain a 1-row task input; over a Unix socket it waits none. A Unix
  socket skips Spark's token handshake, and its file takes the process
  umask (mode 0775 under umask 002), so the sockets go in
  ``/tmp/spark-dynamodb-<uid>``, a directory of mode 0700 that only this
  user can enter (``socket_dir``). It is that short because a socket path
  is capped at 108 bytes, and the default (``java.io.tmpdir``) can be
  deeper than that. ``get_spark`` stops the context at exit, so a
  driver that never calls ``stop()`` leaves no socket there either.
- Task workers are forked by ``spark_dynamodb_spark.daemon``, which
  applies ``_reread_zips_on_change`` before it forks, so PythonRDD and UDF
  workers that never run connector code stop re-reading every zip
  archive at each call. ``spark.executorEnv.PYTHONPATH`` names the
  package root, so the daemon imports the package from any working
  directory.
"""

from __future__ import annotations

import atexit
import os
import stat

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def socket_dir() -> str:
    """This user's directory for the session's Unix sockets, made mode 0700
    if it is not there; a path there that is not such a directory is refused."""
    path = f"/tmp/spark-dynamodb-{os.getuid()}"
    try:
        os.mkdir(path, 0o700)
    except FileExistsError:
        pass
    st = os.lstat(path)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o077:
        raise PermissionError(f"{path} must be a directory of this user's, mode 0700")
    return path


def get_spark(app_name: str = "spark_dynamodb_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "spark_dynamodb_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # SparkContext.stop, unlike SparkSession.stop, makes no JVM call once
    # the context is stopped, so it is safe at exit after any shutdown.
    atexit.unregister(spark.sparkContext.stop)  # once per session
    atexit.register(spark.sparkContext.stop)
    return spark
