"""SparkSession factory tuned for the engine's workload.

Design notes (100 TB / 1000-executor mindset, tested on local[N]):

* AQE on everywhere — runtime shuffle-partition coalescing and skew-join
  splitting are the first line of defense against the skewed ``doc_id`` /
  ``source`` distributions this engine is specified to handle.
* Arrow on — every Python kernel in this engine is a vectorized pandas UDF
  (``pandas_udf`` / ``applyInPandas`` / ``mapInPandas``); Arrow batching is
  the JVM↔Python transport. ``maxRecordsPerBatch`` bounds per-batch memory.
* ``spark.sql.shuffle.partitions`` defaults to the core count locally; on a
  real cluster set it ∝ total cores (AQE coalesces the excess at runtime).
* Session timezone pinned to UTC so epoch arithmetic is reproducible across
  engines (DuckDB oracle parity) and across clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Pin BLAS to one thread per Python worker BEFORE any worker forks: Spark
# already runs one worker per core, so per-process BLAS pools oversubscribe
# the box catastrophically (measured 4.5x slowdown at 32 workers). Kernels
# are batch-vectorized; single-threaded BLAS per worker is the right shape.
# The pin reaches the Python workers (they inherit this environment) and,
# through spark.executorEnv below, the executors — but NOT this driver
# process: ``from pyspark.sql import SparkSession`` above has already
# imported numpy, so the driver's OpenBLAS pool has started at full width.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "ficaria-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster pass ``None`` and let spark-submit supply the master.
    """
    cores = _default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer / runtime re-planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow / pandas UDF transport ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.worker.reuse", "true")
        # --- plan construction: PySpark's DataFrame debugging walks the
        #     Python stack and makes extra JVM calls on every DataFrame and
        #     Column call, to name the Python call site in error messages;
        #     measured ~35% of pipeline_flagship's plan construction on the
        #     driver (0.17 -> 0.11 s). Errors keep their error class and SQL
        #     context; pass extra_conf to turn it back on when debugging ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- reproducibility ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scan sizing: keep input splits bounded so a 100 TB scan
        #     fans out instead of producing giant partitions ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # multi-executor modes (local-cluster / standalone): executor Python
        # workers must find this package — equivalent of spark-submit
        # --py-files for the in-repo layout
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    # executor processes do NOT inherit the driver's environment — re-export
    # the BLAS single-threading there too, or every remote Python worker
    # spawns a full-width BLAS pool (measured 4.5x slowdown)
    for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{_v}", "1")
    # ad-hoc conf injection for experiments and cluster tuning without code
    # changes (e.g. the shuffle-codec sweep in BENCH/BASELINE.md):
    # SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd;spark.shuffle.file.buffer=1m"
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
