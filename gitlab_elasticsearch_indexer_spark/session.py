"""SparkSession factory with the engine's standard configuration.

Local-mode knobs follow the sandbox (one JVM, N threads); the same settings
express correctly on a real cluster — shuffle partitions scale with
parallelism, AQE handles runtime re-planning and skew, Arrow is on for every
pandas UDF boundary, and the session timezone is pinned UTC so results are
comparable with the DuckDB oracle (naive-UTC timestamps).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from .config import N_TERM_BUCKETS


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of launch mode —
    the programmatic equivalent of ``spark-submit --py-files engine.zip``.

    Local pytest runs work by cwd accident; a user importing the library from
    anywhere else (or a real cluster) needs the package shipped.  Zip once
    per session and addPyFile it.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # rebuild per process — a cached zip silently serves STALE code to
    # executors after source edits (functions pickle by reference)
    zip_base = os.path.join(
        tempfile.gettempdir(), f"ges_pkg_{os.getpid()}_{os.path.basename(pkg_dir)}"
    )
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                            os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


def get_spark(
    app_name: str = "gitlab_elasticsearch_indexer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~cores, not the 200 default: right-sized for local mode; on a real
        # cluster this is set to 2-3x total executor cores.
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # v2 committer: task-side file moves — the v1 driver-serial rename
        # phase measurably caps scaling efficiency on many-file writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # a segments table has up to N_TERM_BUCKETS bucket directories; above
        # the default threshold (32) every read of it lists them in a
        # one-task-per-directory Spark job — list them on the driver instead
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2 * N_TERM_BUCKETS),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
