"""SparkSession factory with scale-oriented defaults.

The reference is single-threaded (Importer.groovy:38-44 runs ten loaders
sequentially); we instead rely on Spark's DAG scheduling.  The confs below are
the ones that matter at 100 TB: AQE (runtime coalescing + skew-join splitting),
Arrow for every pandas UDF exchange, and a shuffle-partition count sized to the
local core count (on a real cluster this would be ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .materialize import KEY_BUCKETS


def ensure_shipped(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers of ANY
    session — including sessions the caller built without get_spark (e.g. a
    test harness).  Zips the package once and ships it with addPyFile (the
    runtime analog of spark-submit --py-files); idempotent per session."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), "graphene_spark_pkg")
    zip_path = zip_base + ".zip"
    # Rebuild whenever any package source is newer than the zip — a cached
    # zip from a previous build would ship stale code to executors.
    newest_src = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        # per-process tmp name: concurrent driver processes must not write
        # the same build file, or one could publish another's half-written
        # archive — the rename below is only atomic for a private source
        tmp = shutil.make_archive(
            f"{zip_base}_build_{os.getpid()}", "zip", os.path.dirname(pkg_dir), "graphene_spark"
        )
        os.replace(tmp, zip_path)  # atomic: concurrent callers see a full zip
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — already added in this context
        pass


def get_spark(
    app_name: str = "graphene-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the KG pipeline.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the sandbox);
    on a real cluster it is ignored in favour of spark-submit's --master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"

    # Ship this package to executor Python workers regardless of cwd.  On a
    # real cluster this is spark-submit --py-files (north_star); locally the
    # worker processes inherit PYTHONPATH from the driver environment.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    shuffle_partitions = shuffle_partitions or max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # sort-merge->broadcast conversion. This is the generic half of the
        # skew story; the explicit half (salting hot entities) lives in
        # linking.py (post-import-cypher.txt:6-8 'common' analog).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for all pandas UDFs (input_hint: vectorized only).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Small dimension tables (the entity dictionary) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # A merged table has one `_kb=` directory per bucket, and its bucket
        # count is at most KEY_BUCKETS; above this threshold (Spark's
        # default is 32) every read of it starts a distributed listing job.
        # The threshold must stay at or above every table's count, so that
        # the directories are listed on the driver, which for a few dozen
        # directories is the faster of the two.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(KEY_BUCKETS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_shipped(spark)
    return spark
