"""SparkSession construction with scale-appropriate defaults.

Tuned for correctness-at-scale first: AQE on (runtime re-planning + skew-join
splitting), explicit shuffle partitioning, Arrow enabled for pandas UDFs.
On a real cluster the same builder is used via spark-submit --py-files; only
master/shuffle-partitions change.

When ``get_spark`` itself launches the driver JVM (no live gateway, not
under spark-submit, no extra spark-submit options in
``PYSPARK_SUBMIT_ARGS``), the classpath would hold only the Spark conf dir
and Spark's jars (no ``spark.driver.extraClassPath``, ``HADOOP_CONF_DIR``,
``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH``) and the conf dir holds only
``*.template`` files, the JVM starts from the package's class-data-sharing
archive (see ``cds.py``). The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/medical_ocr_service_spark/cds/`` (about
160-190 MB). A session that finds none starts as without it and leaves a list
of the classes it loaded; a detached process builds the archive from that
list after the session's JVM exits. Deleting that directory is always safe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import cds


def get_spark(
    app_name: str = "medical-ocr-service-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # Local mode: shuffle partitions ~ cores. Cluster mode: callers size this
    # to ~2-3x total cores (or rely on AQE coalescing from a higher initial).
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)
    conf = {
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        **(extra_conf or {}),
    }

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Python-UDF stages are CPU-heavy but byte-light: the stock 64 MB
        # advisory size would coalesce post-shuffle parallelism down to ~1
        # task (measured 3-7x slowdown). 4 MB keeps reduce-side parallelism
        # for pandas-UDF work while still merging truly tiny partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        # Pandas-UDF pipelines do far more CPU per byte than pure-SQL scans;
        # smaller input splits keep every core fed on medium-sized inputs.
        # (At true 100 TB scale file count provides the parallelism and this
        # only bounds per-task memory.)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Mid-size Arrow batches: small enough to pipeline JVM<->Python
        # transfer within a task (one giant batch serializes the phases),
        # big enough to amortize per-batch pandas/Arrow overhead. Measured
        # on the extraction pipeline at 16 cores: 4000 beats 1000 by ~17%
        # and 10000 by ~9%.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "4000"),
        )
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return cds.get_or_create(builder, conf)


def run_in_pool(spark: SparkSession, pool: str):
    """Q2 priority scheduling (reference src/services/job-queue.service.js:
    169-191: previsacion jobs before embedding jobs, bounded concurrency).

    Spark-native equivalent: FAIR scheduler pools — jobs submitted while a
    pool is active share the cluster by pool weight instead of FIFO, so a
    long embedding backfill cannot starve interactive previsacion work.
    Requires ``spark.scheduler.mode=FAIR`` on the session (pass via
    get_spark extra_conf); the pool is a thread-local property, hence the
    context manager.

        with run_in_pool(spark, "previsacion"):
            header.write...
    """
    from contextlib import contextmanager

    @contextmanager
    def _ctx():
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.scheduler.pool")
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.scheduler.pool", prev)

    return _ctx()
