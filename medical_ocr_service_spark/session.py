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

When ``get_spark`` launches the driver JVM (the first condition above) for
a ``local`` master, the Python workers run the package's daemon
(``spark.python.daemon.module``, see ``worker_daemon.py``) if a
``python -m`` that the JVM starts can import the package: its parent
directory is on ``PYTHONPATH``, is the working directory or is this
interpreter's site-packages (when the workers run this interpreter). Warm
workers then stop re-reading ``pyspark.zip``'s directory on every task.
Otherwise Spark's stock daemon runs; a module the caller sets is kept.
``spark.conf.get("spark.python.daemon.module", "stock")`` shows which.
"""

from __future__ import annotations

import os
import shutil
import site
import sys
from collections.abc import Mapping, Sequence

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import cds

WORKER_DAEMON = "medical_ocr_service_spark.worker_daemon"
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def daemon_module(
    gateway_live: bool,
    environ: Mapping[str, str],
    master: str,
    cwd: str,
    site_dirs: Sequence[str] = (),
    package_parent: str = PACKAGE_PARENT,
) -> str | None:
    """``WORKER_DAEMON`` when the driver JVM is launched here
    (``cds.launches_jvm``) for a local master and a ``python -m`` started
    by that JVM imports `package_parent`'s package, else None (Spark's
    stock daemon; a daemon module the workers cannot import fails every
    task). Such a Python searches ``PYTHONPATH`` (relative entries from
    `cwd`), then `cwd` unless ``PYTHONSAFEPATH`` is set, then `site_dirs`:
    the workers' site-packages."""
    if not cds.launches_jvm(gateway_live, environ):
        return None
    if master != "local" and not master.startswith("local["):
        return None  # executors elsewhere have another working dir and PYTHONPATH
    path = [p for p in environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if not environ.get("PYTHONSAFEPATH"):
        path.append(cwd)
    path += site_dirs
    found = {os.path.realpath(os.path.join(cwd, p)) for p in path}
    return WORKER_DAEMON if os.path.realpath(package_parent) in found else None


def _worker_site_dirs() -> list[str]:
    """This interpreter's site-packages when the workers run it
    (``PYSPARK_PYTHON``, else ``python3``), else none."""
    exe = shutil.which(os.environ.get("PYSPARK_PYTHON", "python3"))
    if exe is None or os.path.realpath(exe) != os.path.realpath(sys.executable):
        return []
    return site.getsitepackages()


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
    daemon = daemon_module(
        SparkContext._gateway is not None, os.environ, master, os.getcwd(), _worker_site_dirs()
    )
    if daemon is not None:
        conf.setdefault("spark.python.daemon.module", daemon)

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
