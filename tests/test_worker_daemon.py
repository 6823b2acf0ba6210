"""The package's Python worker daemon (medical_ocr_service_spark/worker_daemon.py)
and the rule in `session.daemon_module` that decides when it runs.

The zipimport tests count `zipimport._read_directory` calls without Spark.
The worker test runs the count inside the session fixture's Python workers.
The fallback test starts a session in a subprocess whose workers cannot
import the package and checks that it keeps Spark's stock daemon.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from collections import Counter

import pandas as pd
import pytest

from medical_ocr_service_spark import session, worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def reads(monkeypatch):
    """Per-archive count of zip directory reads, with the lazy
    `invalidate_caches` installed and no archive recorded yet."""
    counts = Counter()
    read = zipimport._read_directory

    def counting(archive):
        counts[archive] += 1
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    return counts


@pytest.fixture
def on_path(tmp_path):
    """A zip of modules on sys.path; the modules and the importer are
    dropped afterwards."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_first": "X = 1\n"})
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in ("zd_first", "zd_second"):
        sys.modules.pop(name, None)


def _write_zip(archive: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(reads, on_path):
    assert importlib.import_module("zd_first").X == 1
    reads.clear()
    importlib.invalidate_caches()  # nothing recorded yet: reads
    assert reads[on_path] == 1

    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads[on_path] == 0

    _write_zip(on_path, {"zd_first": "X = 1\n", "zd_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zd_second").Y == 2
    assert reads[on_path] == 1


def test_recorded_archives_skip_the_first_invalidation(reads, on_path):
    """What the daemon does before it forks: archives imported from at
    start count as read, so a new worker's first task does not re-read."""
    importlib.import_module("zd_first")
    reads.clear()
    worker_daemon.record()
    importlib.invalidate_caches()
    assert reads[on_path] == 0


def test_warm_python_workers_do_not_reread_pyspark_zip(spark):
    """Runs in the session fixture's workers: the package's daemon is in
    use and an `importlib.invalidate_caches()` reads no zip directory,
    although the workers import pyspark through zipimporters."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.daemon.module") == session.WORKER_DAEMON

    @F.pandas_udf("struct<reads:long,zip_importers:long>")
    def zip_reads(ids: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        n = 0
        read = zipimport._read_directory

        def counting(archive):
            nonlocal n
            n += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        return pd.DataFrame({"reads": [n] * len(ids), "zip_importers": [importers] * len(ids)})

    df = spark.range(0, 8, numPartitions=4).select(zip_reads("id").alias("r")).select("r.*")
    df.collect()  # warm the workers
    rows = df.collect()
    assert len(rows) == 8
    assert {r.reads for r in rows} == {0}
    assert min(r.zip_importers for r in rows) > 0


# -- when the package daemon runs ----------------------------------------------

PARENT = "/srv/app"
LOCAL = {"PYTHONPATH": PARENT}


@pytest.mark.parametrize(
    "environ, master, cwd, site_dirs",
    [
        (LOCAL, "local[4]", "/tmp", ()),
        (LOCAL, "local", "/tmp", ()),
        ({"PYSPARK_SUBMIT_ARGS": "pyspark-shell", **LOCAL}, "local[2]", "/tmp", ()),
        ({}, "local[4]", PARENT, ()),  # the working directory: `python -m` puts it on sys.path
        ({"PYTHONPATH": "app"}, "local[4]", "/srv", ()),  # relative entries resolve from it
        ({}, "local[*]", "/tmp", [PARENT]),  # the workers' site-packages
    ],
)
def test_daemon_runs_when_the_package_is_on_the_workers_import_path(environ, master, cwd, site_dirs):
    assert session.daemon_module(False, environ, master, cwd, site_dirs, package_parent=PARENT) == (
        session.WORKER_DAEMON
    )


@pytest.mark.parametrize(
    "gateway_live, environ, master, cwd",
    [
        (True, LOCAL, "local[4]", "/tmp"),  # a live gateway: no JVM launched here
        (False, {"PYSPARK_GATEWAY_PORT": "40000", **LOCAL}, "local[4]", "/tmp"),  # spark-submit
        (False, {"PYSPARK_SUBMIT_ARGS": "--jars x.jar pyspark-shell", **LOCAL}, "local[4]", "/tmp"),
        (False, {}, "local[4]", "/tmp"),  # not on PYTHONPATH nor the working directory
        (False, {"PYTHONPATH": "/srv"}, "local[4]", "/tmp"),
        (False, {"PYTHONSAFEPATH": "1"}, "local[4]", PARENT),  # cwd is not on sys.path
        (False, LOCAL, "spark://host:7077", "/tmp"),  # executors elsewhere
        (False, LOCAL, "local-cluster[2,1,1024]", "/tmp"),
    ],
)
def test_stock_daemon_otherwise(gateway_live, environ, master, cwd):
    assert session.daemon_module(gateway_live, environ, master, cwd, package_parent=PARENT) is None


def test_a_session_whose_workers_cannot_import_the_package_keeps_the_stock_daemon(tmp_path):
    """Neutral working directory and no PYTHONPATH: the driver imports the
    package from sys.path, its workers could not, so get_spark names no
    daemon module and a Python task still runs."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from medical_ocr_service_spark.session import get_spark

        spark = get_spark(master="local[2]")

        @F.pandas_udf("long")
        def plus_one(x: pd.Series) -> pd.Series:
            return x + 1

        total = spark.range(4, numPartitions=2).select(plus_one("id").alias("y")).groupBy().sum("y")
        print(spark.conf.get("spark.python.daemon.module", "stock"), total.first()[0])
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")}
    env["PYSPARK_SUBMIT_ARGS"] = "pyspark-shell"
    res = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, env=env,
        cwd=str(tmp_path), timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.split()[-2:] == ["stock", "10"]
