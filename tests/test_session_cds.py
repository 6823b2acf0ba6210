"""The driver JVM's class-data-sharing archive (medical_ocr_service_spark/cds.py).

Unit tests drive `cds.launch` and `cds.get_or_create` without starting a
JVM. The lifecycle test starts real sessions in subprocesses with their own
cache directory: the first records a class list and its detached builder
promotes an archive, the next maps it. The builder test runs the builder
on a small class list with a `java` that truncates its dump.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import time

import pytest
from pyspark import SparkContext

from medical_ocr_service_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER = "-Djava.io.tmpdir=/tmp/x -XX:+UseG1GC"
CONF = {"spark.driver.memory": "8g", "spark.driver.extraJavaOptions": CALLER}


@pytest.fixture
def fresh(monkeypatch, tmp_path):
    """No live gateway, a conf dir of templates only, a cache in tmp_path."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    for var in cds.EXTRA_CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    return tmp_path


def test_cds_flag_goes_in_front_of_the_callers_options(fresh):
    record = cds.launch(CONF)
    os.close(record.build.lock)
    assert record.java_options == (
        f"-XX:DumpLoadedClassList={record.build.classlist} -Xlog:cds*=off {CALLER}"
    )
    assert os.listdir(record.conf_dir) == []
    assert record.build.heap == ["-Xmx8g", "-XX:+UseG1GC"]

    archive = record.build.archive
    open(archive, "w").close()
    use = cds.launch(CONF)
    assert use.java_options == f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off {CALLER}"
    assert use.build is None


def test_no_cds_when_a_gateway_is_live_or_given(fresh, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert cds.launch(CONF) is None
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert cds.launch(CONF) is None


def test_no_cds_when_the_conf_dir_holds_a_real_file(fresh):
    (fresh / "conf" / "spark-defaults.conf").write_text("spark.driver.cores 2\n")
    assert cds.launch(CONF) is None


def test_no_cds_when_the_classpath_holds_more_than_spark(fresh, monkeypatch):
    assert cds.launch({**CONF, "spark.driver.extraClassPath": "extra.jar"}) is None
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--driver-class-path {fresh} pyspark-shell")
    assert cds.launch(CONF) is None
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    monkeypatch.setenv("HADOOP_CONF_DIR", str(fresh / "conf"))
    assert cds.launch(CONF) is None


def test_no_cds_when_the_cache_dir_cannot_be_written(fresh, monkeypatch):
    blocker = fresh / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert cds.launch(CONF) is None


def test_key_follows_jars_and_heap(tmp_path):
    java = shutil.which("java")
    if java is None:
        pytest.skip("no java")
    jar = tmp_path / "jars" / "a.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"jar")
    key = cds.archive_key(java, str(tmp_path), ["-Xmx8g"])
    assert cds.archive_key(java, str(tmp_path), ["-Xmx8g"]) == key
    assert cds.archive_key(java, str(tmp_path), ["-Xmx64g"]) != key
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert cds.archive_key(java, str(tmp_path), ["-Xmx8g"]) != key


def test_dead_builds_and_week_old_archives_are_deleted(fresh):
    dead = cds.launch(CONF).build
    os.close(dead.lock)  # its session died before starting a builder
    d = cds.cache_dir()
    week = 7 * 86400

    def touch(name: str, age: float = 0) -> None:
        path = os.path.join(d, name)
        open(path, "w").close()
        t = time.time() - age
        os.utime(path, (t, t))

    touch(os.path.basename(os.path.splitext(dead.classlist)[0]) + ".tmp")
    touch("0ther.8.tmp")  # a dump whose build died
    touch("0ther.jsa", age=week + 60)  # another key's archive, unused for a week
    touch("1ther.jsa", age=week - 60)  # another key's archive, used this week

    live = cds.launch(CONF).build
    assert sorted(os.listdir(d)) == sorted(
        ["conf", "1ther.jsa", os.path.basename(live.classlist)]
    )
    # While that list is locked its build is under way: launch without CDS.
    assert cds.launch(CONF) is None
    os.close(live.lock)


class FailingBuilder:
    """A SparkSession builder whose first getOrCreate fails."""

    def __init__(self):
        self.options, self.launches = {}, []

    def config(self, key, value):
        self.options[key] = value
        return self

    def getOrCreate(self):
        self.launches.append((dict(self.options), os.environ.get("SPARK_CONF_DIR")))
        if len(self.launches) == 1:
            raise RuntimeError("Java gateway process exited before sending its port number")
        return "session"


def test_a_failed_cds_launch_starts_again_without_cds(fresh):
    b = FailingBuilder()
    assert cds.get_or_create(b, CONF) == "session"
    (first, first_conf), (second, second_conf) = b.launches
    assert first["spark.driver.extraJavaOptions"].startswith("-XX:DumpLoadedClassList=")
    assert first_conf == os.path.join(cds.cache_dir(), "conf")
    assert second["spark.driver.extraJavaOptions"] == CALLER
    assert second_conf == os.environ["SPARK_CONF_DIR"] == str(fresh / "conf")
    assert glob.glob(os.path.join(cds.cache_dir(), "*.classlist")) == []


SESSION = """
import sys
from pyspark import SparkContext
from medical_ocr_service_spark.session import get_spark

spark = get_spark(app_name="cds-test", master="local[1]", shuffle_partitions=1,
                  extra_conf={"spark.driver.extraJavaOptions": sys.argv[1]})
assert spark.range(3).count() == 3
spark.stop()
gw = SparkContext._gateway
gw.shutdown()
gw.proc.stdin.close()
gw.proc.wait(timeout=120)
"""


def _wait_for(cond, timeout: float) -> bool:
    end = time.time() + timeout
    while not cond():
        if time.time() > end:
            return False
        time.sleep(1)
    return True


def test_archive_lifecycle_in_real_sessions(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties.template").write_text("")
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(
        PYTHONPATH=ROOT,
        XDG_CACHE_HOME=str(tmp_path / "xdg"),
        SPARK_CONF_DIR=str(conf),
        SPARK_DRIVER_MEMORY="1g",
    )
    d = tmp_path / "xdg" / "medical_ocr_service_spark" / "cds"

    def session(java_options: str = "-Djava.io.tmpdir=/tmp") -> str:
        res = subprocess.run(
            [sys.executable, "-c", SESSION, java_options],
            env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
        )
        assert res.returncode == 0, res.stderr[-3000:]
        for out in (res.stdout, res.stderr):
            assert "][cds" not in out
        return res.stdout

    def files(suffix: str) -> list:
        return sorted(d.glob(f"*{suffix}"))

    # 1. No archive yet: the session records its class list, and a builder
    #    that outlives it dumps, validates and promotes the archive.
    session()
    assert len(files(".classlist")) == 1 and files(".jsa") == []
    assert _wait_for(lambda: files(".jsa") and not files(".classlist"), timeout=600)
    assert files(".tmp") == []

    # 2. Later sessions map Spark's classes from it.
    out = session("-Xlog:class+load")
    assert "org.apache.spark.SparkContext source: shared objects file" in out


def test_builder_never_promotes_a_truncated_dump(tmp_path):
    java = os.path.realpath(shutil.which("java") or pytest.skip("no java"))
    empty = tmp_path / "conf"
    empty.mkdir()
    classpath = f"{empty}/:" + os.pathsep.join(
        glob.glob(os.path.join(cds._find_spark_home(), "jars", "spark-core_*.jar"))
    )
    truncating = tmp_path / "java"
    truncating.write_text(
        "#!/bin/sh\n"
        f'"{java}" "$@" || exit $?\n'
        'if [ "$1" = -Xshare:dump ]; then\n'
        '  f="${3#-XX:SharedArchiveFile=}"; chmod u+w "$f"\n'
        f'  "{sys.executable}" -c "import os, sys; '
        'os.truncate(sys.argv[1], os.path.getsize(sys.argv[1]) // 2)" "$f"\n'
        "fi\n"
    )
    truncating.chmod(0o755)
    archive = tmp_path / "k.jsa"
    env = {**os.environ, "PYTHONPATH": ROOT}

    def build(java: str) -> None:
        classlist = tmp_path / "k.1.classlist"
        classlist.write_text("java/lang/Object\njava/lang/String\norg/apache/spark/SparkConf\n")
        dead = str(2**31 - 1)  # above any pid_max: its JVM is gone
        subprocess.run(
            [sys.executable, "-m", "medical_ocr_service_spark.cds", dead, str(classlist),
             str(archive), classpath, java, "-Xmx256m"],
            env=env, cwd=tmp_path, check=True, timeout=300,
        )
        assert not classlist.exists() and not (tmp_path / "k.1.tmp").exists()

    build(str(truncating))
    assert not archive.exists()
    assert list(tmp_path.glob("hs_err*")) == []

    build(java)
    assert cds.validates(java, str(archive), ["-Xmx256m"], classpath)
