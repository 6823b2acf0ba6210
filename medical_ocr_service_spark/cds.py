"""Class-data-sharing (CDS) archive for the driver JVM that ``get_spark``
launches.

A JDK 17 static CDS archive holds the JDK's and Spark's classes already
parsed and verified. A JVM started with it maps them instead of loading
them from the jars on every start, which roughly halves session start on a
4-core host.

No session pays for building the archive. A session that finds none
launches as it would without CDS, except that its JVM lists the classes it
loads (``-XX:DumpLoadedClassList``). A builder process, detached from the
session, waits for that JVM to exit, dumps a static archive from the list
(``java -Xshare:dump``, 40-50 s at nice 19 on a 4-core host), checks that a
throwaway ``java -Xshare:on ... -version`` maps it and moves it into place.
Sessions started after that map it.

Everything lives under ``${XDG_CACHE_HOME:-~/.cache}/medical_ocr_service_spark/cds/``:

- ``<key>.jsa``: the archive. It only ever appears by ``os.replace`` of a
  dump that passed the check, because a JVM that maps a truncated archive
  dies with SIGBUS instead of running without it.
- ``<key>.<pid>.classlist``: the classes a session's JVM loaded, locked
  (``flock``) by that session and then by its builder until the build
  ends. While it is locked, other sessions launch without CDS.
  ``<key>.<pid>.tmp`` is the builder's dump.
- ``conf/``: an empty directory that stands in for ``SPARK_CONF_DIR``
  during the launch. CDS refuses a non-empty directory on the classpath,
  and the conf dir is the classpath's first entry.

The key hashes the JDK build, every Spark jar (name, size, mtime) and the
heap options that decide compressed oops. Each launch that maps an archive
touches it; another key's archive that no launch touched for a week is
deleted. Any failure along the way means a launch without CDS, never a
failed start.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
from collections.abc import Mapping
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


class Build(NamedTuple):
    """A class list being recorded for an archive that does not exist yet."""

    lock: int  # fd holding the flock on `classlist`
    classlist: str
    archive: str
    java: str
    heap: list[str]


class Launch(NamedTuple):
    """How to launch one driver JVM with CDS."""

    java_options: str  # spark.driver.extraJavaOptions: CDS flags, then the caller's
    conf_dir: str  # SPARK_CONF_DIR for the launch
    build: Build | None  # None when mapping an archive


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "medical_ocr_service_spark", "cds")


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{path}\0{st.st_size}\0{st.st_mtime_ns}"


def archive_key(java: str, spark_home: str, heap_options: list[str]) -> str:
    """Names the archive. Changes with the JDK build, any Spark jar (name,
    size, mtime) or the heap options."""
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    parts = [_stamp(java), _stamp(os.path.join(jdk, "lib", "modules"))]
    parts += [_stamp(p) for p in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))]
    parts += heap_options
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:20]


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _locked(path: str) -> bool:
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return False
    try:
        fcntl.flock(fd, fcntl.LOCK_SH | fcntl.LOCK_NB)
    except BlockingIOError:
        return True
    finally:
        os.close(fd)
    return False


def _sweep(d: str, key: str) -> bool:
    """Delete what dead builds left behind and other keys' archives unused
    for a week. Returns True while a build for `key` is under way."""
    busy = False
    for name in os.listdir(d):
        path = os.path.join(d, name)
        stem, ext = os.path.splitext(path)
        if ext == ".classlist":
            if _locked(path):
                busy = busy or name.startswith(f"{key}.")
            else:
                _remove(path)
                _remove(f"{stem}.tmp")
        elif ext == ".tmp" and not os.path.exists(f"{stem}.classlist"):
            _remove(path)
        elif ext == ".jsa" and name != f"{key}.jsa":
            if time.time() - os.stat(path).st_mtime > 7 * 86400:
                _remove(path)
    return busy


# Classpath entries Spark's launcher adds beside the conf dir and its jars.
# The archive is dumped for a classpath of the conf dir and the jars only,
# so any of them rules CDS out.
EXTRA_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def launches_jvm(gateway_live: bool, environ: Mapping[str, str]) -> bool:
    """True when ``getOrCreate`` launches the driver JVM from this process:
    no gateway is live or given (``PYSPARK_GATEWAY_PORT``, as under
    spark-submit) and ``PYSPARK_SUBMIT_ARGS`` adds no spark-submit
    options."""
    return (
        not gateway_live
        and "PYSPARK_GATEWAY_PORT" not in environ
        and environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") == "pyspark-shell"
    )


def launch(conf: dict[str, str]) -> Launch | None:
    """The CDS launch for a new driver JVM with Spark conf `conf`, or None
    to launch as without CDS: when a gateway is live or given (no JVM is
    launched here), when ``PYSPARK_SUBMIT_ARGS`` adds spark-submit options,
    when the classpath would hold more than the conf dir and Spark's jars,
    when the effective conf dir holds more than ``*.template`` files
    (pointing SPARK_CONF_DIR elsewhere would drop them), when the cache
    directory cannot be written, or while this key's archive is being
    built."""
    if not launches_jvm(SparkContext._gateway is not None, os.environ):
        return None
    if conf.get("spark.driver.extraClassPath") or any(map(os.environ.get, EXTRA_CLASSPATH_ENV)):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
    except FileNotFoundError:
        pass
    except OSError:
        return None
    java_options = conf.get("spark.driver.extraJavaOptions", "")
    java_home = os.environ.get("JAVA_HOME")  # the JVM spark-class launches
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    heap = [f"-Xmx{conf['spark.driver.memory']}"]
    heap += [o for o in java_options.split() if o.startswith("-XX:")]
    d = cache_dir()
    empty = os.path.join(d, "conf")
    # CDS logs warnings ("Signed JAR", "Pre JDK 6 class") to stdout by default.
    tail = f"-Xlog:cds*=off {java_options}".rstrip()
    try:
        key = archive_key(java, spark_home, heap)
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(d, os.W_OK):
            return None
        busy = _sweep(d, key)
        archive = os.path.join(d, f"{key}.jsa")
        if os.path.exists(archive):
            os.utime(archive)
            return Launch(f"-XX:SharedArchiveFile={archive} {tail}", empty, None)
        if busy:
            return None
        classlist = os.path.join(d, f"{key}.{os.getpid()}.classlist")
        lock = os.open(classlist, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        fcntl.flock(lock, fcntl.LOCK_EX)
    except OSError:
        return None
    build = Build(lock, classlist, archive, java, heap)
    return Launch(f"-XX:DumpLoadedClassList={classlist} {tail}", empty, build)


def get_or_create(builder: SparkSession.Builder, conf: dict[str, str]) -> SparkSession:
    """``builder.getOrCreate()``, launching the driver JVM with the CDS
    archive when ``launch(conf)`` gives one; `conf` is what the builder
    sets. SPARK_CONF_DIR is redirected for the launch only. If the launch
    with CDS flags fails, the session is started again without them."""
    plan = launch(conf)
    if plan is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.config("spark.driver.extraJavaOptions", plan.java_options).getOrCreate()
    except Exception:
        spark = None
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if plan.build is not None:
        if spark is None:
            _remove(plan.build.classlist)
        else:
            _start_builder(spark, plan.build)
        os.close(plan.build.lock)
    if spark is None:
        options = conf.get("spark.driver.extraJavaOptions", "")
        spark = builder.config("spark.driver.extraJavaOptions", options).getOrCreate()
    return spark


def _start_builder(spark: SparkSession, b: Build) -> None:
    """Start `build` for the session's JVM in a process of its own: `sh`
    backgrounds it and exits, so it is nobody's child and outlives the
    session. It inherits the lock on the class list."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    classpath = jvm.java.lang.System.getProperty("java.class.path")
    argv = [sys.executable, "-m", __name__, str(pid), b.classlist, b.archive, classpath, b.java]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in sys.path if p)}
    try:
        subprocess.run(
            ["/bin/sh", "-c", '"$@" &', "sh", *argv, *b.heap],
            env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, pass_fds=(b.lock,), start_new_session=True,
            timeout=60, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        _remove(b.classlist)


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _succeeds(cmd: list[str], timeout: float) -> bool:
    try:
        done = subprocess.run(
            cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=timeout
        )
    except (OSError, subprocess.SubprocessError):
        return False
    return done.returncode == 0


def validates(java: str, archive: str, heap: list[str], classpath: str) -> bool:
    """True when a throwaway JVM maps `archive` with sharing required. A
    truncated, partial or foreign file fails (or crashes) here instead of in
    a session."""
    return _succeeds(
        [
            java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", *heap,
            "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
            "-cp", classpath, "-version",
        ],
        timeout=60,
    )


def build(jvm_pid: int, classlist: str, archive: str, classpath: str, java: str,
          heap: list[str]) -> None:
    """Once the JVM `jvm_pid` that writes `classlist` has exited, dump a
    static archive of the listed classes for `classpath` and move it to
    `archive` if it validates. Deletes the class list and the dump."""
    os.nice(19)
    while _running(jvm_pid):
        time.sleep(1)
    tmp = os.path.splitext(classlist)[0] + ".tmp"
    dump = [
        java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
        f"-XX:SharedArchiveFile={tmp}", *heap, "-cp", classpath,
    ]
    try:
        if _succeeds(dump, timeout=600) and validates(java, tmp, heap, classpath):
            os.replace(tmp, archive)
    finally:
        _remove(tmp)
        _remove(classlist)


if __name__ == "__main__":
    build(int(sys.argv[1]), *sys.argv[2:6], heap=sys.argv[6:])
