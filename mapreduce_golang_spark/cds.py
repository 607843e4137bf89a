"""A cached class-data archive (JDK AppCDS) for the driver JVM.

Most of a session's cold start is the JVM loading and verifying the
same few thousand Spark classes from the jars. A dynamic AppCDS
archive holds them pre-parsed; a JVM started with
``-XX:SharedArchiveFile=<archive>`` maps it instead, which on a 4-core
host takes ``get_spark`` from ~7 s to ~3.5 s and perfbench's warm-up
scan from ~4.5 s to ~2 s (PERF.md, "Cold start").

The archive is built once per machine and key, at interpreter exit of
the first process that found none, in a child process of its own, so
no measured set-up ever pays for the build:

- ``driver_launch`` wraps the JVM launch in ``session.get_spark``. It
  points ``SPARK_CONF_DIR`` at an empty directory under the cache dir
  (the archive records the class path, and the default conf dir holds
  template files, which make the JVM refuse the archive), passes the
  archive when a valid one exists, and otherwise marks the key for a
  build;
- ``build_pending`` runs at exit (session.py's exit hook). Under a
  file lock, one child process starts a session with
  ``-XX:ArchiveClassesAtExit``, runs a short warm-up on data it
  generates, stops and waits for its JVM to exit. Only after a clean
  exit is the archive renamed into place, next to a manifest with its
  byte size: a truncated archive crashes the JVM with SIGBUS instead of
  being ignored, so an archive whose size differs from its manifest is
  never passed. A failed build leaves a marker, so later exits do not
  retry it.

The cache is ``$XDG_CACHE_HOME/spark-graft/cds`` (default
``~/.cache/spark-graft/cds``); deleting the directory is always safe.
Archives are keyed on the JDK, the Spark version and the jar list, and
archives of other keys are removed when a new one is renamed in. A JVM
that still finds the archive unusable (a class path the key does not
see) falls back to loading from the jars, silently.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager

#: a build that has not finished by then is killed, JVM included
BUILD_TIMEOUT_S = 300
#: the JVM prints its CDS warnings to stdout, where a script's result
#: line goes; an archive the JVM refuses is then dropped without a word
QUIET = "-Xlog:cds=off,cds+dynamic=off"

#: the builder child's program
_TRAIN = "import sys; from mapreduce_golang_spark.cds import _train; sys.exit(_train(sys.argv[1]))"

#: (cache dir, key) of an archive this process found missing
_PENDING: tuple[str, str] | None = None


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft", "cds")


def _java_home() -> str:
    """The JDK ``spark-submit`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    if java is None:
        raise FileNotFoundError("no java on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def cache_key() -> str:
    """Hash of what the archive depends on: the JDK (its ``release``
    file and its base archive), the Spark version and the jar list's
    names and sizes. Raises OSError when a part is missing."""
    from pyspark import __version__
    from pyspark.find_spark_home import _find_spark_home

    jdk = _java_home()
    h = hashlib.sha256(__version__.encode())
    with open(os.path.join(jdk, "release"), "rb") as f:
        h.update(f.read())
    base = os.stat(os.path.join(jdk, "lib", "server", "classes.jsa"))
    h.update(f"{base.st_size} {base.st_mtime_ns}\n".encode())
    jars = os.path.join(_find_spark_home(), "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"{name} {os.path.getsize(os.path.join(jars, name))}\n".encode())
    return h.hexdigest()[:16]


def _path(root: str, key: str, ext: str) -> str:
    return os.path.join(root, f"{key}.{ext}")


def valid_archive(root: str, key: str) -> str | None:
    """The key's archive when it is whole (its size is the manifest's)."""
    archive = _path(root, key, "jsa")
    try:
        with open(_path(root, key, "json")) as f:
            size = json.load(f)["size"]
        if os.path.getsize(archive) == size:
            return archive
    except (OSError, ValueError, KeyError, TypeError):
        pass
    return None


def _default_conf_unread() -> bool:
    """Whether Spark reads nothing from ``$SPARK_HOME/conf`` (it holds
    only ``*.template`` files, or nothing), so an empty conf dir in its
    place changes no setting."""
    from pyspark.find_spark_home import _find_spark_home

    try:
        names = os.listdir(os.path.join(_find_spark_home(), "conf"))
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


@contextmanager
def driver_launch() -> Iterator[str]:
    """Around the driver JVM's launch: yields the JVM options that map
    the archive ('' when there is none). A caller's own
    ``SPARK_CONF_DIR``, a ``$SPARK_HOME/conf`` with settings in it, or a
    JVM that is already up, turns it off."""
    global _PENDING
    from pyspark import SparkContext

    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or os.environ.get("SPARK_CONF_DIR")
        or not _default_conf_unread()
    ):
        yield ""
        return
    root = cache_dir()
    try:
        key = cache_key()
        os.makedirs(os.path.join(root, "conf"), exist_ok=True)
    except OSError:
        yield ""
        return
    archive = valid_archive(root, key)
    if archive is None and not os.path.exists(_path(root, key, "failed")):
        _PENDING = (root, key)
    os.environ["SPARK_CONF_DIR"] = os.path.join(root, "conf")
    try:
        yield f"-XX:SharedArchiveFile={archive} {QUIET}" if archive else ""
    finally:
        del os.environ["SPARK_CONF_DIR"]


def _say(msg: str) -> None:
    print(f"spark-graft: {msg}", file=sys.stderr, flush=True)


def build_pending() -> None:
    """Build the archive this process found missing, unless another
    process is building it; at most once per process."""
    global _PENDING
    if _PENDING is None:
        return
    root, key = _PENDING
    _PENDING = None
    try:
        lock = open(os.path.join(root, "build.lock"), "w")
    except OSError:
        return
    with lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            _say("another process is building the class archive; skipped")
            return
        if valid_archive(root, key) or os.path.exists(_path(root, key, "failed")):
            return
        _say(f"building the class archive for later sessions in {root} (once; up to {BUILD_TIMEOUT_S} s)")
        t0 = time.perf_counter()
        error = _build(root, key)
        if error is None:
            _say(f"built {_path(root, key, 'jsa')} in {time.perf_counter() - t0:.0f} s")
            return
        try:
            with open(_path(root, key, "failed"), "w") as f:
                f.write(error + "\n")
        except OSError:
            pass
        _say(f"class archive build failed, not retried for this key: {error}")


def _build(root: str, key: str) -> str | None:
    """One child build into a scratch dir under ``root``; None on
    success, else why it failed. Holds the build lock."""
    for name in os.listdir(root):
        if name.startswith("build-"):  # a dead builder's leftovers
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    with tempfile.TemporaryDirectory(prefix="build-", dir=root, ignore_cleanup_errors=True) as scratch:
        dump = os.path.join(scratch, "classes.jsa")
        log_path = os.path.join(scratch, "build.log")
        package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {
            **os.environ,
            "SPARK_CONF_DIR": os.path.join(root, "conf"),
            "TMPDIR": scratch,
            "SPARK_LOCAL_DIRS": scratch,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(scratch, "warehouse"),
            "PYTHONPATH": os.pathsep.join(p for p in (package_root, os.environ.get("PYTHONPATH")) if p),
        }
        try:
            with open(log_path, "w") as log:
                # its own process group, so that a timeout kills its JVM too;
                # stdout is dropped, as the parent's last stdout line may be
                # its result
                proc = subprocess.Popen(
                    [sys.executable, "-c", _TRAIN, dump],
                    cwd=scratch,
                    env=env,
                    stdin=subprocess.DEVNULL,
                    stdout=subprocess.DEVNULL,
                    stderr=log,
                    start_new_session=True,
                )
                try:
                    rc = proc.wait(timeout=BUILD_TIMEOUT_S)
                finally:
                    try:  # on a timeout the child and its JVM, else what it left
                        os.killpg(proc.pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                    proc.wait()
            if rc != 0 or not os.path.isfile(dump):
                with open(log_path, errors="replace") as f:
                    last = ([line.strip() for line in f if line.strip()] or [""])[-1]
                return f"builder exited {rc}: {last}"
            size = os.path.getsize(dump)
            manifest = os.path.join(scratch, "manifest.json")
            with open(manifest, "w") as f:
                json.dump({"key": key, "size": size}, f)
            os.replace(dump, _path(root, key, "jsa"))
            os.replace(manifest, _path(root, key, "json"))
            for name in os.listdir(root):
                stem, ext = os.path.splitext(name)
                if ext in (".jsa", ".json", ".failed") and stem != key:
                    os.remove(os.path.join(root, name))
            return None
        except subprocess.TimeoutExpired:
            return f"timed out after {BUILD_TIMEOUT_S} s"
        except OSError as e:
            return f"{type(e).__name__}: {e}"


def _train(dump: str) -> int:
    """The builder child: a session whose JVM writes ``dump`` at exit,
    after a warm-up that loads the classes a typical query needs (a
    parquet write and scan, an aggregation, a join, an Arrow crossing
    and ``toPandas``). Returns the JVM's exit code."""
    try:  # die with the parent; the JVM follows when its stdin closes
        import ctypes

        prctl = ctypes.CDLL(None).prctl
        prctl.argtypes, prctl.restype = (ctypes.c_int, ctypes.c_ulong), ctypes.c_int
        prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.session import session_builder

    scratch = os.path.dirname(dump)
    spark = session_builder(
        "spark-graft-cds", None, f"-Duser.timezone=UTC -Djava.io.tmpdir={scratch} -XX:ArchiveClassesAtExit={dump}"
    ).getOrCreate()
    jvm = SparkContext._gateway.proc
    data = os.path.join(scratch, "data")
    spark.range(20000).selectExpr("id", "id % 97 AS k", "CAST(id AS DOUBLE) * 1.5 AS v", "CAST(id AS STRING) AS s").write.parquet(data)
    rows = spark.read.parquet(data)
    per_key = rows.groupBy("k").agg(F.sum("v").alias("total"), F.countDistinct("s").alias("n"))
    joined = rows.join(per_key, "k").select("k", "total", "n")
    joined.mapInPandas(lambda batches: (b.assign(total=b.total + 1.0) for b in batches), joined.schema).orderBy(
        "k"
    ).toPandas()
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()
    return jvm.wait()
