"""The session factory's process-level behaviour: its conf, what it
leaves behind at exit, and the class-data archive (cds.py) it maps.

The archive tests run fresh interpreters against their own cache dir
(``XDG_CACHE_HOME`` under tmp), so they never touch the user's cache.
One build (~40 s) is shared by the module; the truncated-archive case
builds once more, since repairing is what it checks."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from mapreduce_golang_spark import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a child session; it reports on stderr, so that its stdout shows only
#: what the engine and the JVM print there
CHILD = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from mapreduce_golang_spark import session

spark = session.get_spark(app_name="session-test")
assert spark.range(10).count() == 10
opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")
print("SESSION " + json.dumps({{"opts": opts, "pkg_dir": session._ARCHIVE_DIR}}), file=sys.stderr)
spark.stop()
"""


def start_child(cache: str, tmp: str, **env) -> subprocess.Popen:
    os.makedirs(tmp, exist_ok=True)
    child_env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    child_env.update(XDG_CACHE_HOME=cache, TMPDIR=tmp, SPARK_GRAFT_CPUS="2", **env)
    return subprocess.Popen(
        [sys.executable, "-c", CHILD], env=child_env, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
    )


def finish(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=cds.BUILD_TIMEOUT_S + 120)
    assert proc.returncode == 0, err[-2000:]
    line = next(line for line in err.splitlines() if line.startswith("SESSION "))
    return {"stdout": out, "stderr": err, **json.loads(line[len("SESSION "):])}


def run_child(cache: str, tmp: str, **env) -> dict:
    return finish(start_child(cache, tmp, **env))


def root_of(cache: str) -> str:
    return os.path.join(cache, "spark-graft", "cds")


def passed(result: dict) -> bool:
    return "-XX:SharedArchiveFile=" in result["opts"]


def processes_naming(path: str) -> list[str]:
    found = []
    for f in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(f) as fh:
                cmd = fh.read().replace("\0", " ")
        except OSError:
            continue
        if path in cmd:
            found.append(cmd[:200])
    return found


def cds_log(tmp: str) -> str:
    text = ""
    for f in glob.glob(os.path.join(tmp, "cds-*.log*")):
        with open(f) as fh:
            text += fh.read()
    return text


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """Two first launches at once on an empty cache, one that holds an
    archive of another key."""
    cache = str(tmp_path_factory.mktemp("cds-cache"))
    root = root_of(cache)
    os.makedirs(root)
    for ext in ("jsa", "json"):
        with open(os.path.join(root, f"0123456789abcdef.{ext}"), "w") as f:
            f.write("{}")
    tmps = [str(tmp_path_factory.mktemp(f"cds-first-{i}")) for i in range(2)]
    procs = [start_child(cache, t) for t in tmps]
    results = [finish(p) for p in procs]
    return {"cache": cache, "root": root, "key": cds.cache_key(), "tmps": tmps, "results": results}


def test_session_turns_off_the_console_progress_bar(spark):
    assert spark.conf.get("spark.ui.showConsoleProgress") == "false"


def test_first_launches_start_without_an_archive_and_exactly_one_builds(built):
    results = built["results"]
    assert not any(passed(r) for r in results)
    assert sum("spark-graft: built " in r["stderr"] for r in results) == 1
    assert cds.valid_archive(built["root"], built["key"]) is not None
    # the other key's files went when the new archive was renamed in
    assert sorted(os.listdir(built["root"])) == sorted(
        ["build.lock", "conf", f"{built['key']}.jsa", f"{built['key']}.json"]
    )
    assert os.listdir(os.path.join(built["root"], "conf")) == []


def test_exit_time_build_prints_nothing_and_leaves_no_process(built):
    assert [r["stdout"] for r in built["results"]] == ["", ""]
    # a session JVM exits once its stdin closes, a moment after Python
    deadline = time.time() + 30
    while processes_naming(built["cache"]) and time.time() < deadline:
        time.sleep(0.5)
    assert processes_naming(built["cache"]) == []


def test_session_exit_removes_its_package_zip_dir(built):
    for tmp, result in zip(built["tmps"], built["results"]):
        assert os.path.dirname(result["pkg_dir"]) == tmp
        assert glob.glob(os.path.join(tmp, "mgs_pkg_*")) == []


def test_a_valid_archive_is_mapped(built, tmp_path):
    log = os.path.join(str(tmp_path), "cds-%p.log")
    result = run_child(built["cache"], str(tmp_path), JAVA_TOOL_OPTIONS=f"-Xlog:cds:file={log}")
    assert passed(result)
    text = cds_log(str(tmp_path))
    assert "Mapped dynamic region" in text
    assert "mismatch" not in text
    assert result["stdout"] == ""
    assert "spark-graft: building" not in result["stderr"]


def test_a_stale_archive_falls_back_silently(built, tmp_path):
    # the same file in another cache dir records another conf dir in its
    # class path, which is how an archive whose key went stale looks to
    # the JVM: it refuses it and loads from the jars
    cache = str(tmp_path / "cache")
    os.makedirs(root_of(cache))
    for ext in ("jsa", "json"):
        shutil.copy(os.path.join(built["root"], f"{built['key']}.{ext}"), root_of(cache))
    log = os.path.join(str(tmp_path), "cds-%p.log")
    result = run_child(cache, str(tmp_path / "tmp"), JAVA_TOOL_OPTIONS=f"-Xlog:cds:file={log}")
    assert passed(result)
    # it maps the file, then checks the class path and unmaps it
    assert "shared class paths mismatch" in cds_log(str(tmp_path))
    assert result["stdout"] == ""


def test_a_truncated_archive_is_never_passed_and_is_rebuilt(built, tmp_path):
    cache = str(tmp_path / "cache")
    root = root_of(cache)
    os.makedirs(root)
    archive = os.path.join(built["root"], f"{built['key']}.jsa")
    with open(archive, "rb") as src, open(os.path.join(root, f"{built['key']}.jsa"), "wb") as dst:
        dst.write(src.read(os.path.getsize(archive) // 2))
    shutil.copy(os.path.join(built["root"], f"{built['key']}.json"), root)
    assert cds.valid_archive(root, built["key"]) is None

    result = run_child(cache, str(tmp_path / "tmp"))
    assert not passed(result)
    assert "spark-graft: built " in result["stderr"]
    assert cds.valid_archive(root, built["key"]) is not None


def test_a_failed_build_is_not_retried(built, tmp_path):
    cache = str(tmp_path / "cache")
    root = root_of(cache)
    os.makedirs(root)
    with open(os.path.join(root, f"{built['key']}.failed"), "w") as f:
        f.write("builder exited 1\n")
    result = run_child(cache, str(tmp_path / "tmp"))
    assert not passed(result)
    assert "spark-graft:" not in result["stderr"]
    assert not os.path.exists(os.path.join(root, f"{built['key']}.jsa"))


def test_the_key_follows_the_jdk_and_the_jars(tmp_path, monkeypatch):
    jdk, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "lib" / "server").mkdir(parents=True)
    (spark_home / "jars").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    (jdk / "lib" / "server" / "classes.jsa").write_bytes(b"x" * 10)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"x" * 10)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    keys = {cds.cache_key()}
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"x" * 11)
    keys.add(cds.cache_key())
    (jdk / "release").write_text('JAVA_VERSION="17.0.2"\n')
    keys.add(cds.cache_key())
    (spark_home / "jars" / "extra.jar").write_bytes(b"")
    keys.add(cds.cache_key())
    assert len(keys) == 4
    assert cds.cache_key() == cds.cache_key()


def test_only_a_conf_dir_spark_does_not_read_is_replaced(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    assert cds._default_conf_unread()
    (tmp_path / "conf").mkdir()
    (tmp_path / "conf" / "spark-defaults.conf.template").write_text("")
    assert cds._default_conf_unread()
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.driver.memory 4g\n")
    assert not cds._default_conf_unread()
