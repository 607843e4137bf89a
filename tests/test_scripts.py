"""The kept scripts load, and the profile keeps running on perfbench's
machinery: a perfbench change that breaks the import, or a script whose
imports rot, fails here rather than at its next use."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import __spark_entry__ as entrymod
import pytest
from tests import oracle

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
LOADED = ("run_query", "query_profile", "ab", "correctness_gate", "registry_check", "code_lines")


def load_script(name: str):
    spec = importlib.util.spec_from_file_location(f"script_{name}", os.path.join(SCRIPTS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", LOADED)
def test_script_loads_without_starting_spark(name):
    # a fresh interpreter, so that no session another test started hides one
    code = (
        "import sys; sys.path.insert(0, 'tests'); "
        "from test_scripts import load_script; "
        f"assert callable(load_script({name!r}).main); "
        "from pyspark import SparkContext; "
        "assert SparkContext._gateway is None and SparkContext._active_spark_context is None"
    )
    root = os.path.dirname(SCRIPTS)
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=120)


def test_no_script_shadows_a_standard_module():
    # Python puts a script's own directory first on sys.path, so a file
    # named like a standard module (profile.py) would replace it for
    # every script here: pyspark imports cProfile, which imports profile
    names = {f[: -len(".py")] for f in os.listdir(SCRIPTS) if f.endswith(".py")}
    assert not names & sys.stdlib_module_names


def test_profile_runs_wc_on_perfbench_machinery(spark, sf_dir):
    profile = load_script("query_profile")
    from mapreduce_golang_spark.sources import tables

    # the streams manager first: it adds its own bus to Spark's on first use
    stream_listeners = len(spark._jsparkSession.streams().listListeners())
    jsc = spark.sparkContext._jsc.sc()
    listeners = jsc.listenerBus().listeners().size()
    hooked = (tables.load_table, entrymod._pair_graph, entrymod._cached_table)

    rows = profile.profile(spark, entrymod, sf_dir, ["wc"])

    expected = profile.perfbench().rowset_hash(oracle, oracle.run_oracle(entrymod.oracle_sql()["wc"], sf_dir))
    assert rows["wc"]["hash"] == expected
    assert rows["wc"]["jobs"] >= 1
    assert rows["wc"]["load_table_calls"] == 1
    jsc.listenerBus().waitUntilEmpty()
    assert jsc.listenerBus().listeners().size() == listeners
    assert len(spark._jsparkSession.streams().listListeners()) == stream_listeners
    assert (tables.load_table, entrymod._pair_graph, entrymod._cached_table) == hooked
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_profile_set_up_reports_the_cold_start(spark, sf_dir):
    profile = load_script("query_profile")
    same, setup = profile.set_up(sf_dir)
    assert same is spark
    assert set(setup) == {"get_spark_s", "warmup_s", "cds_mapped"}
    assert setup["get_spark_s"] >= 0 and setup["warmup_s"] > 0
    # an archive get_spark passes is an archive the JVM maps
    passed = "-XX:SharedArchiveFile=" in spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")
    assert setup["cds_mapped"] == passed


def test_ab_summarises_the_cold_start_per_side():
    ab = load_script("ab")

    def run(get_spark_s, warmup_s, mapped):
        return {"get_spark_s": get_spark_s, "warmup_s": warmup_s, "cds_mapped": mapped}

    runs = {
        "base": [run(6.0, 4.0, False), run(6.4, 4.2, False), run(5.8, 3.9, False), run(3.0, 4.1, False)],
        "head": [run(3.5, 2.0, True), run(3.3, 2.1, True), run(3.9, 1.9, True), run(3.1, 2.2, True)],
    }
    summary = ab.setup_summary(runs)
    assert summary["head_wins"] == 3
    assert summary["cds_mapped"] == {"base": 0, "head": 4}
    assert summary["get_spark_s"]["head"]["median"] == pytest.approx(3.4)
    assert summary["warmup_s"]["base"]["median"] == pytest.approx(4.05)
    for metric in ("get_spark_s", "warmup_s"):
        for side in ("base", "head"):
            s = summary[metric][side]
            assert s["q1"] <= s["median"] <= s["q3"]
