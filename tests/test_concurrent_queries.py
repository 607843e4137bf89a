"""Concurrent-session behavior: a BI engine serves many queries on one
SparkSession at once. Spark's scheduler is thread-safe (jobs from
different threads interleave in the DAG scheduler), but OUR operator
layer must also be re-entrant — shared lazy caches (the checkpointed
pair graph, localCheckpoint intermediates) and per-query builders must
not corrupt each other. This runs a diverse slice of the registered
surface from worker threads and asserts bit-identical results to the
sequential baseline, with the session's conf and temp views left as
the baseline left them. No query path writes the session conf or
registers a named temp view, which a static check of the source pins.
"""

from __future__ import annotations

import ast
import glob
import os
from concurrent.futures import ThreadPoolExecutor

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a deliberately heterogeneous slice: scan-agg, window, join, iterative
# graph loop, checkpointed operators (pair graph / distance grid /
# postings), an Arrow kernel, two streaming drains, a SQL script and a
# TABLE-argument UDTF
NAMES = [
    "wc",
    "q1_pricing_summary",
    "sessionize",
    "near_dup_components",
    "value_distribution_distances",
    "tfidf_cosine_pairs",
    "embedding_stats_arrow",
    "join_key_skew_advisory",
    "streaming_word_counts",
    "streaming_hourly_counts",
    "sql_scripting_coverage_threshold",
    "sessionize_table_udtf",
]

#: The only places that may write the session conf or register a named
#: temp view: (file relative to the repo, outermost function or None for
#: any function in the file).
_CONF_WRITERS = {("mapreduce_golang_spark/session.py", None), ("__spark_entry__.py", "_shipped")}
_VIEW_REGISTRARS = {("mapreduce_golang_spark/sources/tables.py", "register_views")}
_VIEW_METHODS = {
    "createTempView",
    "createOrReplaceTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
}


def _canon_rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(v) for v in row)
        for row in df.select(*cols).collect()
    )


def _session_state(spark):
    views = sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)
    return spark.conf.getAll, views


def test_concurrent_equals_sequential(spark, sf_dir):
    qs = entrymod.queries()

    sequential = {n: _canon_rows(qs[n](spark, sf_dir)) for n in NAMES}
    after_sequential = _session_state(spark)

    def run(name):
        return name, _canon_rows(qs[name](spark, sf_dir))

    with ThreadPoolExecutor(max_workers=len(NAMES)) as pool:
        concurrent = dict(pool.map(run, NAMES))

    for n in NAMES:
        assert concurrent[n] == sequential[n], n
        assert len(sequential[n]) > 0, n
    assert _session_state(spark) == after_sequential


def _session_writes():
    """(file, outermost function, line, what) for every session-conf
    write and temp-view registration in the package and the entry file."""
    paths = glob.glob(os.path.join(REPO, "mapreduce_golang_spark", "**", "*.py"), recursive=True)
    for path in [*paths, os.path.join(REPO, "__spark_entry__.py")]:
        rel = os.path.relpath(path, REPO)
        tree = ast.parse(open(path, encoding="utf-8").read())
        for top in tree.body:
            outer = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
            for node in ast.walk(top):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                attr, owner = node.func.attr, node.func.value
                if attr in ("set", "unset") and isinstance(owner, ast.Attribute) and owner.attr == "conf":
                    yield rel, outer, node.lineno, "conf"
                elif attr in _VIEW_METHODS:
                    yield rel, outer, node.lineno, "view"


def test_no_query_path_writes_the_session():
    stray = [
        (rel, outer, line)
        for rel, outer, line, what in _session_writes()
        if not {(rel, None), (rel, outer)} & (_CONF_WRITERS if what == "conf" else _VIEW_REGISTRARS)
    ]
    assert stray == []


def test_repeated_invocation_is_stable(spark, sf_dir):
    # operators that materialize checkpoints must return the same
    # result when built twice in one session (no stale-cache bleed)
    qs = entrymod.queries()
    for n in ("value_distribution_distances", "tfidf_cosine_pairs"):
        a = _canon_rows(qs[n](spark, sf_dir))
        b = _canon_rows(qs[n](spark, sf_dir))
        assert a == b, n
