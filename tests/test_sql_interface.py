from __future__ import annotations

import pytest


@pytest.mark.parametrize(
    "name", ["sql_revenue_by_nation_year", "date_dimensions", "rollup_nation_year"]
)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_python_udtf_runs(spark, sf_dir):
    # Python table function (1→N rows) — the modern form of the
    # reference's Map UDTF contract, registered into SQL.
    from pyspark.sql.functions import udtf

    from mapreduce_golang_spark.sources.tables import register_views

    @udtf(returnType="word: string, pos: int")
    class TokenizeUdtf:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split()):
                yield w, i

    spark.udtf.register("tokenize_udtf", TokenizeUdtf)
    register_views(spark, sf_dir, names=("documents",))
    rows = spark.sql(
        "SELECT t.word, t.pos FROM documents, LATERAL tokenize_udtf(text) t "
        "WHERE doc_id = 0"
    ).collect()
    assert len(rows) > 0
    assert all(r.pos >= 0 for r in rows)


def test_registered_python_udf_runs(spark, sf_dir):
    # spark.udf.register surface (row-at-a-time UDF — supported but
    # deliberately absent from operator hot paths; see README).
    from mapreduce_golang_spark.sources.tables import register_views

    register_views(spark, sf_dir, names=("nation",))
    spark.udf.register("shout", lambda s: s.upper() + "!")
    rows = spark.sql("SELECT shout(n_name) AS x FROM nation ORDER BY x LIMIT 1").collect()
    assert rows[0].x.endswith("!") and rows[0].x == rows[0].x.upper()
