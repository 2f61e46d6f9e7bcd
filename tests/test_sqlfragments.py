"""P5-P6/P11 SQL fragment extraction vs hand-written expectations."""

from pyspark.sql import functions as F

from sqlfeatureextraction_spark.functions import sqlfragments as SF


def _one(spark, sql):
    df = spark.createDataFrame([(sql,)], "sql string")
    return df.select(SF.extract_fragments(F.col("sql")).alias("f")).first()["f"]


def test_basic_select(spark):
    f = _one(
        spark,
        "SELECT a, b, sum(c) FROM db.events_cluster "
        "WHERE d > 5 AND e LIKE '%x%' GROUP BY a ORDER BY b LIMIT 10",
    )
    assert f["tables"] == ["db.events"]
    assert f["projection"] == ["a", "b", "c", "sum"]  # regex keeps fn name
    assert "d" in f["where_cols"] and "e" in f["where_cols"]
    assert f["groupby_cols"] == ["a"]
    assert f["orderby_cols"] == ["b"]
    assert f["sum_cols"] == ["c"]


def test_sel_pred_ops(spark):
    f = _one(spark, "select * from t where a = 1 and b <= 2 and c <> 3")
    got = {(p["col"], p["op"]) for p in f["sel_preds"]}
    # op order {=, <>, <=, >=, <, >, LIKE}
    assert ("a", 0) in got
    assert ("b", 2) in got
    assert ("c", 1) in got


def test_join_tables_and_cluster_strip(spark):
    f = _one(
        spark,
        "select x from apm.spans_cluster join apm.traces on spans.id = traces.id",
    )
    assert f["tables"] == ["apm.spans", "apm.traces"]


def test_literals_and_comments_do_not_pollute(spark):
    """Keywords / identifiers inside string literals or comments must
    not create fragments; literals with '' escapes handled."""
    f = _one(
        spark,
        "SELECT a FROM t1 /* join x on from t9 */ "
        "WHERE note = 'select z from t2 union all group by q' "
        "AND tag = 'it''s = weird' -- order by hidden\n"
        "GROUP BY a",
    )
    assert f["tables"] == ["t1"]
    assert f["projection"] == ["a"]
    assert "z" not in f["where_cols"] and "q" not in f["where_cols"]
    assert f["groupby_cols"] == ["a"]
    assert f["orderby_cols"] == []
    # no phantom union branch: projection only from the real query
    cols = {(p["col"], p["op"]) for p in f["sel_preds"]}
    assert ("note", 0) in cols and ("tag", 0) in cols
    assert all(c in ("note", "tag") for c, _ in cols)


def test_union_branch_accumulation(spark):
    """D8: fragments from every top-level UNION branch accumulate into
    the same sets (enc/SQLParser.java:868-886 iterates PlainSelects
    through the shared consumers)."""
    f = _one(
        spark,
        "SELECT a FROM t1 WHERE x = 1 UNION ALL "
        "SELECT b FROM t2 WHERE y = 2 GROUP BY b ORDER BY b",
    )
    assert f["tables"] == ["t1", "t2"]
    assert f["projection"] == ["a", "b"]
    assert f["where_cols"] == ["x", "y"]
    assert f["groupby_cols"] == ["b"]
    assert f["orderby_cols"] == ["b"]
    # plain UNION (no ALL) splits the same way
    f2 = _one(spark, "select a from t1 union select b from t2")
    assert f2["projection"] == ["a", "b"]
