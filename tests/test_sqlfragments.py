"""P5-P6/P11 SQL fragment extraction vs hand-written expectations, through
the extractors the MINC encoder (functions/sqlencode.encode_minc) runs."""

from pyspark.sql import functions as F

from sqlfeatureextraction_spark.functions import sqlencode as SE
from sqlfeatureextraction_spark.functions.sqlclean import clean_sql_text
from sqlfeatureextraction_spark.functions.sqlfragments import (
    extract_agg_columns,
)


def _one(spark, sql, clean=False):
    """The encoder's fragment sets for one SQL text; ``clean`` applies
    ``clean_sql_text`` first, as the gate rows do before encoding."""
    df = spark.createDataFrame([(sql,)], "sql string")
    s = clean_sql_text(F.col("sql")) if clean else F.col("sql")
    f = F.struct(
        SE.extract_tables_ext(s).alias("tables"),
        SE._clause_idents(s, "select", ["from"]).alias("projection"),
        SE._clause_idents(
            s, "where", ["group by", "order by", "limit", "having"]
        ).alias("where_cols"),
        SE._clause_idents(
            s, "group by", ["order by", "limit", "having"]
        ).alias("groupby_cols"),
        SE._clause_idents(s, "order by", ["limit"]).alias("orderby_cols"),
        extract_agg_columns(s, "sum").alias("sum_cols"),
        SE.extract_sel_pred_consts(s).alias("sel_preds"),
    )
    return df.select(f.alias("f")).first()["f"]


def test_basic_select(spark):
    f = _one(
        spark,
        "SELECT a, b, sum(c) FROM db.events_cluster "
        "WHERE d > 5 AND e LIKE '%x%' GROUP BY a ORDER BY b LIMIT 10",
        clean=True,
    )
    assert f["tables"] == ["db.events"]
    assert f["projection"] == ["a", "b", "c", "sum"]  # regex keeps fn name
    assert "d" in f["where_cols"] and "e" in f["where_cols"]
    assert f["groupby_cols"] == ["a"]
    assert f["orderby_cols"] == ["b"]
    assert f["sum_cols"] == ["c"]
    got = {(p["col"], p["op"], p["const"]) for p in f["sel_preds"]}
    assert got == {("d", 5, "5"), ("e", 6, "%x%")}


def test_sel_pred_ops(spark):
    f = _one(spark, "select * from t where a = 1 and b <= 2 and c <> 3")
    got = {(p["col"], p["op"]) for p in f["sel_preds"]}
    # op order {=, <>, <=, >=, <, >, LIKE}
    assert got == {("a", 0), ("b", 2), ("c", 1)}


def test_join_tables_and_cluster_strip(spark):
    sql = "select x from apm.spans_cluster join apm.traces on spans.id = traces.id"
    # the `_cluster` suffix is stripped by clean_sql_text, before encoding
    assert _one(spark, sql)["tables"] == ["apm.spans_cluster", "apm.traces"]
    assert _one(spark, sql, clean=True)["tables"] == ["apm.spans", "apm.traces"]


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
    # no phantom predicate from inside a literal
    cols = {(p["col"], p["op"]) for p in f["sel_preds"]}
    assert cols == {("note", 0), ("tag", 0)}


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
