"""SQL fragment extraction (SURVEY §2.2 P5-P6, P11).

The reference walks full ASTs (ANTLR ClickHouse grammar / JSQLParser —
ch/ClickhouseSQLParser.java:60-242, enc/SQLParser.java:145-933) to pull
fragment SETS out of each query: referenced tables, projection /
where / groupBy / orderBy column sets, aggregate-function columns,
selection-predicate operators.  In the transcript engine the per-turn
payload is free text (tokenize instead), but the SQL capability itself
is re-expressed here for parity — as vectorized column expressions
(regexp over clause spans), NOT a Python parser: deterministic,
codegen'd, O(len) per row.  A regex extractor accepts less SQL than
the reference's grammars; unparseable constructs simply contribute
empty sets (the reference likewise swallows parse failures,
ch/ClickhouseSQLParser.java:71-76, leaving bits unset).

One-hot placement and granularity bits belong to the encoders that
build on these extractors: functions/sqlencode.py (MINC layout) and
functions/apmencode.py (APM layout, the reference's granularity
ladder).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

IDENT = r"[a-zA-Z_][a-zA-Z0-9_.]*"

# selection-predicate operator slots, reference order
# {=, <>, <=, >=, <, >, LIKE} (enc/APMFragmentIntent.java:68,698-718)
SEL_PRED_OPS = ["=", "<>", "<=", ">=", "<", ">", "like"]


def strip_literals_and_comments(sql: Column) -> Column:
    """Replace string literals ('' escapes honored) and comments with
    placeholders so clause/identifier extraction can't false-positive on
    keywords or names INSIDE literals (`WHERE note = 'group by x'`,
    `'union'`, `-- from t2`).  Predicate-constant extraction
    (sqlencode.extract_sel_pred_consts) deliberately runs on the RAW
    text — the constants themselves are needed for P12 range binning."""
    s = F.regexp_replace(sql, r"(?s)/\*.*?\*/", " ")
    s = F.regexp_replace(s, r"--[^\n]*", " ")
    return F.regexp_replace(s, r"'(?:[^']|'')*'", " ? ")


def union_branches(sql: Column) -> Column:
    """D8: top-level UNION [ALL|DISTINCT] branch texts.  The reference
    flattens union bodies and accumulates every branch's fragments into
    the SAME sets (enc/SQLParser.java:868-886 iterates the union's
    PlainSelects through the shared consumers); splitting the
    literal-stripped text on the UNION keyword and extracting per
    branch reproduces that at regex level."""
    return F.split(
        strip_literals_and_comments(sql),
        r"(?i)\bunion\b(\s+(all|distinct)\b)?",
    )


def _clause_each(sql: Column, start_kw: str, end_kws: list[str]) -> Column:
    """`_clause` applied per union branch → array of clause fragments.
    Without this, ``regexp_extract`` returns only the FIRST clause span,
    so later union branches would lose their projection/where/group-by
    column sets (the reference accumulates them all)."""
    end = "|".join(end_kws) if end_kws else "$"
    pat = rf"(?is)\b{start_kw}\b(.*?)(?:\b(?:{end})\b|$)"
    return F.transform(
        union_branches(sql), lambda b: F.regexp_extract(b, pat, 1)
    )


def _merge_branch_sets(arrs: Column) -> Column:
    """Union per-branch fragment arrays into one sorted distinct set."""
    return F.array_sort(F.array_distinct(F.flatten(arrs)))


def _idents(col: Column) -> Column:
    """Distinct lowercase identifiers in a clause fragment, minus SQL
    keywords/functions-ish tokens."""
    kw = [
        "and", "or", "not", "in", "is", "null", "as", "on", "by",
        "asc", "desc", "between", "like", "case", "when", "then",
        "else", "end", "distinct",
    ]
    ids = F.regexp_extract_all(F.lower(col), F.lit(f"({IDENT})"), 1)
    ids = F.filter(ids, lambda t: ~t.isin(*kw))
    # drop bare numbers / string-literal remnants
    ids = F.filter(ids, lambda t: ~t.rlike(r"^[0-9]"))
    return F.array_sort(F.array_distinct(ids))


def extract_tables(sql: Column) -> Column:
    """P5: FROM/JOIN table names (lowercased, `_cluster` stripped —
    ch/ClickhouseSQLParser.java:96-100)."""
    names = F.regexp_extract_all(
        F.lower(strip_literals_and_comments(sql)),
        F.lit(rf"(?:from|join)\s+({IDENT})"),
        1,
    )
    names = F.transform(
        names, lambda t: F.regexp_replace(t, r"_cluster$", "")
    )
    return F.array_sort(F.array_distinct(names))


def extract_projection_columns(sql: Column) -> Column:
    return _merge_branch_sets(
        F.transform(_clause_each(sql, "select", ["from"]), _idents)
    )


def extract_where_columns(sql: Column) -> Column:
    return _merge_branch_sets(
        F.transform(
            _clause_each(
                sql, "where", ["group by", "order by", "limit", "having"]
            ),
            _idents,
        )
    )


def extract_groupby_columns(sql: Column) -> Column:
    return _merge_branch_sets(
        F.transform(
            _clause_each(sql, "group by", ["order by", "limit", "having"]),
            _idents,
        )
    )


def extract_orderby_columns(sql: Column) -> Column:
    return _merge_branch_sets(
        F.transform(_clause_each(sql, "order by", ["limit"]), _idents)
    )


def extract_agg_columns(sql: Column, fn: str) -> Column:
    """Columns inside avg(...)/min(...)/max(...)/sum(...) calls."""
    return F.array_sort(
        F.array_distinct(
            F.regexp_extract_all(
                F.lower(strip_literals_and_comments(sql)),
                F.lit(rf"{fn}\s*\(\s*({IDENT})\s*\)"),
                1,
            )
        )
    )


def extract_sel_pred_ops(sql: Column) -> Column:
    """P11: (column, op_index) pairs for predicates `col OP literal`.
    Returns array<struct<col:string, op:int>>."""
    pairs = F.regexp_extract_all(
        F.lower(strip_literals_and_comments(sql)),
        F.lit(rf"({IDENT})\s*(<=|>=|<>|!=|=|<|>|\s+like\s+)"),
        0,
    )

    def to_struct(p):
        col = F.regexp_extract(p, rf"({IDENT})", 1)
        op = F.trim(F.regexp_replace(p, rf"{IDENT}\s*", ""))
        op = F.when(op == "!=", F.lit("<>")).otherwise(op)
        op_idx = F.array_position(
            F.lit(SEL_PRED_OPS), F.lower(op)
        ).cast("int") - 1
        return F.struct(col.alias("col"), op_idx.alias("op"))

    return F.transform(pairs, to_struct)


def extract_fragments(sql: Column) -> Column:
    """Full P5/P6 fragment record as one struct column."""
    return F.struct(
        extract_tables(sql).alias("tables"),
        extract_projection_columns(sql).alias("projection"),
        extract_where_columns(sql).alias("where_cols"),
        extract_groupby_columns(sql).alias("groupby_cols"),
        extract_orderby_columns(sql).alias("orderby_cols"),
        extract_agg_columns(sql, "avg").alias("avg_cols"),
        extract_agg_columns(sql, "min").alias("min_cols"),
        extract_agg_columns(sql, "max").alias("max_cols"),
        extract_agg_columns(sql, "sum").alias("sum_cols"),
        extract_sel_pred_ops(sql).alias("sel_preds"),
    )
