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

This module holds the shared building blocks (literal/comment
stripping, per-UNION-branch clause spans, identifier sets, aggregate
columns); the per-fragment extractors and the one-hot placement live
in the encoder that runs them, functions/sqlencode.py (MINC layout:
``extract_tables_ext``, ``_clause_idents``, ``extract_sel_pred_consts``).
functions/apmencode.py (APM layout, the reference's granularity ladder)
parses on its own.
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
