"""Scalar text functions — all JVM-side built-ins (whole-stage codegen).

Analog of the reference's string cleaning chain
(rdr/StringCleaner.java:11-23, enc/APMFragmentIntent.java:119-125)
re-expressed as ``regexp_replace``/``split`` column expressions; no
Python in the hot path.

The tokenizer is shared verbatim (same regex semantics) by:
  * the Spark fit/transform path (this module),
  * the DuckDB oracle SQL (``_TOK`` in queries/_common.py),
  * the pandas test oracle (oracle/pandas_oracle.py),
so per-turn token equality holds exactly across all three.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Split on any run of non-alphanumeric characters (after lowercasing).
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def clean_text_col(col: Column) -> Column:
    """Lowercase + strip quotes/backticks/brackets (vectorized)."""
    return F.lower(F.regexp_replace(col, r"[`'\"\[\]();]", " "))


def tokenize_col(col: Column) -> Column:
    """text → array<string> of non-empty lowercase tokens."""
    arr = F.split(F.lower(F.coalesce(col, F.lit(""))), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != F.lit(""))
