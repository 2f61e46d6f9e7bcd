"""Leakage audit — validation jobs enforcing the zero-leakage invariant.

The north rule: every feature value at (conv_id, ts) uses only rows
with ts' ≤ ts.  No Catalyst analog exists (SURVEY §4.3.5), so this is
an explicit audit pass with two independent checks:

1. **Recompute-on-truncation** (the strong check): for a cutoff ts*,
   recompute the feature table on the input filtered to ts ≤ ts* and
   assert every surviving (conv_id, ts) row is identical.  If any
   feature peeked at the future, removing the future changes it.

2. **Provenance bound** (cheap, runs inline): the engine threads a
   `max_member_ts` column through the window stage; audit asserts
   max_member_ts ≤ ts for every row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def audit_truncation(
    full: DataFrame,
    truncated: DataFrame,
    keys: tuple = ("conv_id", "ts"),
    feature_cols: tuple = ("window_features",),
) -> dict:
    """Compare full-input vs truncated-input feature tables on the
    truncated key range.  Returns metrics; leak_rows must be 0."""
    t = truncated.select(*keys, *feature_cols)
    f = full.select(*keys, *feature_cols)
    joined = t.alias("t").join(f.alias("f"), list(keys), "left")
    neq = None
    for c in feature_cols:
        cond = ~(
            F.col(f"t.{c}").eqNullSafe(F.col(f"f.{c}"))
        )
        neq = cond if neq is None else (neq | cond)
    missing = F.col(f"f.{feature_cols[0]}").isNull()
    agg = joined.agg(
        F.count("*").alias("n"),
        F.sum(missing.cast("long")).alias("missing_rows"),
        F.sum((neq & ~missing).cast("long")).alias("leak_rows"),
    ).first()
    return {
        "rows_compared": agg["n"],
        "missing_rows": agg["missing_rows"],
        "leak_rows": agg["leak_rows"],
        "ok": agg["leak_rows"] == 0 and agg["missing_rows"] == 0,
    }


def audit_member_bound(wf_with_bound: DataFrame, ts_col: str = "ts") -> dict:
    """Assert max_member_ts_sec ≤ ts on a per-anchor provenance table:
    the newest selected member per anchor, derived from a selector's
    member rows (rep_turn_idx joined back to the member's ts_sec)."""
    bad = wf_with_bound.where(
        F.col("max_member_ts_sec")
        > F.col(ts_col).cast("timestamp").cast("long")
    )
    n_bad = bad.count()
    return {"leak_rows": n_bad, "ok": n_bad == 0}
