"""Generic two-table as-of (point-in-time) join.

Reference analog J4 (SURVEY §2.3): each SLIDING window is a per-entity
backward range lookup (enc/APMWindowFragmentIntent.java:279-300).  The
generalization a feature store needs: for every left row (by, ts),
attach the newest right row with ts' ≤ ts (backward; optional
tolerance), never a future row — the as-of join IS the zero-leakage
primitive.

Spark has no native as-of join.  The union trick uses built-ins
only: tag both sides, union on a common schema, one window per `by`
ordered by (ts, is_left) with last(right_value, ignorenulls) over
rowsBetween(unboundedPreceding, current) — right rows at the same ts
sort BEFORE left rows, making the bound inclusive (ts' ≤ ts).  ONE
shuffle of |L|+|R| rows, sort-based, no join blow-up, AQE-skew-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts_sec",
    by: str = "user_id",
    value_cols: tuple = ("value",),
    tolerance_s: int | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join via the union trick (built-ins only).

    Returns `left` plus, per value column v, `v_asof` (newest right
    value with right.on ≤ left.on, same `by`), and `asof_ts{suffix}`.
    Ties at equal `on`: the right row is visible to the left row.
    """
    lcols = left.columns
    l = left.withColumn("_is_left", F.lit(1))
    r = right.select(
        by,
        F.col(on).alias(on),
        *[F.col(c) for c in value_cols],
    ).withColumn("_is_left", F.lit(0))
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None))
    for c in value_cols:
        if c not in l.columns:
            l = l.withColumn(c, F.lit(None))
    u = l.select(*lcols, "_is_left", *[c for c in value_cols if c not in lcols]).unionByName(
        r.select(*lcols, "_is_left", *[c for c in value_cols if c not in lcols]),
        allowMissingColumns=True,
    )

    # right rows (is_left=0) sort before left rows at equal ts → ties
    # are visible; running last(ignorenulls) carries the newest right
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    right_ts = F.when(F.col("_is_left") == 0, F.col(on))
    out = u.withColumn(f"asof_ts{suffix}", F.last(right_ts, ignorenulls=True).over(w))
    for c in value_cols:
        rv = F.when(F.col("_is_left") == 0, F.col(c))
        out = out.withColumn(f"{c}{suffix}", F.last(rv, ignorenulls=True).over(w))
    out = out.where(F.col("_is_left") == 1)
    if tolerance_s is not None:
        stale = F.col(f"asof_ts{suffix}") < F.col(on) - tolerance_s
        for c in value_cols:
            out = out.withColumn(
                f"{c}{suffix}",
                F.when(stale, F.lit(None)).otherwise(F.col(f"{c}{suffix}")),
            )
        out = out.withColumn(
            f"asof_ts{suffix}",
            F.when(stale, F.lit(None)).otherwise(F.col(f"asof_ts{suffix}")),
        )
    return out.select(
        *lcols,
        f"asof_ts{suffix}",
        *[f"{c}{suffix}" for c in value_cols],
    )

