"""Generic two-table as-of join: union trick vs the pandas oracle."""

import numpy as np
import pandas as pd

from sqlfeatureextraction_spark.operators.asof_join import asof_join


def _tables(spark, seed=3):
    rng = np.random.default_rng(seed)
    lrows, rrows = [], []
    for uid in range(6):
        for i in range(40):
            lrows.append((uid * 1000 + i, uid, int(rng.integers(0, 5000))))
        for j in range(12):
            rrows.append((uid, int(rng.integers(0, 5000)), float(uid * 100 + j)))
    # tie case: right row exactly at a left ts
    lrows.append((9001, 0, 777))
    rrows.append((0, 777, 999.0))
    left = spark.createDataFrame(lrows, "event_id long, user_id long, ts_sec long")
    right = spark.createDataFrame(rrows, "user_id long, ts_sec long, value double")
    # dedupe right per (by, ts): keep max value (determinism requirement)
    from pyspark.sql import functions as F

    right = right.groupBy("user_id", "ts_sec").agg(F.max("value").alias("value"))
    return left, right


def _oracle(left_pdf, right_pdf, tolerance=None):
    out = []
    for _, lr in left_pdf.iterrows():
        cand = right_pdf[
            (right_pdf["user_id"] == lr["user_id"])
            & (right_pdf["ts_sec"] <= lr["ts_sec"])
        ]
        if tolerance is not None:
            cand = cand[cand["ts_sec"] >= lr["ts_sec"] - tolerance]
        if len(cand):
            best = cand.sort_values("ts_sec").iloc[-1]
            out.append((lr["event_id"], best["ts_sec"], best["value"]))
        else:
            out.append((lr["event_id"], None, None))
    return pd.DataFrame(out, columns=["event_id", "asof_ts", "value_asof"])


def test_asof_union_trick_matches_oracle(spark):
    left, right = _tables(spark)
    got = (
        asof_join(left, right)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    exp = _oracle(left.toPandas(), right.toPandas()).sort_values(
        "event_id"
    ).reset_index(drop=True)
    assert (
        got["asof_ts_asof"].astype("float64").fillna(-1).to_numpy()
        == exp["asof_ts"].astype("float64").fillna(-1).to_numpy()
    ).all()
    assert (
        got["value_asof"].astype("float64").fillna(-1).to_numpy()
        == exp["value_asof"].astype("float64").fillna(-1).to_numpy()
    ).all()
    # the tie row sees the right row at its own ts (ts' ≤ ts inclusive)
    tie = got[got["event_id"] == 9001]
    assert tie["asof_ts_asof"].iloc[0] == 777
    assert tie["value_asof"].iloc[0] == 999.0


def test_asof_tolerance(spark):
    left, right = _tables(spark)
    got = asof_join(left, right, tolerance_s=100).toPandas()
    exp = _oracle(left.toPandas(), right.toPandas(), tolerance=100)
    m = got.merge(exp, on="event_id")
    assert (
        m["value_asof_x"].astype("float64").fillna(-1).to_numpy()
        == m["value_asof_y"].astype("float64").fillna(-1).to_numpy()
    ).all()
