"""Snapshot family: the Iceberg-shaped snapshot table (time travel,
partition and schema evolution), touched-entity incremental refresh and
checkpoint/resume."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from queries._common import _EV_TS, _events


def _q_checkpoint_resume(spark, sf_dir):
    """Checkpoint/resume E2E: partial run (injected failure after 2
    buckets) → run_all resumes the pending buckets in ONE job
    (partitionBy(bucket) dynamic overwrite) → final output equals an
    uninterrupted computation (digests pin each bucket)."""
    import tempfile

    from sqlfeatureextraction_spark.checkpoint import CheckpointedRun

    root = tempfile.mkdtemp(prefix="ckpt_resume_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"),
        "event_type",
        "value",
    )
    cp = CheckpointedRun(root, n_buckets=8, snapshot_id="driver")

    def compute(df):
        return df.groupBy("conv_id", "event_type").agg(
            F.round(F.sum("value"), 4).alias("total_cost"),
            F.count("*").alias("n"),
        )

    try:
        cp.run(ev, compute, key_col="conv_id", fail_after=2)
    except RuntimeError:
        pass  # injected kill
    cp.run_all(ev, compute, key_col="conv_id")
    return cp.read_output(spark).drop("bucket")


def _q_incremental_update(spark, sf_dir):
    """Touched-entity-only feature refresh (operators/incremental.py):
    snapshot A = users with hash%5 != 0, the append touches the rest;
    carried ∪ recomputed must equal the full PIT-window recompute —
    which is exactly the pit_window_sum oracle over all of events."""
    from sqlfeatureextraction_spark.operators.incremental import (
        incremental_update,
    )

    ev = _events(spark, sf_dir)
    is_new = F.abs(F.xxhash64(F.col("user_id").cast("string"))) % 5 == 0

    def fn(df):
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts_sec")
            .rangeBetween(-299, 0)
        )
        return df.select(
            "event_id",
            "user_id",
            "ts_sec",
            F.round(F.sum("value").over(w), 4).alias("w_sum"),
            F.count("*").over(w).alias("w_cnt"),
        )

    old_features = fn(ev.where(~is_new))
    return incremental_update(
        ev, ev.where(is_new), old_features, fn, key="user_id"
    )


def _q_snapshot_time_travel(spark, sf_dir):
    """Iceberg-shaped snapshot table (sources/snaptable.py): two
    appends split by event_id parity, then (a) a time-travel read
    pinned to the first snapshot and (b) an incremental append scan of
    exactly the second append — each aggregated per event_type.  The
    oracle re-derives both legs from the parity filters."""
    import shutil
    import tempfile

    from sqlfeatureextraction_spark.sources import snaptable

    root = tempfile.mkdtemp(prefix="snaptbl_")
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        s1 = snaptable.append(ev.where(F.col("event_id") % 2 == 0), root)
        s2 = snaptable.append(ev.where(F.col("event_id") % 2 == 1), root)

        def agg(df, leg):
            return df.groupBy("event_type").agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("total_value"),
            ).withColumn("leg", F.lit(leg))

        tt = agg(snaptable.read(spark, root, s1), "tt")
        inc = agg(snaptable.incremental_read(spark, root, s1, s2), "inc")
        out = tt.unionByName(inc)
        # materialize before the temp table vanishes
        pdf = out.toPandas()
        return spark.createDataFrame(pdf, schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_snapshot_partition_evolution(spark, sf_dir):
    """Snapshot-table hidden partitioning + add-column schema
    evolution: a day(ts)-partitioned table gets an even-id append, then
    an odd-id append carrying a NEW column.  Leg 'cur': a
    partition-pruned current read of the earliest day (metadata-only
    pruning; the new column is null exactly on pre-evolution files).
    Leg 'tt': time-travel to the first snapshot (its own narrower
    schema — asserted here, values oracled).  Oracle re-derives both
    from parity + day filters."""
    import shutil
    import tempfile

    from sqlfeatureextraction_spark.sources import snaptable

    root = tempfile.mkdtemp(prefix="snapevo_")
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        spec = [("day", "ts")]
        s1 = snaptable.append(
            ev.where(F.col("event_id") % 2 == 0), root, partition_by=spec
        )
        snaptable.append(
            ev.where(F.col("event_id") % 2 == 1).withColumn(
                "flag", (F.col("event_id") % 3).cast("long")
            ),
            root,
            partition_by=spec,
        )
        d0 = ev.agg(
            F.min(F.date_format("ts", "yyyy-MM-dd"))
        ).collect()[0][0]
        cur = snaptable.read(
            spark, root, partition_where={"day(ts)": d0}
        )
        assert "flag" in cur.columns  # evolution visible on current read
        cur_leg = cur.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.count("flag").alias("n_flag"),
        ).withColumn("leg", F.lit("cur"))
        tt = snaptable.read(spark, root, s1)
        assert "flag" not in tt.columns  # snapshot schema is narrow
        tt_leg = tt.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.lit(-1).cast("long").alias("n_flag"),
        ).withColumn("leg", F.lit("tt"))
        out = cur_leg.unionByName(tt_leg)
        pdf = out.toPandas()  # materialize before the temp table vanishes
        return spark.createDataFrame(pdf, schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ORACLE = {
    # incremental touched-entity refresh: carried ∪ recomputed must
    # equal a FULL recompute — so the oracle is simply the full
    # pit-window aggregation over all of events
    "incremental_update": f"""
            SELECT event_id, user_id, ts_sec,
                   ROUND(SUM(value) OVER w, 4) AS w_sum,
                   COUNT(*) OVER w AS w_cnt
            FROM ({_EV_TS})
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                         RANGE BETWEEN 299 PRECEDING AND CURRENT ROW)
        """,
    # resumed checkpointed run == one uninterrupted aggregation
    "checkpoint_resume": """
            SELECT CAST(user_id AS VARCHAR) AS conv_id, event_type,
                   ROUND(SUM(value), 4) AS total_cost, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """,
    # snapshot table: time-travel to snapshot 1 sees exactly the
    # even-event_id append; the incremental scan (s1, s2] sees
    # exactly the odd append
    "snapshot_time_travel": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(SUM(value), 4) AS total_value, 'tt' AS leg
            FROM events WHERE event_id % 2 = 0 GROUP BY event_type
            UNION ALL
            SELECT event_type, COUNT(*) AS n,
                   ROUND(SUM(value), 4) AS total_value, 'inc' AS leg
            FROM events WHERE event_id % 2 = 1 GROUP BY event_type
        """,
    # partitioned+evolved snapshot table: leg 'cur' = the earliest
    # day partition of the current table (flag is non-null exactly
    # on post-evolution rows, i.e. odd event_ids); leg 'tt' = the
    # pre-evolution snapshot (even ids), n_flag = -1 (no column)
    "snapshot_partition_evolution": """
            WITH ev AS (
              SELECT *, strftime(ts, '%Y-%m-%d') AS d FROM events),
            dmin AS (SELECT min(d) AS d0 FROM ev)
            SELECT event_type, COUNT(*) AS n,
                   ROUND(SUM(value), 4) AS total_value,
                   SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                     AS n_flag,
                   'cur' AS leg
            FROM ev, dmin WHERE d = d0 GROUP BY event_type
            UNION ALL
            SELECT event_type, COUNT(*) AS n,
                   ROUND(SUM(value), 4) AS total_value,
                   CAST(-1 AS BIGINT) AS n_flag, 'tt' AS leg
            FROM ev WHERE event_id % 2 = 0 GROUP BY event_type
        """,
}
