"""Incremental touched-entity refresh vs full recompute at scale.

Scenario: a feature table exists for snapshot A; an append touches
`touched_pct` of the conversations (late data / new activity for a
subset of entities — the steady-state ingest shape at 10^12 turns).
Measure the flagship vectorize→window feature recompute:

  full        feature_fn over the WHOLE table (what a naive refresh pays)
  incremental operators/incremental.incremental_update — carry the
              untouched entities' rows from the stored feature table,
              recompute feature_fn only over touched entities' history

Both paths produce identical results (pinned by pytest and the
incremental_update driver row); this bench records the COST ratio.
The old feature table is materialized to parquet untimed — it is the
pre-existing state, not part of either path's work.

Usage: python scripts/incremental_bench.py [rep] [touched_pct] [reps]
       (defaults 16, 5, 3 — rep multiplies sf0.1 events ≈ 64k rows)
"""

from __future__ import annotations

import os
import subprocess
import sys

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO_ROOT"])
rep, touched_pct, reps = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
from bench import _calibrate
from pyspark.sql import functions as F
from sqlfeatureextraction_spark.session import get_spark
from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.vocab import fit_vocabulary
from sqlfeatureextraction_spark.operators.vectorize import with_turn_scalars
from sqlfeatureextraction_spark.operators.pit_window import (
    scalar_finish,
    select_members,
)
from sqlfeatureextraction_spark.operators.incremental import incremental_update

par = int(os.environ.get("BENCH_PARALLELISM", "8"))
spark = get_spark("incr_bench", parallelism=par, shuffle_partitions=par)
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
work = os.environ["WORK_DIR"]

from sqlfeatureextraction_spark.synth import events_as_transcripts
tx = events_as_transcripts(spark, sf_dir)
tx = tx.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1)))).withColumn(
    "conv_id", F.concat_ws("_", "conv_id", "_r")).drop("_r")
tx.repartition(64, "conv_id").write.mode("overwrite").parquet(f"{work}/turns")
turns = spark.read.parquet(f"{work}/turns")
n_rows = turns.count()

cfg = FeatureConfig()
vocab = fit_vocabulary(turns, max_tokens=256)   # shared, untimed

def fn(df):
    vec_s, layout = with_turn_scalars(df, vocab, cfg)
    return scalar_finish(select_members(vec_s, cfg), vocab, cfg, layout)

is_new = F.abs(F.xxhash64("conv_id")) % 100 < touched_pct
new_rows = turns.where(is_new)
n_new = new_rows.count()

# pre-existing state: the feature table for the untouched entities
# (what a real deployment already has on disk) — untimed
fn(turns.where(~is_new)).write.mode("overwrite").parquet(f"{work}/oldfeat")
old_features = spark.read.parquet(f"{work}/oldfeat")

def full():
    return fn(turns).count()

def incr():
    return incremental_update(turns, new_rows, old_features, fn).count()

full(); incr()  # warm-up
out = {}
for name, job in [("full", full), ("incremental", incr)]:
    ts, cals = [], [_calibrate()]
    for _ in range(reps):
        t0 = time.perf_counter(); n = job(); dt = time.perf_counter() - t0
        ts.append(round(dt, 2)); cals.append(_calibrate())
    out[name] = {"times_s": ts, "min_s": min(ts), "rows_out": n,
                 "cal_spread": round(max(cals) / min(cals), 2)}
print("RESULT " + json.dumps({
    "n_rows": n_rows, "n_new_rows": n_new,
    "touched_pct": touched_pct, "parallelism": par,
    "speedup_min": round(out["full"]["min_s"] /
                         out["incremental"]["min_s"], 2),
    **out,
}))
"""


def main():
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    touched = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    import tempfile

    work = tempfile.mkdtemp(prefix="incr_bench_")
    env = dict(
        os.environ,
        REPO_ROOT=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        WORK_DIR=work,
    )
    try:
        subprocess.run(
            [sys.executable, "-c", CHILD, str(rep), str(touched), str(reps)],
            env=env,
            check=True,
        )
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
