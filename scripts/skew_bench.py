"""Hot-key skew benchmark: one conversation holds ALL rows.

The window engine's salted Arrow pass (``window_features_merge``)
splits the hot conversation into ~n/65k time buckets with overlap
replication, processes them in parallel, and encodes the raw turns
and scatters the window vectors in the same pass; the timed part
starts from cached raw turns.  A conv_id-partitioned plan would pin
the whole conversation to one task, like the reference's
one-thread-per-session split (enc/APMFragmentIntent.java:1069-1097).

The pass runs in a subprocess with a wall-clock cap so a pathological
single task can't hang the harness; a capped run is reported as
">capS".

Usage: python scripts/skew_bench.py [sf_dir] [cap_seconds]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

CHILD = r"""
import sys, time, os
sys.path.insert(0, os.environ["REPO_ROOT"])
sf_dir = sys.argv[1]
from pyspark.sql import functions as F
from sqlfeatureextraction_spark.session import get_spark
from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.synth import events_as_transcripts
from sqlfeatureextraction_spark.vocab import fit_vocabulary
from sqlfeatureextraction_spark.operators.asof_merge import window_features_merge

spark = get_spark("skew_child")
cfg = FeatureConfig()
tx = events_as_transcripts(spark, sf_dir)
t0 = tx.agg(F.min(F.col("ts").cast("timestamp").cast("long"))).first()[0]
hot = tx.withColumn("conv_id", F.lit("hot")).withColumn(
    "ts",
    F.timestamp_seconds(
        t0 + F.floor((F.col("ts").cast("timestamp").cast("long") - t0) / 100)
    ),
)
vocab = fit_vocabulary(hot, max_tokens=256)
layout = vocab.layout(n_grans=len(cfg.granularities_s))
turns = hot.cache(); n = turns.count()
t = time.perf_counter()
cnt = window_features_merge(turns, vocab, cfg, layout).count()
print(f"RESULT {n} {cnt} {round(time.perf_counter()-t, 2)}")
"""


def run(sf_dir: str, cap: int) -> dict:
    env = dict(
        os.environ,
        REPO_ROOT=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", CHILD, sf_dir],
            capture_output=True,
            text=True,
            env=env,
            timeout=cap,
        )
        for ln in out.stdout.splitlines():
            if ln.startswith("RESULT"):
                _, n, cnt, sec = ln.split()
                return {"sec": float(sec), "rows": int(n), "anchors": int(cnt)}
        return {"error": out.stderr[-500:]}
    except subprocess.TimeoutExpired:
        return {"sec": None, "note": f">{cap}s (killed)"}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 480
    result = {
        "scenario": "single hot conversation holds 100% of rows (100x compressed timeline)",
        "sf_dir": sf_dir,
        "salted_merge": run(sf_dir, cap),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
