"""Scaling-efficiency evidence (north rule: >=0.8 between N and 4N).

No real cluster in this sandbox, so the identical job runs at two
parallelism levels (default local[8] vs local[32] - N and 4N cores) on
the same PRE-MATERIALIZED parquet input, each level in a fresh JVM with
its own warm-up, multiple reps, median taken.  Caveat recorded in
BENCH_SCALING.md: all local[N] levels share ONE memory bus and disk, so
high-N efficiency under-reads what separate executors would achieve.

Phases:
  prepare: replicate the sf events table into a transcripts parquet
           (rep x conversations) at /tmp/scale_input_<rep> (once).
  measure: per level, subprocess runs fit -> cache the raw turns ->
           point-in-time window features (the window engine's salted
           pass, which encodes the turns itself) -> count; reps timed
           after one warm-up run.

Usage: python scripts/scale_bench.py [sf_dir] [rep] [n_lo] [n_hi] [reps]
       [threads|executors]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

PREP = r"""
import os, sys
sys.path.insert(0, os.environ["REPO_ROOT"])
sf_dir, rep, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
from pyspark.sql import functions as F
from sqlfeatureextraction_spark.session import get_spark
from sqlfeatureextraction_spark.synth import events_as_transcripts
spark = get_spark("scale_prep")
tx = events_as_transcripts(spark, sf_dir)
tx = tx.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1)))).withColumn(
    "conv_id", F.concat_ws("_", "conv_id", "_r")).drop("_r")
tx.repartition(64, "conv_id").write.mode("overwrite").parquet(out)
print("PREPARED", spark.read.parquet(out).count())
"""

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO_ROOT"])
par, path, reps = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
mode = sys.argv[4] if len(sys.argv) > 4 else "threads"

# the SAME host-noise sentinel bench.py uses — imported, not copied,
# so the two benches' calibration series stay comparable if it is
# ever retuned (REPO_ROOT is already on sys.path)
from bench import _calibrate
from sqlfeatureextraction_spark.session import get_spark
from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.vocab import fit_vocabulary
from sqlfeatureextraction_spark.operators.asof_merge import window_features_merge

if mode == "executors":
    # real executor JVMs (local-cluster[par,1,mem]); engine shipped as a
    # zip exactly like spark-submit --py-files would on a cluster.
    # Per-executor memory must be sized to the cached working set
    # (SCALE_EXEC_MEM_MB): the 10M-turn input caches ~12 GB of turn
    # vectors, and 6 GB executors hit BytesToBytesMap allocation
    # failures (hash-agg execution memory vs storage contention) that
    # degrade the hi leg disproportionately — a real cluster sizes
    # executors to the workload, so the bench must too.
    exec_mb = int(os.environ.get("SCALE_EXEC_MEM_MB", "6144"))
    spark = get_spark("scale", parallelism=par, shuffle_partitions=par,
                      n_executors=par, executor_mem_mb=exec_mb)
    spark.sparkContext.addPyFile(os.environ["PYFILES_ZIP"])
else:
    spark = get_spark("scale", parallelism=par, shuffle_partitions=par)
cfg = FeatureConfig()

def job():
    tx = spark.read.parquet(path)
    vocab = fit_vocabulary(tx, max_tokens=256)
    layout = vocab.layout(n_grans=len(cfg.granularities_s))
    turns = tx.cache()
    try:
        return window_features_merge(turns, vocab, cfg, layout).count()
    finally:
        turns.unpersist(True)

n = job()  # warm-up (JIT, parquet footers, Arrow init)
if mode == "executors":
    n = job()  # second warm-up: per-EXECUTOR JVM JIT lags the driver's
# adaptive clean-rep loop (bench.py methodology): each rep is
# bracketed by fixed-work calibrations; a rep whose both brackets are
# within 1.5x of the best calibration seen ran on a quiet host.  Keep
# repping (up to the cap) until `reps` clean reps landed, so a steal
# burst cannot poison the leg's median — the r4 first executors run
# recorded hi-leg reps of 285/180/120 s on identical work, purely
# host noise.
cap = int(os.environ.get("SCALE_MAX_REPS", str(max(reps * 3, reps + 3))))
times, brackets, cals = [], [], [_calibrate()]
clean = []
for i in range(cap):
    t0 = time.perf_counter(); n = job(); dt = time.perf_counter() - t0
    times.append(dt)
    cals.append(_calibrate())
    brackets.append((cals[-2], cals[-1], dt))
    # re-certify EVERY rep against the global-min calibration each
    # iteration: a steal burst covering the first reps would otherwise
    # self-certify against its own inflated min-so-far; the first
    # quiet rep drops the global min and de-certifies them
    best_cal = min(cals)
    clean = [t for a, b, t in brackets
             if a < 1.5 * best_cal and b < 1.5 * best_cal]
    is_clean = (brackets[-1][0] < 1.5 * best_cal
                and brackets[-1][1] < 1.5 * best_cal)
    # progress line per rep so a late crash (executor-loss on the last
    # rep, teardown storm before the summary prints) loses at most ONE
    # rep instead of the whole leg — the parent reconstructs a summary
    # from these if the final line never lands
    print(json.dumps({"rep": i, "rows": n, "sec": round(dt, 3),
                      "cal": [cals[-2], cals[-1]], "clean": is_clean}))
    sys.stdout.flush()
    if len(clean) >= reps:
        break
basis = clean if clean else times  # no quiet window at all: report raw
med = sorted(basis)[len(basis) // 2]
best = min(basis)
print(json.dumps({"parallelism": par, "rows": n,
                  "sec_median": round(med, 3), "sec_min": round(best, 3),
                  "all_secs": [round(t, 1) for t in times],
                  "clean_secs": [round(t, 1) for t in clean],
                  "cal_secs": cals,
                  "rows_per_sec_median": round(n / med, 1),
                  "rows_per_sec_min": round(n / best, 1)}))
sys.stdout.flush()
# local-cluster teardown is racy at high executor counts (the worker's
# shutdown triggers an executor-relaunch storm and the standalone
# master marks the app FAILED, surfacing as a non-zero interpreter
# exit AFTER the measurement is complete).  Results are already on
# stdout; stop best-effort and exit 0 deterministically.
try:
    spark.stop()
except Exception:
    pass
os._exit(0)
"""


def _env():
    return dict(
        os.environ,
        REPO_ROOT=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )


def prepare(sf_dir: str, rep: int) -> str:
    out = f"/tmp/scale_input_rep{rep}"
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        subprocess.run(
            [sys.executable, "-c", PREP, sf_dir, str(rep), out],
            env=_env(),
            check=True,
            capture_output=True,
            text=True,
        )
    return out


def run_level(par: int, path: str, reps: int, mode: str = "threads") -> dict:
    env = _env()
    if mode == "executors":
        # work happens in the executor JVMs; a 48g driver heap (the
        # thread-mode default) would push 8 right-sized executors past
        # this box's 128 GiB — the driver only coordinates here
        env.setdefault("SPARK_DRIVER_MEM", "8g")
        zip_path = os.path.join(env["REPO_ROOT"], "sqlfeatureextraction_spark.zip")
        subprocess.run(
            [
                sys.executable,
                os.path.join(env["REPO_ROOT"], "scripts", "make_pyfiles_zip.py"),
            ],
            check=True,
            capture_output=True,
        )
        env["PYFILES_ZIP"] = zip_path
    # child stdout AND stderr stream to disk AS THE LEG RUNS — a parent
    # crash (or a failure in the OTHER leg) can no longer lose a
    # completed leg's per-rep record, and a running leg is observable
    # by tailing the files
    stdout_path = f"/tmp/scale_lvl{par}_{mode}.stdout"
    stderr_path = f"/tmp/scale_lvl{par}_{mode}.stderr"
    with open(stdout_path, "w") as so, open(stderr_path, "w") as se:
        rc = subprocess.run(
            [
                sys.executable,
                "-c",
                CHILD,
                str(par),
                path,
                str(reps),
                mode,
            ],
            stdout=so,
            stderr=se,
            text=True,
            env=env,
            check=False,
        ).returncode

    class _Out:
        pass

    out = _Out()
    out.returncode = rc
    out.stdout = open(stdout_path).read()
    out.stderr = open(stderr_path).read()
    if mode == "executors":
        # the child's deterministic os._exit(0) can orphan the driver
        # JVM (and with it the in-process master/worker + executor
        # processes); sweep anything local-cluster-shaped so the next
        # leg starts on an idle box.  Targeted: these patterns only
        # match executors-mode JVMs, never a concurrent local[N] run.
        import time as _t

        for pat in ("CoarseGrainedExecutorBackend", "local-cluster"):
            subprocess.run(["pkill", "-f", pat], check=False)
        _t.sleep(3)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    recs = [json.loads(ln) for ln in lines]
    final = [r for r in recs if "sec_median" in r]
    if final:
        return final[-1]
    # no summary — reconstruct from per-rep progress lines (a crash on
    # the last rep / teardown storm loses at most one rep)
    prog = [r for r in recs if "sec" in r]
    if prog:
        times = [r["sec"] for r in prog]
        n = prog[-1]["rows"]
        med = sorted(times)[len(times) // 2]
        best = min(times)
        return {
            "parallelism": par,
            "rows": n,
            "sec_median": round(med, 3),
            "sec_min": round(best, 3),
            "all_secs": [round(t, 1) for t in times],
            "rows_per_sec_median": round(n / med, 1),
            "rows_per_sec_min": round(n / best, 1),
            "partial_reps": len(times),
        }
    raise RuntimeError(
        f"level {par} produced no result (rc={out.returncode}):\n"
        + out.stderr[-4000:]
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    n_lo = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_hi = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    reps = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    mode = sys.argv[6] if len(sys.argv) > 6 else "threads"
    label = "executors" if mode == "executors" else "local"
    path = prepare(sf_dir, rep)
    lo = run_level(n_lo, path, reps, mode)
    hi = run_level(n_hi, path, reps, mode)
    ratio = n_hi / n_lo
    eff = (hi["rows_per_sec_min"] / lo["rows_per_sec_min"]) / ratio
    eff_med = (hi["rows_per_sec_median"] / lo["rows_per_sec_median"]) / ratio
    result = {
        "metric": f"scaling efficiency {label}[{n_lo}] -> {label}[{n_hi}]",
        "sf_dir": sf_dir,
        "replication": rep,
        "mode": mode,
        "lo": lo,
        "hi": hi,
        "efficiency_min": round(eff, 3),
        "efficiency_median": round(eff_med, 3),
    }
    print(json.dumps(result))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_SCALING.md"), "a") as f:
        f.write(
            f"| {sf_dir} rep={rep} {label}[{n_lo}]->{label}[{n_hi}] "
            f"| {lo['rows_per_sec_min']} | {hi['rows_per_sec_min']} "
            f"| {round(eff, 3)} (min-based; median {round(eff_med, 3)}) |\n"
        )


if __name__ == "__main__":
    main()
