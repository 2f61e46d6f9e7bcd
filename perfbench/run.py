"""Benchmark of the deployed feature pipeline, end to end and per layer.

    python3 perfbench/run.py --workload pit_batch --seed 1 --seconds 5 --trace 0

Run from the repository root.  One Spark driver process on local[nproc/2]:
set-up, the workload's untimed preparation, one cold pass, then warm
passes (each after clearCache) for --seconds, at least MIN_WARM of them;
every pass's output is checked.  State that a workload builds once per
checkout (pit_refresh's base table and features) is built first, by a
child run with --build, so the run itself still starts cold.
--trace 0 reports the end-to-end metrics of BENCHMARK.json,
--trace 1 adds traced passes and reports the per-layer metrics.  The
last stdout line is the JSON result; a readable summary goes to stderr,
and the run record (and with --trace 1 the spans) to .perfbench/.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MIN_WARM = 1  # warm passes per run, whatever --seconds allows
TRACED_PASSES = 1
PASS_DEADLINE_S = 150  # start no pass after this much process time


# Driver heap.  The inputs are a few MB; a small fixed heap keeps the
# JVM's peak RSS from following GC heuristics, and leaves the box's
# memory to others (the package's own default, 48g, is for a big host).
DRIVER_MEM = "1g"
JVM_OPTS = "-XX:-UsePerfData"


def _harness_env(slots: int) -> None:
    """Environment for this process, the JVM it launches and the Python
    workers the JVM forks (they import the package from the checkout)."""
    for d in ("spark-local", "tmp", "runs", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVMs' perf-data files go to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    sys.path.insert(0, ROOT)


def _start_spark(slots: int):
    """SparkSession on local[slots] from the package's factory, a first
    action, and a warm Python worker pool (one no-op pandas UDF task per
    slot)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sqlfeatureextraction_spark.session import get_spark

    spark = get_spark("perfbench", parallelism=slots, extra_conf={
        "spark.driver.extraJavaOptions": JVM_OPTS
        + " -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.range(1).count()

    @F.pandas_udf("double")
    def _warm(v: pd.Series) -> pd.Series:
        return v * 1.0

    spark.range(slots * 4, numPartitions=slots).select(
        _warm(F.col("id").cast("double"))).count()
    return spark


def _stop_spark(spark, tree) -> None:
    """Stop the context, then the gateway JVM (it exits when its stdin
    closes), and wait until the JVM and its workers are gone."""
    pids = tree.pids()
    tree.close()
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)


class Runner:
    """Passes of one workload with their timings and check results."""

    def __init__(self, spark, wl, tree):
        self.spark, self.wl, self.tree = spark, wl, tree
        self.passes: list[dict] = []

    def one(self, kind: str, body) -> None:
        self.spark.catalog.clearCache()
        self.tree.arm()
        t0 = time.perf_counter()
        try:
            body()
            problems = []
        except Exception:
            problems = [traceback.format_exc()]
        dt = time.perf_counter() - t0
        self.tree.disarm()
        if not problems:
            try:
                problems = self.wl.check(self.spark)
            except Exception:
                problems = [traceback.format_exc()]
        for p in problems:
            print(f"[{self.wl.name}] {kind} pass failed: {p}", file=sys.stderr)
        self.passes.append({"kind": kind, "s": dt, "ok": not problems,
                            "problems": problems})

    def measure(self, seconds: float, age) -> None:
        """One cold pass, then warm passes for `seconds` (at least
        MIN_WARM, none started after PASS_DEADLINE_S)."""
        self.one("cold", lambda: self.wl.run(self.spark))
        t0 = time.perf_counter()
        while (self.count("warm") < MIN_WARM
               or time.perf_counter() - t0 < seconds):
            if age() > PASS_DEADLINE_S and self.count("warm"):
                break
            self.one("warm", lambda: self.wl.run(self.spark))

    def count(self, kind: str) -> int:
        return sum(p["kind"] == kind for p in self.passes)

    def times(self, kind: str) -> list[float]:
        return [p["s"] for p in self.passes if p["kind"] == kind]


def _layer_metrics(spans: list[dict], facts: dict, setup_s: float,
                   warm_s: float) -> dict:
    """Per-layer metrics of one traced pass (0 for layers the workload
    does not call)."""
    by = {s["name"]: s for s in spans}

    def t(name):
        return by[name]["s"] if name in by else 0.0

    def cpu(name):
        return by[name]["cpu_s"] if name in by else 0.0

    def st(name, key):
        return by[name]["stages"][key] if name in by else 0.0

    def total(key):
        return sum(s["stages"][key] for s in spans)

    def self_time(name):
        kids = sum(s["s"] for s in spans if s["parent"] == name)
        return t(name) - kids if name in by else 0.0

    tasks = sorted(st("window", "task_s") or [0.0])
    files, size = facts.get("write", (0, 0))
    return {
        "session.start_s": setup_s,
        "vocab.fit_s": t("vocab"),
        "vocab.jobs": st("vocab", "jobs"),
        "vocab.size": facts.get("vocab.size", 0),
        "vectorize.s": t("vectorize"),
        "vectorize.cpu_s": cpu("vectorize"),
        "vectorize.shuffle_mb": st("vectorize", "shuffle_write_mb"),
        "sessionize.s": t("sessionize"),
        "sessionize.shuffle_mb": st("sessionize", "shuffle_write_mb"),
        "window.s": t("window"),
        "window.cpu_s": cpu("window"),
        "window.shuffle_mb": st("window", "shuffle_write_mb"),
        "window.spill_mb": st("window", "spill_mb"),
        "window.max_task_s": tasks[-1],
        "window.task_skew": tasks[-1] / max(statistics.median(tasks), 1e-3),
        "window.anchors_per_row": (
            facts["anchors"] / facts["turns"] if facts.get("turns") else 0.0
        ),
        "write.s": t("write"),
        "write.files": files,
        "write.mb": size / 2**20,
        "apmencode.encode_s": t("apmencode.encode"),
        "apmencode.invalid_frac": facts.get("apmencode.invalid_frac", 0.0),
        "apmencode.assemble_s": t("apmencode.assemble"),
        "apmencode.assemble_shuffle_mb": st("apmencode.assemble",
                                            "shuffle_write_mb"),
        "apmencode.backfill_s": t("apmencode.backfill"),
        "apmencode.empty_windows": facts.get("apmencode.empty_windows", 0),
        "snaptable.append_s": t("snaptable.append"),
        "snaptable.read_files": facts.get("snaptable.read_files", 0),
        "incremental.s": self_time("incremental"),
        "incremental.touched_frac": facts.get("incremental.touched_frac", 0.0),
        "incremental.recompute_rows": facts.get("incremental.recompute_rows", 0),
        "incremental.carried_rows": facts.get("incremental.carried_rows", 0),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.gc_s": total("gc_s"),
        "spark.shuffle_mb": total("shuffle_write_mb"),
        "spark.spill_mb": total("spill_mb"),
        "trace.overhead_s": t("pass") - warm_s,
    }


def _predictions(workload: str, m: dict, pass_s: float, layers: dict) -> list:
    """The layer map's predictions for this workload, each with whether
    this run's traced passes bear it out."""
    out = []
    times = {k: m[k] for k in layers["layer_times"]}
    for p in layers["predictions"]:
        if p["workload"] != workload:
            continue
        if "largest" in p:
            top = sorted(times, key=times.get, reverse=True)[: len(p["largest"])]
            holds = set(top) == set(p["largest"])
            seen = {k: round(times[k], 3) for k in top}
        else:
            share = sum(v for k, v in times.items()
                        if k.startswith(p["dominant"])) / pass_s
            holds, seen = share > 0.5, {"share_of_pass": round(share, 3)}
        out.append({"claim": p["claim"], "holds": holds, "seen": seen})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    for needed in ("sqlfeatureextraction_spark", "oracle", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    cpus = len(os.sched_getaffinity(0))
    # a task of a pandas UDF stage keeps a JVM thread and a Python worker
    # busy at once, so half the cores as task slots keeps the load within
    # the cores (with one slot per core, runs measured the scheduler)
    slots = max(1, cpus // 2)
    _harness_env(slots)

    from perfbench import probes
    from perfbench.inputs import Inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](
        Inputs(os.path.join(WORK, "cache"), args.seed), WORK
    )
    if args.build:
        spark = _start_spark(slots)
        try:
            wl.build(spark)
        finally:
            pid = spark.sparkContext._gateway.proc.pid
            _stop_spark(spark, probes.ProcTree(pid))
        return 0
    if not getattr(wl, "built", lambda: True)():
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", "0", "--build"],
                       check=True, stdout=sys.stderr)
    gen_s = time.perf_counter() - t0

    spark = _start_spark(slots)
    # set-up: process start to a warm session, less input generation
    # and the build
    setup_s = probes.process_age_s() - gen_s
    tree = probes.ProcTree(spark.sparkContext._gateway.proc.pid)
    try:
        noise = probes.HostNoise()
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        runner = Runner(spark, wl, tree)
        runner.measure(args.seconds, probes.process_age_s)
        cold_s = runner.times("cold")[0]
        warm_s = statistics.median(runner.times("warm"))
        peak_rss_mb = tree.peak_bytes / 2**20
        traced: list[dict] = []
        tracer = None
        if args.trace:
            tracer = probes.Tracer(spark, tree)
            for i in range(TRACED_PASSES):
                tracer.pass_id = i
                facts: dict = {}

                def body():
                    with tracer.span("pass"):
                        wl.traced(spark, tracer, facts)

                runner.one("traced", body)
                spans = [s for s in tracer.spans if s["pass"] == i]
                traced.append(_layer_metrics(spans, facts, setup_s, warm_s))
        host = noise.finish()
    finally:
        _stop_spark(spark, tree)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failed = sum(not p["ok"] for p in runner.passes)
    attempted = len(runner.passes)
    e2e = {
        "setup_s": setup_s,
        "cold_s": cold_s,
        "warm_s": warm_s,
        "rows_per_s": wl.rows / warm_s,
        "peak_rss_mb": peak_rss_mb,
    }
    record = {
        "workload": wl.name, "seed": args.seed, "cpus": cpus,
        "slots": slots,
        "input_rows": wl.rows, "seconds": args.seconds,
        "driver_mem": os.environ["SPARK_DRIVER_MEM"], "gen_s": gen_s,
        "prepare_s": prepare_s, "peak_procs": tree.peak_procs,
        "passes": runner.passes, "end_to_end": e2e,
        "ops_failed_frac": failed / attempted, "host_noise": host,
    }
    stem = f"{wl.name}-s{args.seed}-t{args.trace}-{int(time.time())}"
    if args.trace:
        layer = {k: statistics.median(m[k] for m in traced) for k in traced[0]}
        with open(os.path.join(os.path.dirname(__file__), "layers.json")) as f:
            layers = json.load(f)
        pass_s = statistics.median(p["s"] for p in runner.passes
                                   if p["kind"] == "traced")
        record["per_layer"] = layer
        record["predictions"] = _predictions(wl.name, layer, pass_s, layers)
        with open(os.path.join(WORK, "trace", stem + ".json"), "w") as f:
            json.dump({"spans": tracer.spans, "per_layer": layer}, f)
        spec, values = bench["per_layer"], layer
    else:
        spec, values = bench["end_to_end"], e2e
    with open(os.path.join(WORK, "runs", stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"[{wl.name}] seed {args.seed}, {cpus} cpus, local[{slots}],"
          f" {wl.rows} input rows, {attempted} passes, ops_failed_frac {failed / attempted:.3f},"
          f" steal {host['steal_pct']:.2f}%", file=sys.stderr)
    units = {m["name"]: m["unit"] for m in spec}
    for name, v in values.items():
        print(f"  {name:<30} {v:>14.4f} {units.get(name, '')}", file=sys.stderr)
    for p in record.get("predictions", []):
        print(f"  prediction {'holds' if p['holds'] else 'FAILS'}: "
              f"{p['claim']} {p['seen']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
