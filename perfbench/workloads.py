"""The three workloads.  Each has an untimed `prepare`, a plain `run`
pass through the package's public functions, a `traced` pass that
calls each layer itself and materialises its output at the boundary,
and a `check` of the pass's written output.

`traced` fills `facts` with the counts that only the workload knows
(vocabulary size, anchors, touched conversations, ...); run.py turns
spans and facts into the per-layer metrics.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle import pandas_oracle as oracle
from perfbench import inputs as gen
from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.functions import apmencode as apm
from sqlfeatureextraction_spark.operators.asof_merge import window_features_merge
from sqlfeatureextraction_spark.operators.incremental import (
    incremental_snapshot_update,
)
from sqlfeatureextraction_spark.operators.sessionize import sessionize
from sqlfeatureextraction_spark.operators.vectorize import with_turn_features
from sqlfeatureextraction_spark.plans.pipeline import FeaturePipeline
from sqlfeatureextraction_spark.sources import snaptable
from sqlfeatureextraction_spark.vocab import Vocabulary, fit_vocabulary

CFG = FeatureConfig()
MAX_TOKENS = 4096
SAMPLE_CONVS = 12  # checked against the oracle, besides the hot one
SAMPLE_WINDOWS = 40  # APM windows recomputed in numpy
APM_WINDOW_S = 300
APM_AFTER_HOUR = 9
REFRESH_BASE_SEED = 0  # every pit_refresh seed refreshes the same base table
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Staged(FeaturePipeline):
    """FeaturePipeline whose turn and window features were materialised
    by earlier spans, so transform() does only the join-back."""

    def __init__(self, vocab, layout, turns: DataFrame, windows: DataFrame):
        super().__init__(CFG, vocab, layout)
        self._turns, self._windows = turns, windows

    def turn_features(self, transcripts):
        return self._turns

    def window_features(self, vec):
        return self._windows


def _materialise(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.cache()
    return df, df.count()


def _staged_features(tracer, part: DataFrame, vocab, facts: dict) -> DataFrame:
    """vectorize → sessionize → window, each materialised in its own
    span, then the pipeline's join-back and split (lazy)."""
    with tracer.span("vectorize"):
        vec, layout = with_turn_features(part, vocab, CFG)
        vec, n_rows = _materialise(vec)
    with tracer.span("sessionize"):
        sess, _ = _materialise(sessionize(vec, gap_s=CFG.session_gap_s))
    with tracer.span("window", task_times=True):
        wf, n_anchors = _materialise(window_features_merge(sess, vocab, CFG, layout))
    facts["turns"] = n_rows
    facts["anchors"] = n_anchors
    staged = _Staged(vocab, layout, sess, wf)
    return staged.split(staged.transform(part))


def _tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written dataset."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _digest(df: DataFrame) -> tuple:
    """Order-insensitive digest: row count and the exact sum of per-row
    hashes over every column."""
    h = F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(r[0]), str(r[1])


def _ts_sec(ts: pd.Series) -> np.ndarray:
    return ts.astype("datetime64[s]").astype("int64").to_numpy()


def _source_key() -> str:
    """Hash of the package's and the benchmark's Python sources, so state
    built by one version of the program is never used by another."""
    h = hashlib.sha256()
    for top in ("sqlfeatureextraction_spark", "perfbench"):
        for dirpath, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(dirpath, n)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


class PitBatch:
    """FeaturePipeline fit → transform → split → write on the
    transcripts, checked against the pandas oracle."""

    name = "pit_batch"

    def __init__(self, data: gen.Inputs, work: str):
        self.tx_path = data.transcripts()
        self.out = os.path.join(work, "out", "features")
        self.rows = gen.TURNS

    def prepare(self, spark) -> None:
        pdf = pd.read_parquet(self.tx_path)
        pdf["ts_sec"] = _ts_sec(pdf["ts"])
        self.expect_rows = len(pdf.drop_duplicates(["conv_id", "ts_sec"]))
        self.expect = _oracle_anchors(pdf, _sample_convs(pdf), pdf)

    def run(self, spark) -> None:
        tx = spark.read.parquet(self.tx_path)
        pipe = FeaturePipeline(CFG).fit(tx, max_tokens=MAX_TOKENS)
        pipe.write(pipe.split(pipe.transform(tx)), self.out)

    def traced(self, spark, tracer, facts: dict) -> None:
        tx = spark.read.parquet(self.tx_path)
        with tracer.span("vocab"):
            vocab = fit_vocabulary(tx, max_tokens=MAX_TOKENS)
        facts["vocab.size"] = len(vocab.tokens)
        feats = _staged_features(tracer, tx, vocab, facts)
        with tracer.span("write"):
            FeaturePipeline(CFG).write(feats, self.out)
        facts["write"] = _tree_size(self.out)

    def check(self, spark) -> list[str]:
        out = spark.read.parquet(self.out)
        n = out.count()
        problems = []
        if n != self.expect_rows:
            problems.append(f"{n} output rows, expected {self.expect_rows}")
        ids = sorted(self.expect["conv_id"].unique())
        got = out.where(F.col("conv_id").isin(ids)).toPandas()
        return problems + _compare_anchors(got, self.expect)


def _sample_convs(pdf: pd.DataFrame) -> list:
    """The hot conversation and SAMPLE_CONVS seeded others."""
    hot = pdf["conv_id"].iloc[0]
    others = sorted(set(pdf["conv_id"]) - {hot})
    rng = np.random.default_rng(len(pdf) + len(others))
    return [hot] + list(rng.choice(others, SAMPLE_CONVS, replace=False))


def _oracle_anchors(pdf: pd.DataFrame, ids: list,
                    fit_on: pd.DataFrame) -> pd.DataFrame:
    """Oracle output per (conv_id, ts_sec) for the conversations `ids`
    of `pdf`, with the vocabulary fit on `fit_on`: window vector, and the
    session id and turn vector of the anchor's last turn."""
    tokens, roles, tools = oracle.fit_vocab(fit_on, max_tokens=MAX_TOKENS)
    sample = pdf[pdf["conv_id"].isin(ids)].drop(columns="ts_sec")
    tv = oracle.turn_vectors(sample, tokens, roles, tools,
                             grans=CFG.granularities_s,
                             binary_bow=CFG.binary_bow)
    sess = oracle.sessionize(sample, gap_s=CFG.session_gap_s)
    tv = tv.merge(sess[["conv_id", "turn_idx", "session_id"]],
                  on=["conv_id", "turn_idx"])
    last = tv.sort_values("turn_idx").groupby(["conv_id", "ts_sec"]).tail(1)
    wf = oracle.window_features(tv, tools, window_s=CFG.window_size_s,
                                top_k=CFG.top_k_entities,
                                top_n=CFG.top_n_members)
    wf["ts_sec"] = _ts_sec(wf["ts"])
    return wf.merge(
        last[["conv_id", "ts_sec", "session_id", "vector"]],
        on=["conv_id", "ts_sec"],
    )


def _compare_anchors(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    keys = ["conv_id", "ts_sec"]
    if got.duplicated(keys).any():
        return ["an anchor is written more than once"]
    m = want.merge(got, on=keys, how="outer", indicator=True,
                   suffixes=("_want", ""))
    missing = (m["_merge"] != "both").sum()
    if missing:
        return [f"{missing} sampled anchors missing on one side"]
    problems = []
    for col_w, col_g in (("window_features_want", "window_features"),
                         ("vector", "features")):
        a = np.vstack(m[col_w].to_numpy())
        b = np.vstack(m[col_g].to_numpy())
        if a.shape != b.shape or not np.allclose(a, b):
            problems.append(f"{col_g} differ from the oracle")
    if not (m["session_id_want"].to_numpy() == m["session_id"].to_numpy()).all():
        problems.append("session ids differ from the oracle")
    if (got.groupby("conv_id")["split"].nunique() != 1).any():
        problems.append("a conversation spans both splits")
    return problems


class PitRefresh:
    """Append a delta to the snapshot table, refresh the touched
    conversations with the stored vocabulary, write, roll back; checked
    against the base features on the carried conversations and against
    the pandas oracle on the touched ones.

    Only the delta depends on the seed.  The base table (at snapshot s0),
    its vocabulary and its full features are built once per checkout and
    program version, by `build` in a process of its own, so every run
    copies the table and still makes its first refresh pass cold."""

    name = "pit_refresh"

    def __init__(self, data: gen.Inputs, work: str):
        base = gen.Inputs(data.cache_dir, REFRESH_BASE_SEED)
        self.tx_path = base.transcripts()
        self.delta_path = data.delta(base)
        self.built_dir = os.path.join(data.cache_dir,
                                      f"refresh-base-{_source_key()}")
        self.vocab_path = os.path.join(self.built_dir, "vocab")
        self.base = os.path.join(self.built_dir, "features")
        self.root = os.path.join(work, "snap")
        self.out = os.path.join(work, "out", "refresh")
        self.rows = len(pd.read_parquet(self.delta_path, columns=["turn_idx"]))

    def built(self) -> bool:
        return os.path.isdir(self.built_dir)

    def build(self, spark) -> None:
        """Base table at s0, its vocabulary and its full features."""
        tmp = f"{self.built_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        base = spark.read.parquet(self.tx_path)
        snap = os.path.join(tmp, "snap")
        snaptable.append(base, snap)
        pipe = FeaturePipeline(CFG).fit(base, max_tokens=MAX_TOKENS)
        pipe.vocab.to_df(spark).write.parquet(os.path.join(tmp, "vocab"))
        table = snaptable.read(spark, snap)
        pipe.write(pipe.split(pipe.transform(table)),
                   os.path.join(tmp, "features"))
        os.rename(tmp, self.built_dir)

    def prepare(self, spark) -> None:
        """A fresh copy of the table at s0, and the oracle's anchors of
        the conversations the delta touches (no Spark job runs here)."""
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(os.path.join(self.built_dir, "snap"), self.root)
        self.s0 = snaptable.current_snapshot_id(self.root)
        base = pd.read_parquet(self.tx_path)
        delta = pd.read_parquet(self.delta_path)
        self.n_convs = base["conv_id"].nunique()
        self.touched = sorted(delta["conv_id"].unique().tolist())
        full = pd.concat([base, delta], ignore_index=True)
        full["ts_sec"] = _ts_sec(full["ts"])
        self.expect = _oracle_anchors(full, self.touched, base)
        self.expect_carried = None

    def _pipeline(self, spark) -> FeaturePipeline:
        pipe = FeaturePipeline(CFG)
        pipe.vocab = Vocabulary.from_df(spark.read.parquet(self.vocab_path))
        pipe.layout = pipe.vocab.layout(n_grans=len(CFG.granularities_s))
        return pipe

    def run(self, spark) -> None:
        snaptable.append(spark.read.parquet(self.delta_path), self.root)
        pipe = self._pipeline(spark)
        feats = incremental_snapshot_update(
            spark, self.root, self.s0, spark.read.parquet(self.base),
            lambda part: pipe.split(pipe.transform(part)),
        )
        pipe.write(feats, self.out)
        snaptable.rollback(self.root, self.s0)

    def traced(self, spark, tracer, facts: dict) -> None:
        with tracer.span("snaptable.append"):
            snaptable.append(spark.read.parquet(self.delta_path), self.root)
        files_now = snaptable.planned_files(self.root)
        files_s0 = snaptable.planned_files(self.root, self.s0)
        # the full read opens every file, the incremental read the new ones
        facts["snaptable.read_files"] = 2 * len(files_now) - len(files_s0)
        with tracer.span("vocab"):
            pipe = self._pipeline(spark)
        facts["vocab.size"] = len(pipe.vocab.tokens)

        def recompute(part: DataFrame) -> DataFrame:
            # the touched conversations' history is the incremental
            # layer's own output; the feature layers are child spans
            part, facts["incremental.recompute_rows"] = _materialise(part)
            touched = part.select("conv_id").distinct().count()
            facts["incremental.touched_frac"] = touched / self.n_convs
            return _staged_features(tracer, part, pipe.vocab, facts)

        with tracer.span("incremental"):
            feats = incremental_snapshot_update(
                spark, self.root, self.s0, spark.read.parquet(self.base),
                recompute,
            )
        with tracer.span("write"):
            pipe.write(feats, self.out)
        facts["write"] = _tree_size(self.out)
        out_rows = spark.read.parquet(self.out).count()
        facts["incremental.carried_rows"] = out_rows - facts["anchors"]
        with tracer.span("snaptable.rollback"):
            snaptable.rollback(self.root, self.s0)

    def check(self, spark) -> list[str]:
        """Exactness against a full recompute, in two parts: the carried
        conversations' rows equal the base features' (their history did
        not change), and the touched ones' equal the oracle's and keep
        their base split."""
        touched = F.col("conv_id").isin(self.touched)
        if self.expect_carried is None:  # once, after the cold pass
            base = spark.read.parquet(self.base)
            self.expect_carried = _digest(base.where(~touched))
            self.expect_split = dict(
                base.where(touched).select("conv_id", "split").distinct()
                .toPandas().itertuples(index=False))
        out = spark.read.parquet(self.out)
        problems = []
        got = _digest(out.where(~touched))
        if got != self.expect_carried:
            problems.append(f"carried rows: digest {got} != base "
                            f"features {self.expect_carried}")
        got = out.where(touched).toPandas()
        split = dict(got[["conv_id", "split"]].drop_duplicates()
                     .itertuples(index=False))
        if split != self.expect_split:
            problems.append("touched conversations changed split")
        return problems + _compare_anchors(got, self.expect)


class ApmSqlLog:
    """APM query log → 5-minute window vectors → empty-window backfill →
    parquet, checked by a numpy re-assembly of sampled windows."""

    name = "apm_sql_log"

    def __init__(self, data: gen.Inputs, work: str):
        self.vocab, _ = apm.golden_vocab(
            os.path.join(ROOT, "tests", "golden", "apm_golden.json")
        )
        self.log_path = data.apm_log()
        self.out_win = os.path.join(work, "out", "apm_windows")
        self.out_empty = os.path.join(work, "out", "apm_empty")
        self.rows = gen.APM_QUERIES

    def prepare(self, spark) -> None:
        log = pd.read_parquet(self.log_path)
        log["win"] = log["ts_sec"] // APM_WINDOW_S * APM_WINDOW_S
        by_win = dict(tuple(log.groupby("win")))
        # a window is in the output iff one of its queries encodes
        valid = {w for w, g in by_win.items()
                 if any(apm.parse_ch_query(s).ok for s in g["sql"])}
        spine = np.arange(log["win"].min(), log["win"].max() + 1, APM_WINDOW_S)
        empty = [w for w in spine if w not in by_win
                 and (w % 86400) // 3600 > APM_AFTER_HOUR]
        self.expect_windows = len(valid)
        self.expect_empty = len(empty) * len(self.vocab.candidate_tables)
        rng = np.random.default_rng(len(log) + len(valid))
        picked = rng.choice(sorted(valid), SAMPLE_WINDOWS, replace=False)
        self.expect = {int(w): self._window_vector(by_win[w]) for w in picked}

    def _window_vector(self, g: pd.DataFrame) -> np.ndarray:
        """Documented assembly: dedupe equal intents per table (cost sum,
        earliest ts), top table by summed cost, its top_query_n intents
        by cost desc then ts asc, placed in the table's slot."""
        v = self.vocab
        groups: dict = {}
        for r in g.itertuples():
            q = apm.apm_query_vector(apm.parse_ch_query(r.sql), r.ts_sec, v)
            if q is None:
                continue
            grp = groups.setdefault((r.table, q.tobytes()),
                                    {"cost": 0, "ts": r.ts_sec, "q": q})
            grp["cost"] += r.cost
            grp["ts"] = min(grp["ts"], r.ts_sec)
        tab_cost: dict = {}
        for (tab, _), grp in groups.items():
            tab_cost[tab] = tab_cost.get(tab, 0) + grp["cost"]
        top = min(tab_cost, key=lambda t: (-tab_cost[t], t))
        cand = list(v.candidate_tables)
        qlen, n_t = v.query_layout().width, len(cand)
        vec = np.zeros(v.window_width(), dtype=np.float32)
        ti = cand.index(top)
        vec[ti] = 1.0
        mem = sorted((grp for (tab, _), grp in groups.items() if tab == top),
                     key=lambda grp: (-grp["cost"], grp["ts"]))
        base = n_t + ti * v.top_query_n * qlen
        for j, grp in enumerate(mem[: v.top_query_n]):
            vec[base + j * qlen: base + (j + 1) * qlen] = grp["q"]
        return vec

    def _log(self, spark) -> DataFrame:
        return spark.read.parquet(self.log_path).withColumn(
            "win",
            F.floor(F.col("ts_sec") / APM_WINDOW_S).cast("long") * APM_WINDOW_S,
        )

    def _empty(self, log: DataFrame) -> DataFrame:
        return apm.apm_empty_windows(log.select("win"), self.vocab,
                                     window_s=APM_WINDOW_S,
                                     after_hour=APM_AFTER_HOUR)

    def run(self, spark) -> None:
        log = self._log(spark)
        apm.assemble_apm_windows(log, self.vocab).write.mode(
            "overwrite").parquet(self.out_win)
        self._empty(log).write.mode("overwrite").parquet(self.out_empty)

    def traced(self, spark, tracer, facts: dict) -> None:
        log = self._log(spark)
        with tracer.span("apmencode.encode"):
            enc, _ = apm.encode_apm(log, "sql", "ts_sec", self.vocab)
            r = enc.agg(
                F.count(F.lit(1)),
                F.sum(F.col("apm_features").isNull().cast("long")),
            ).first()
        facts["apmencode.invalid_frac"] = r[1] / r[0]
        with tracer.span("apmencode.assemble"):
            wins, _ = _materialise(apm.assemble_apm_windows(log, self.vocab))
        with tracer.span("apmencode.backfill"):
            empty, n_empty = _materialise(self._empty(log))
        facts["apmencode.empty_windows"] = (
            n_empty / len(self.vocab.candidate_tables)
        )
        with tracer.span("write"):
            wins.write.mode("overwrite").parquet(self.out_win)
            empty.write.mode("overwrite").parquet(self.out_empty)
        a, b = _tree_size(self.out_win), _tree_size(self.out_empty)
        facts["write"] = (a[0] + b[0], a[1] + b[1])

    def check(self, spark) -> list[str]:
        problems = []
        wins = spark.read.parquet(self.out_win)
        n_win = wins.count()
        if n_win != self.expect_windows:
            problems.append(f"{n_win} windows, expected {self.expect_windows}")
        n_empty = spark.read.parquet(self.out_empty).count()
        if n_empty != self.expect_empty:
            problems.append(f"{n_empty} backfill rows, expected {self.expect_empty}")
        got = wins.where(F.col("win").isin(list(self.expect))).toPandas()
        if len(got) != len(self.expect):
            return problems + [f"{len(got)} of {len(self.expect)} sampled windows"]
        bad = [int(r.win) for r in got.itertuples()
               if not np.array_equal(np.asarray(r.window_vector, np.float32),
                                     self.expect[int(r.win)])]
        if bad:
            problems.append(f"window vectors differ at {bad[:5]}")
        return problems


# BENCHMARK.json lists the two transcript workloads; apm_sql_log, the
# only caller of apmencode, runs by name for work on that layer (a run
# of each workload costs about a minute, mostly Spark start-up and JIT).
WORKLOADS = {w.name: w for w in (PitBatch, ApmSqlLog, PitRefresh)}
