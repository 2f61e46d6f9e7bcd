"""Seeded input generators, cached on disk per seed.

The program only ever sees the parquet files written here.  The same
seed always gives the same files, and a cached file is reused, so the
per-row Python loop of the transcript generator stays out of set-up and
out of every timed pass.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# bump when a generator changes, so stale cached inputs are not reused
VERSION = 4

TURNS = 6000  # transcript turns in the base table
HOT_SHARE = 0.25  # share of turns in the one hot conversation
# a refresh delta: DELTA_TURNS new turns on each of DELTA_CONVS
# conversations (about 3% of the ~290 in the base table)
DELTA_CONVS = 10
DELTA_TURNS = 3
APM_QUERIES = 3000
APM_DAYS = 3
APM_OPEN_HOURS = range(8, 20)  # UTC hours with traffic; nights are empty
APM_INVALID_SHARE = 0.03  # statements that are not SELECTs
APM_TABLES = ("dwm_request", "dwm_exception", "dwm_user")
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, as synth uses


def _as_spark_ts(pdf: pd.DataFrame) -> pd.DataFrame:
    # Spark reads microsecond parquet timestamps, not nanosecond ones
    return pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))


class Inputs:
    """The generated inputs of one seed, as parquet paths."""

    def __init__(self, cache_dir: str, seed: int):
        self.cache_dir = cache_dir
        self.seed = seed

    def _cached(self, kind: str, size: int, build) -> str:
        path = os.path.join(
            self.cache_dir, f"{kind}-v{VERSION}-n{size}-s{self.seed}.parquet"
        )
        if not os.path.exists(path):
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.tmp{os.getpid()}"
            build().to_parquet(tmp, index=False)
            os.replace(tmp, path)
        return path

    def transcripts(self) -> str:
        return self._cached("transcripts", TURNS, self._transcripts)

    def delta(self, base: "Inputs") -> str:
        """A refresh delta of this seed on the transcripts of `base`."""
        return self._cached(f"delta-b{base.seed}", TURNS,
                            lambda: self._delta(base))

    def apm_log(self) -> str:
        return self._cached("apm", APM_QUERIES, self._apm_log)

    def _transcripts(self) -> pd.DataFrame:
        """synth.make_transcripts_pdf trimmed to exactly TURNS rows: the
        hot conversation keeps its first HOT_SHARE of them and the others
        fill the rest in conversation order, so every seed has the same
        size and skew (a prefix of a conversation is a conversation)."""
        from sqlfeatureextraction_spark.synth import make_transcripts_pdf

        n_hot = int(TURNS * HOT_SHARE)
        n_convs = TURNS // 8
        while True:
            pdf = make_transcripts_pdf(n_convs=n_convs, seed=self.seed,
                                       hot_share=HOT_SHARE)
            hot = pdf["conv_id"] == pdf["conv_id"].iloc[0]
            if hot.sum() >= n_hot and (~hot).sum() >= TURNS - n_hot:
                break
            n_convs *= 2
        out = pd.concat([pdf[hot].head(n_hot), pdf[~hot].head(TURNS - n_hot)])
        return _as_spark_ts(out.reset_index(drop=True))

    def _delta(self, base: "Inputs") -> pd.DataFrame:
        """DELTA_TURNS new turns after the last turn of DELTA_CONVS
        conversations.  The hot conversation is left out: touching it
        would make one seed recompute a quarter of the table and
        another seed not."""
        from sqlfeatureextraction_spark.synth import ROLES, TOOLS, VOCAB_TOKENS

        base = pd.read_parquet(base.transcripts())
        rng = np.random.default_rng([self.seed, 1])
        last = base.sort_values(["conv_id", "turn_idx"]).groupby("conv_id").tail(1)
        last = last[last["conv_id"] != base["conv_id"].iloc[0]]
        picked = last.iloc[np.sort(rng.choice(len(last), DELTA_CONVS,
                                              replace=False))]
        rows = []
        for r in picked.itertuples():
            ts = int(r.ts.timestamp())
            for k in range(1, DELTA_TURNS + 1):
                # mostly short gaps, sometimes a tie with the previous turn
                ts += 0 if rng.random() < 0.1 else int(rng.integers(1, 240))
                toks = rng.choice(VOCAB_TOKENS, int(rng.integers(0, 12)))
                rows.append((
                    r.conv_id, r.turn_idx + k,
                    ROLES[int(rng.integers(0, len(ROLES)))], " ".join(toks),
                    TOOLS[int(rng.integers(0, len(TOOLS)))],
                    int(rng.integers(1, 5000)), pd.Timestamp(ts, unit="s"),
                ))
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                          "tool", "duration_ms", "ts"])
        pdf = pdf.astype({"turn_idx": np.int32, "duration_ms": np.int64})
        return _as_spark_ts(pdf[list(base.columns)])

    def _apm_log(self) -> pd.DataFrame:
        """ClickHouse APM query log over the golden vocabulary's candidate
        tables: one query per distinct second (so cost/ts ties never need
        the hash tie-break), traffic peaking mid-day and none at night,
        and a few statements the encoder must reject."""
        import json

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "tests", "golden", "apm_golden.json")) as f:
            schema = json.load(f)["schema_columns"]
        rng = np.random.default_rng([self.seed, 2])
        hours = np.array(list(APM_OPEN_HOURS))
        # diurnal weight per open hour, peak at 14:00
        hour_w = np.exp(-(((hours - 14.0) / 3.0) ** 2))
        sec = np.concatenate([
            BASE_EPOCH + d * 86400 + h * 3600 + np.arange(3600)
            for d in range(APM_DAYS) for h in hours
        ])
        w = np.tile(np.repeat(hour_w, 3600), APM_DAYS)
        ts = np.sort(rng.choice(sec, APM_QUERIES, replace=False, p=w / w.sum()))
        tables = rng.choice(APM_TABLES, APM_QUERIES, p=[0.5, 0.2, 0.3])
        sqls = [_apm_sql(rng, t, schema[t], int(s)) for t, s in zip(tables, ts)]
        return pd.DataFrame({
            "sql_id": np.arange(APM_QUERIES, dtype=np.int64),
            "ts_sec": ts.astype(np.int64),
            "table": tables,
            "sql": sqls,
            "cost": rng.integers(1, 1000, APM_QUERIES).astype(np.int64),
        })


def _apm_sql(rng, table: str, cols: list, ts: int) -> str:
    """One statement in the shapes of the sql_apm_encode query in
    __spark_entry__.py: granularity ladder, db prefix and _cluster/_view
    suffixes, skipped equality predicates, aliases through aggregates,
    ts bounds."""
    if rng.random() < APM_INVALID_SHARE:
        return f"SHOW TABLES LIKE '{table}%'"
    c = [cols[int(i)] for i in rng.integers(0, len(cols), 4)]
    k, v = int(rng.integers(0, 50)), int(rng.integers(0, 500))
    end = ts - int(rng.integers(0, 3600))
    start = end - int(rng.integers(60, 7 * 86400))
    unit = ("minute", "hour", "day")[int(rng.integers(0, 3))]
    t = int(rng.integers(0, 6))
    if t == 0:
        return (
            f"SELECT count() AS total, toStartOfInterval(ts, INTERVAL"
            f" {1 + k % 5} {unit}, 'Asia/Shanghai') AS b FROM {table}_cluster"
            f" WHERE (appid = 'app-{k}') AND (ts <= toDateTime64({end}.999, 3))"
            f" AND (ts >= toDateTime64({start}.000, 3)) GROUP BY b ORDER BY b ASC"
        )
    if t == 1:
        return (
            f"SELECT avg({c[0]}) AS m, {c[1]} FROM db_{k}.{table} WHERE"
            f" ({c[2]} > {v}) AND (ts <= toDateTime64({end}.999, 3)) GROUP BY"
            f" {c[1]} ORDER BY m DESC LIMIT 0, 8"
        )
    if t == 2:
        return (
            f"SELECT sum({c[0]}) AS s, max({c[1]}) AS mx, toStartOfInterval(ts,"
            f" toIntervalHour({1 + k % 3})) AS b FROM {table} WHERE ({c[2]} ="
            f" 'p{k}') OR ({c[3]} <> 'c') GROUP BY b"
        )
    if t == 3:
        return (
            f"SELECT min({c[0]}), {c[1]} FROM {table} WHERE {c[2]} > {v}"
            f" ORDER BY {c[1]}"
        )
    if t == 4:
        return f"SELECT {c[0]}, {c[1]} FROM {table}_view WHERE {c[2]} >= {v}"
    return (
        f"SELECT * FROM {table} WHERE ts >= toDateTime64({start}.000, 3)"
        f" LIMIT 100"
    )
