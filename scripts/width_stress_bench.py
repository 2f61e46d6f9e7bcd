"""Width-stress bench (VERDICT r2 item 8): the flagship assembly at
realistic vector widths — 10k-token vocabulary, top_k=3, top_n=5 —
so the window vector is ~top_k·top_n·(31+|R|+|T|+10000+|G|) ≈ 150k
floats (~600 KB) instead of the default ~1.7k.

What this checks at scale: the narrow-member design means the member
shuffle cost is WIDTH-INDEPENDENT (structs of ts/turn/tool/cost/hash);
only (a) the per-turn Arrow vectorizer, (b) the single wide join-back
of ≤ k·n selected representatives, and (c) the assembly scatter grow
with width.  The window vectors go to Spark's noop sink, so every
~600 KB array is assembled and crosses back to the JVM, as in the
deployment pipeline.

Usage: python scripts/width_stress_bench.py [sf_dir] [reps]
Prints one JSON line per config; record results in BENCH_SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(spark, sf_dir: str, max_tokens: int, k: int, n: int) -> dict:
    from sqlfeatureextraction_spark.config import FeatureConfig
    from sqlfeatureextraction_spark.layout import window_vector_width
    from sqlfeatureextraction_spark.operators.pit_window import (
        window_features_builtin,
    )
    from sqlfeatureextraction_spark.operators.vectorize import (
        with_turn_features,
    )
    from sqlfeatureextraction_spark.synth import events_as_transcripts
    from sqlfeatureextraction_spark.vocab import fit_vocabulary

    from sqlfeatureextraction_spark.vocab import Vocabulary

    cfg = FeatureConfig(top_k_entities=k, top_n_members=n)
    t0 = time.perf_counter()
    tx = events_as_transcripts(spark, sf_dir)
    vocab = fit_vocabulary(tx, max_tokens=max_tokens)
    if len(vocab.tokens) < max_tokens:
        # the synthetic corpus has fewer distinct tokens than requested:
        # pad the vocabulary with never-matching tokens so the VECTOR
        # WIDTH (the thing under stress — scatter, Arrow transfer, wide
        # join-back, assembly memory) reaches the target while the
        # pipeline stays end-to-end real
        pad = {
            f"__pad{i:06d}": len(vocab.tokens) + i
            for i in range(max_tokens - len(vocab.tokens))
        }
        vocab = Vocabulary(
            tokens={**vocab.tokens, **pad},
            roles=vocab.roles,
            tools=vocab.tools,
        )
    vec, layout = with_turn_features(tx, vocab, cfg, sparse="auto")
    vec = vec.cache()
    out = window_features_builtin(vec, vocab, cfg, layout)
    out.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    # one window row per distinct (conv_id, ts_sec) anchor
    n_rows = vec.select("conv_id", "ts_sec").distinct().count()
    vec.unpersist()
    return {
        "max_tokens": max_tokens,
        "top_k": k,
        "top_n": n,
        "turn_width": layout.width,
        "window_width": window_vector_width(layout, k, n),
        "rows": n_rows,
        "wall_s": round(wall, 3),
        "turns_per_sec": round(n_rows / wall, 1),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(os.environ.get("BENCH_PARALLELISM", "32"))

    from sqlfeatureextraction_spark.session import get_spark

    spark = get_spark("width_stress", parallelism=cpus, shuffle_partitions=cpus)
    spark.read.parquet(f"{sf_dir}/events.parquet").count()  # warm

    configs = [(256, 1, 2), (10000, 1, 2), (10000, 3, 5)]
    for max_tokens, k, n in configs:
        best = None
        for _ in range(reps):
            r = run_once(spark, sf_dir, max_tokens, k, n)
            if best is None or r["wall_s"] < best["wall_s"]:
                best = r
        print(json.dumps(best))


if __name__ == "__main__":
    main()
