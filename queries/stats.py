"""Statistics family: relational aggregates (group/join/pivot/rollup),
rank, quantile and change-point statistics, corpus laws, fitted models
(logistic/OLS/PCA/BPE/TextRank) replayed as SQL, hypothesis tests,
cohort/funnel/basket analyses and drift monitors."""

from __future__ import annotations

from pyspark.sql import functions as F

from queries._common import _EV_TS, EVENT_TYPES, _events, _SPTOK, _TOK
from sqlfeatureextraction_spark.operators.bpe import (
    bpe_encode_sql_oracle,
    bpe_sql_oracle,
)
from sqlfeatureextraction_spark.operators.fit import (
    calibration_sql_oracle,
    logreg_sql_oracle,
    ols_sql_oracle,
    pca_sql_oracle,
)
from sqlfeatureextraction_spark.operators.graphrank import (
    textrank_sql_oracle,
)


def _logreg_features(spark, sf_dir):
    """THE quality-classifier feature frame (y = is-English, x1 =
    ln(1+len), x2 = type-token ratio) — single source of truth shared
    by logreg_quality, calibration, and auc so their Spark arithmetic
    can never drift from the shared _logreg_data oracle CTE."""
    from sqlfeatureextraction_spark.operators.curation import tokens_col

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens_col(F.col("text"))
    return doc.select(
        (F.col("lang") == "en").cast("double").alias("y"),
        F.ln(1 + F.size(toks)).alias("x1"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("x2"),
    ).where(F.size(toks) > 0)


def _q_percent_rank(spark, sf_dir):
    """Rank normalization of events.value per event_type:
    percent_rank + empirical CDF, one window."""
    from sqlfeatureextraction_spark.operators.stats import (
        with_group_percent_rank,
    )

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = with_group_percent_rank(ev, "event_type", "value")
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "pct_rank",
        "cdf",
    )


def _q_rolling_quantile(spark, sf_dir):
    """Exact rolling median of events.value over the trailing 8
    observations per user — sort_array + element_at on a bounded
    ROWS frame (the discrete-quantile convention DuckDB's
    quantile_disc window aggregate uses)."""
    from sqlfeatureextraction_spark.operators.stats import (
        rolling_quantile,
    )

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "value"
    )
    out = rolling_quantile(
        ev, "user_id", ("ts_sec", "event_id"), "value", q=0.5, n_rows=8
    )
    return out.select(
        "user_id",
        "ts_sec",
        "event_id",
        F.round("value", 4).alias("value"),
        "roll_n",
        "roll_q",
    )


def _q_cusum_changepoint(spark, sf_dir):
    """Page's one-sided CUSUM per user over events.value, as the
    closed prefix-sum form (running sum, then running min) — two
    window functions on one partitioning, no recursion."""
    from sqlfeatureextraction_spark.operators.stats import (
        cusum_changepoint,
    )

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "value"
    )
    # quantize_dp=4 selects the integer-exact path (events.value has
    # 2dp granularity): all accumulation happens in scaled DECIMAL
    # integers, so the statistic is bit-identical across engines and
    # partition-merge orders — the double path's avg() + prefix sum
    # amplifies ulp noise until a 6dp ROUND boundary flips.
    out = cusum_changepoint(
        ev, "user_id", ("ts_sec", "event_id"), "value", h=2.0,
        quantize_dp=4,
    )
    return out.select(
        "user_id",
        "ts_sec",
        "event_id",
        F.round("value", 4).alias("value"),
        "cusum",
        "is_shift",
    )


def _q_zipf_slope(spark, sf_dir):
    """Corpus Zipf rank-frequency fit (OLS of ln count on ln rank)
    via builtin regr_* moment aggregates — one row out."""
    from sqlfeatureextraction_spark.operators.stats import zipf_slope

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_slope(doc.select("text"), min_count=2)


def _q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over documents consumed in
    doc_id order — both global-order passes (doc rank + running token
    total, running new-type total) via the range-repartition
    exact_rank_prefix primitive, never a single-task Window; the fit
    is builtin regr_* moment aggregates of ln V on ln N."""
    from sqlfeatureextraction_spark.operators.stats import heaps_law

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return heaps_law(doc.select("doc_id", "text"))


def _q_pmi_collocations(spark, sf_dir):
    """Top-50 adjacent-bigram collocations by PMI (Church & Hanks) —
    bigrams zipped per-row from the token array (no self-join), type-
    count joins pruned by min_count BEFORE shuffling, 6dp-rounded
    order key so cross-engine ln ulps cannot reorder the cut."""
    from sqlfeatureextraction_spark.operators.stats import (
        pmi_collocations,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_collocations(doc.select("text"), min_count=5, top_k=50)


def _q_kl_drift(spark, sf_dir):
    """Per-source unigram KL(p_source || p_corpus) with Laplace-0.5
    smoothing over the corpus vocabulary — the groups x |V| textbook
    sum collapsed to observed-type joins plus a closed-form
    absent-mass correction (one corpus scalar + two per-group
    aggregates); nothing corpus-row-sized ever shuffles twice."""
    from sqlfeatureextraction_spark.operators.stats import kl_drift

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kl_drift(doc.select("source", "text"), "source", alpha=0.5)


def _q_logreg_quality(spark, sf_dir):
    """Quality-classifier fit (is-English from length + type-token
    ratio) by 4 IRLS/Newton steps — each step ONE mergeable 9-sum
    aggregate + a driver-side 3x3 Cramer solve; the oracle replays
    every iteration as a CTE chain with the same adjugate formulas."""
    from sqlfeatureextraction_spark.operators.fit import logreg_irls

    d = _logreg_features(spark, sf_dir)
    return logreg_irls(d, "x1", "x2", "y", n_iter=4, round_dp=4)


def _q_llr_keywords(spark, sf_dir):
    """Per-source characteristic keywords by Dunning's G^2 — type-
    count joins only, slice totals broadcast, per-slice top-10 via
    row_number over the type-count table, 6dp-rounded order key."""
    from sqlfeatureextraction_spark.operators.stats import llr_keywords

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return llr_keywords(
        doc.select("source", "text"), "source", top_k=10, min_count=3
    )


def _q_mann_whitney(spark, sf_dir):
    """Tie-corrected Mann-Whitney U between the purchase and error
    slices — rank sums from the DISTINCT-VALUE table via the
    range-repartition prefix-sum primitive, never a row-level global
    rank; z from the closed-form tie-corrected variance."""
    from sqlfeatureextraction_spark.operators.stats import mann_whitney_u

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return mann_whitney_u(
        ev.select("event_type", "value"),
        "event_type",
        "value",
        "purchase",
        "error",
    )


def _q_ols_fit(spark, sf_dir):
    """Closed-form two-feature OLS (n_chars ~ token count + distinct
    token count) — nine moment sums in ONE aggregate + the shared
    Cramer adjugate solve; oracle replays the identical formulas."""
    from sqlfeatureextraction_spark.operators.curation import tokens_col
    from sqlfeatureextraction_spark.operators.fit import ols_fit

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens_col(F.col("text"))
    d = doc.select(
        F.col("n_chars").cast("double").alias("y"),
        F.size(toks).cast("double").alias("x1"),
        F.size(F.array_distinct(toks)).cast("double").alias("x2"),
    )
    return ols_fit(d, "x1", "x2", "y")


def _q_pca_power(spark, sf_dir):
    """Top principal component of the embedding corpus by centered
    power iteration — d mean sums + one d-sum aggregate per step, no
    dxd matrix ever materialized; every step replayed as CTEs over
    the (vec, dim, centered-x) triple table."""
    from sqlfeatureextraction_spark.operators.fit import pca_power

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pca_power(emb.select("embedding"), n_iter=8)


def _q_bpe_learn(spark, sf_dir):
    """BPE merge learning (Sennrich ACL'16) on-cluster: the corpus
    touches one word-count aggregate; all 16 merge iterations run on
    the vocabulary-sized symbol table (pair-count -> deterministic
    argmax -> literal left-to-right replace), replayed CTE-for-CTE by
    the oracle — no floats, cross-engine exact."""
    from sqlfeatureextraction_spark.operators.bpe import bpe_learn

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_learn(doc.select("text"), n_merges=16)


def _q_bpe_fertility(spark, sf_dir):
    """Apply the learned 16-merge BPE tokenizer (a chain of 16 literal
    codegen replaces — zero joins over the corpus) and report per-doc
    tokenizer fertility (subwords per word)."""
    from sqlfeatureextraction_spark.operators.bpe import (
        bpe_encode_fertility,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_encode_fertility(
        doc.select("doc_id", "text"), n_merges=16
    )


def _q_textrank(spark, sf_dir):
    """TextRank keywords (Mihalcea & Tarau 2004): weighted PageRank
    power iteration over the symmetrized adjacent-token co-occurrence
    graph — 10 iterations, each ONE vocab-sized join+groupBy; the
    oracle replays every iteration as a CTE chain."""
    from sqlfeatureextraction_spark.operators.graphrank import (
        textrank_keywords,
    )

    doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textrank_keywords(
        doc.select("text"), top_k=20, n_iter=10
    )


def _q_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention triangle — per-user first-week
    aggregate + distinct (user, week) activity on the SAME user-key
    exchange, cohort sizes broadcast back onto the cells."""
    from sqlfeatureextraction_spark.operators.behavior import (
        retention_cohorts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev.select("user_id", "ts"))


def _q_funnel(spark, sf_dir):
    """Strictly-ordered signup -> view -> purchase funnel — per-user
    sorted per-step ts arrays from ONE groupBy, the sequential walk
    as array_min/filter higher-order functions (codegen, no Python,
    no joins, no window)."""
    from sqlfeatureextraction_spark.operators.behavior import (
        funnel_conversion,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_conversion(
        ev.select("user_id", "event_type", "ts"),
        ["signup", "view", "purchase"],
    )


def _q_acf(spark, sf_dir):
    """Per-user autocorrelation of value at lags 1-3 — one group
    window pass with three lag columns, three corr states in one
    aggregate; the tsfresh-style temporal signature."""
    from sqlfeatureextraction_spark.operators.stats import acf_features

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "value"
    )
    return acf_features(
        ev, "user_id", ("ts_sec", "event_id"), "value", max_lag=3
    )


def _q_trend_slope(spark, sf_dir):
    """Per-user OLS drift of value on time with the slope
    t-statistic — regr_* moments only, one aggregate per group."""
    from sqlfeatureextraction_spark.operators.stats import trend_slope

    ev = _events(spark, sf_dir).select("user_id", "ts_sec", "value")
    return trend_slope(ev, "user_id", "ts_sec", "value")


def _q_gini(spark, sf_dir):
    """Per-event-type Gini concentration of value — exact rank
    formula, one group-partitioned row_number window + one aggregate,
    tie-invariant and shuffle-order deterministic."""
    from sqlfeatureextraction_spark.operators.stats import (
        gini_coefficient,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return gini_coefficient(
        ev.select("event_type", "value"), "event_type", "value"
    )


def _q_binseg(spark, sf_dir):
    """Offline single-changepoint per user: binary segmentation's
    standardized mean-shift argmax — prefix-sum window + ONE max_by
    over a (rounded-stat desc, earlier-k) struct key."""
    from sqlfeatureextraction_spark.operators.stats import binseg_split

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "value"
    )
    return binseg_split(
        ev, "user_id", ("ts_sec", "event_id"), "value"
    )


def _q_benford(spark, sf_dir):
    """Benford first-digit deviation of events.value — codegen digit
    extraction, one 9-row digit groupBy, chi-square vs log10(1+1/d)."""
    from sqlfeatureextraction_spark.operators.stats import (
        benford_deviation,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return benford_deviation(ev.select("value"), "value")


def _q_weighted_quantiles(spark, sf_dir):
    """Exact weighted quantiles of events.value with the weight parsed
    from the JSON props column — distinct-value weight cumsum via
    exact_rank_prefix, min-clearing value per prob."""
    from sqlfeatureextraction_spark.operators.stats import (
        weighted_quantiles,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("w"),
    )
    return weighted_quantiles(ev, "value", "w", (0.25, 0.5, 0.75, 0.95))


def _q_basket_lift(spark, sf_dir):
    """Association-rule lift over (user, event_type) baskets —
    per-basket sorted item arrays with pairs generated per-row by
    nested transform/flatten (no pair-table self-join), type-sized
    support counts."""
    from sqlfeatureextraction_spark.operators.behavior import (
        basket_lift_pairs,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return basket_lift_pairs(
        ev.select("user_id", "event_type"), min_support=2
    )


def _q_seasonality(spark, sf_dir):
    """Hour-of-day seasonal strength of events.value per event_type —
    1 - Var(within-hour)/Var(total) from two moment aggregates, the
    STL seasonal-strength statistic with seasonal means."""
    from sqlfeatureextraction_spark.operators.behavior import (
        seasonality_strength,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return seasonality_strength(
        ev.select("event_type", "ts", "value"), "event_type"
    )


def _q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between the purchase and error
    value distributions — ECDFs as per-slice cumulative counts over
    the DISTINCT-VALUE table (exact_rank_prefix again), then one
    scalar max; the shape-change leg of the A/B family."""
    from sqlfeatureextraction_spark.operators.stats import ks_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ks_test(
        ev.select("event_type", "value"),
        "event_type",
        "value",
        "purchase",
        "error",
    )


def _q_calibration(spark, sf_dir):
    """Reliability diagram + ECE for the logreg quality classifier —
    scored with the 4dp-published coefficients both engines
    hash-match on, fixed-width bins, n_bins-sized aggregate."""
    from sqlfeatureextraction_spark.operators.fit import (
        calibration_curve,
    )

    d = _logreg_features(spark, sf_dir)
    return calibration_curve(d, "x1", "x2", "y", n_bins=10)


def _q_auc(spark, sf_dir):
    """ROC AUC of the logreg quality score via the exact rank-sum
    identity with fractional tie ranks — distinct-score cumsum via
    exact_rank_prefix, never the n_pos x n_neg pair set."""
    from sqlfeatureextraction_spark.operators.fit import (
        auc_score,
        logreg_irls,
    )

    d = _logreg_features(spark, sf_dir)
    fit = logreg_irls(d, "x1", "x2", "y").collect()[0]
    scored = d.select(
        "y",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.lit(fit["b0"])
                        + F.lit(fit["b1"]) * F.col("x1")
                        + F.lit(fit["b2"]) * F.col("x2")
                    )
                )
            )
        ).alias("score"),
    )
    return auc_score(scored, "score", "y")


def _q_welch_ttest(spark, sf_dir):
    """Welch unequal-variance t-test of events.value between the
    purchase and error slices — two moment aggregates + closed-form
    scalar arithmetic on a 2-row frame."""
    from sqlfeatureextraction_spark.operators.stats import welch_ttest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return welch_ttest(
        ev.select("event_type", "value"),
        "event_type",
        "value",
        "purchase",
        "error",
    )


def _q_spearman_trend(spark, sf_dir):
    """Per-user Spearman rank correlation of (ts_sec, value) — the
    monotonic-drift detector; fractional tie ranks from two windows
    per axis, all four on the ONE user_id partitioning, then the
    builtin corr aggregate over ranks."""
    from sqlfeatureextraction_spark.operators.stats import spearman_corr

    ev = _events(spark, sf_dir).select("user_id", "ts_sec", "value")
    return spearman_corr(ev, "user_id", "ts_sec", "value")


def _q_robust_outliers(spark, sf_dir):
    """Median/MAD robust outlier flags on events.value per
    event_type: two exact-regime GK medians + broadcast join-backs,
    0.6745 consistency constant, k=3.5."""
    from sqlfeatureextraction_spark.operators.stats import (
        robust_outlier_flags,
    )

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = robust_outlier_flags(ev, "event_type", "value", k=3.5)
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "robust_z",
        "is_outlier",
    )


def _q_ewma_decay(spark, sf_dir):
    """Time-decayed running value per user (half-life 7 days over the
    30-day window — well inside the prefix-sum rescaling range):
    strictly causal recency feature, one window cumsum."""
    from sqlfeatureextraction_spark.operators.pit_window import (
        ewma_time_decay,
    )

    ev = _events(spark, sf_dir).select(
        "user_id",
        # second-truncated so ordering AND decay use the same clock
        # the oracle sees (raw micros would reorder same-second pairs)
        F.col("ts_sec").cast("timestamp").alias("ts"),
        "ts_sec",
        "event_id",
        "value",
    )
    # quantize_dp=4: rescaled terms accumulate as scaled int64, so
    # the 10k-row prefix sum is bit-identical across engines (a
    # double cumsum drifts by ulps into ROUND boundaries); output
    # rounded at 4dp (the repo's float-aggregate convention).
    out = ewma_time_decay(
        ev,
        half_life_s=604800,
        entity_col="user_id",
        ts_col="ts",
        value_col="value",
        order_cols=("event_id",),
        round_dp=4,
        quantize_dp=4,
    )
    return out.select(
        "user_id",
        "ts_sec",
        "event_id",
        F.round("value", 4).alias("value"),
        "ewma",
    )


def _q_transitions(spark, sf_dir):
    """Markov transition counts + conditional probabilities over
    per-user event_type sequences (lag window -> pair groupBy ->
    row-normalize over the pair aggregate)."""
    from sqlfeatureextraction_spark.operators.sessionize import (
        transition_counts,
    )

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_sec", "event_id", "event_type"
    )
    return transition_counts(
        ev,
        conv_col="user_id",
        order_cols=("ts_sec", "event_id"),
        state_col="event_type",
    )


def _q_psi_drift(spark, sf_dir):
    """PSI drift monitor: events.value in week 1 (reference) vs the
    rest of the month (current) — ref-quantile bins from the exact
    GK regime, codegen bin chain, two tiny aligned aggregates."""
    from sqlfeatureextraction_spark.operators.stats import (
        distribution_drift_psi,
    )

    ev = _events(spark, sf_dir).select("ts_sec", "value")
    split = 1704672000  # 2024-01-08 UTC
    ref = ev.where(F.col("ts_sec") < split)
    cur = ev.where(F.col("ts_sec") >= split)
    return distribution_drift_psi(ref, cur, "value", n_bins=10)


def _q_calibrate_threshold(spark, sf_dir):
    """Per-group quantile threshold calibration: keep events whose
    value clears their own event_type's 75th percentile (exact GK
    sketch == DuckDB quantile_disc), broadcast join-back + filter."""
    from sqlfeatureextraction_spark.operators.selection import (
        calibrate_group_threshold,
    )

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = calibrate_group_threshold(
        ev, group_col="event_type", score_col="value", q=0.75
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round("threshold", 4).alias("threshold"),
        "n_group",
    )


def _q_pool_embeddings(spark, sf_dir):
    """Per-label centroid pooling over the embeddings table: 64
    plan-time sum aggregates -> ONE shuffle carrying groups x dim,
    map-side partial agg, no explode; driver projection unnests the
    centroid for the cross-engine compare."""
    from sqlfeatureextraction_spark.operators.similarity import (
        pool_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pool_embeddings(emb, dim=64, group_col="label")
    return out.select(
        "label",
        "n_vecs",
        F.posexplode("centroid").alias("dim_idx", "centroid"),
    )


def _q_group_agg(spark, sf_dir):
    """A1-A3 family: multi-agg groupBy (TPC-H Q1 shape) on lineitem."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


def _q_join_agg(spark, sf_dir):
    """Multi-way join + agg: revenue per customer (broadcast-eligible
    dims; Catalyst picks the join order)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("c_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_pivot_counts(spark, sf_dir):
    """Pivot: per-user event_type count matrix (explicit value list →
    deterministic columns)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


def _q_rollup_agg(spark, sf_dir):
    """ROLLUP aggregation over (l_returnflag, l_linestatus)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


_logreg_data = f"""
        SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               ln(1 + len(l)) AS x1,
               len(list_distinct(l)) * 1.0 / len(l) AS x2
        FROM (SELECT lang, {_SPTOK} AS l FROM documents)
        WHERE len(l) > 0
    """


_ols_data = f"""
        SELECT CAST(n_chars AS DOUBLE) AS y,
               CAST(len(l) AS DOUBLE) AS x1,
               CAST(len(list_distinct(l)) AS DOUBLE) AS x2
        FROM (SELECT n_chars, {_SPTOK} AS l FROM documents)
        WHERE n_chars IS NOT NULL
    """


ORACLE = {
    # BPE: word-type seeding + per-merge pair-count/argmax/replace
    # CTE triples, integer-exact
    # PCA power iteration: per-step dot/d-sums/normalize CTEs
    # over the unnested centered triple table
    "pca_power": pca_sql_oracle(n_iter=8),
    "bpe_learn": bpe_sql_oracle(_SPTOK, n_merges=16),
    # BPE applied: the same learned chain, then one replace CTE
    # per merge over (doc, word) occurrences; fertility per doc
    "bpe_fertility": bpe_encode_sql_oracle(_SPTOK, n_merges=16),
    # TextRank: same edge construction + 10 power-iteration CTEs
    "textrank": textrank_sql_oracle(_SPTOK, top_k=20, n_iter=10),
    # IRLS logistic regression: every Newton step replayed as a
    # sums-CTE + Cramer-update CTE (formulas shared verbatim with
    # the Spark driver solve via fit.CRAMER_EXPRS)
    "logreg_quality": logreg_sql_oracle(_logreg_data, n_iter=4),
    # reliability diagram: the full logreg oracle as a nested-WITH
    # fit CTE, then identical score/bin/ECE arithmetic
    "calibration": calibration_sql_oracle(_logreg_data, n_bins=10),
    # AUC by the rank-sum identity over distinct scores (the fit
    # CTE provides the same 4dp coefficients)
    "auc": f"""
            WITH fit AS MATERIALIZED (
              SELECT * FROM ({logreg_sql_oracle(_logreg_data, n_iter=4)})
            ),
            d AS ({_logreg_data}),
            scored AS (
              SELECT d.y,
                     ROUND(1.0/(1.0 + exp(-(fit.b0 + fit.b1*d.x1
                                      + fit.b2*d.x2))), 12) AS s
              FROM d CROSS JOIN fit
            ),
            vc AS (
              SELECT s, CAST(COUNT(*) AS DOUBLE) AS t, SUM(y) AS p
              FROM scored GROUP BY s
            ),
            r AS (
              SELECT t, p,
                     SUM(t) OVER (ORDER BY s
                       ROWS UNBOUNDED PRECEDING) - t
                       + (t + 1) / 2.0 AS avg_rank
              FROM vc
            ),
            agg AS (
              SELECT SUM(p) AS np, SUM(t - p) AS nn,
                     SUM(p * avg_rank) AS rp
              FROM r
            )
            SELECT CAST(np AS BIGINT) AS n_pos,
                   CAST(nn AS BIGINT) AS n_neg,
                   ROUND(CASE WHEN np > 0 AND nn > 0
                         THEN (rp - np * (np + 1) / 2.0) / (np * nn)
                         END, 6) AS auc
            FROM agg
        """,
    # closed-form 2-feature OLS: same nine moment sums, same
    # Cramer formulas, normal-equation R^2
    "ols_fit": ols_sql_oracle(_ols_data),
    # basket lift: distinct (basket,item), pair supports by
    # a<b self-join (oracle side), lift over basket counts
    "basket_lift": """
            WITH d AS (
              SELECT DISTINCT user_id AS b, event_type AS i
              FROM events WHERE event_type IS NOT NULL
            ),
            nb AS (SELECT CAST(COUNT(DISTINCT b) AS DOUBLE) AS n FROM d),
            items AS (SELECT i, COUNT(*) AS ni FROM d GROUP BY i),
            pairs AS (
              SELECT a.i AS item_a, c.i AS item_b, COUNT(*) AS n_ab
              FROM d a JOIN d c ON a.b = c.b AND a.i < c.i
              GROUP BY 1, 2
              HAVING COUNT(*) >= 2
            )
            SELECT item_a, item_b, n_ab,
                   ia.ni AS n_a, ib.ni AS n_b,
                   ROUND((n_ab / nb.n)
                         / ((ia.ni / nb.n) * (ib.ni / nb.n)), 6)
                     AS lift
            FROM pairs
            JOIN items ia ON ia.i = item_a
            JOIN items ib ON ib.i = item_b
            CROSS JOIN nb
        """,
    # seasonal strength: within-hour SS via the moment identity,
    # 1 - SSW/SST per group
    "seasonality": f"""
            WITH e AS (
              SELECT event_type AS g,
                     CAST(floor(ts_sec / 3600) % 24 AS BIGINT) AS h,
                     value AS v
              FROM ({_EV_TS})
              WHERE value IS NOT NULL AND ts IS NOT NULL
            ),
            cells AS (
              SELECT g, h, COUNT(*) AS nh, SUM(v) AS sh,
                     SUM(v * v) AS qh
              FROM e GROUP BY g, h
            ),
            gg AS (
              SELECT g, SUM(nh) AS n, SUM(sh) AS s, SUM(qh) AS q,
                     SUM(qh - sh * sh / nh) AS ssw
              FROM cells GROUP BY g
            )
            SELECT g AS event_type, CAST(n AS BIGINT) AS n,
                   ROUND(CASE WHEN n > 1
                              AND q - s * s / n > 0
                         THEN 1.0 - ssw / (q - s * s / n)
                         END, 6) AS strength
            FROM gg
        """,
    # weekly cohort retention: epoch-aligned week floors, per-user
    # min week = cohort, distinct (user, week) activity
    "retention_cohorts": """
            WITH ev AS (
              SELECT user_id AS u,
                     CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT)
                       AS w
              FROM events WHERE ts IS NOT NULL
            ),
            cohorts AS (SELECT u, MIN(w) AS cw FROM ev GROUP BY u),
            active AS (SELECT DISTINCT u, w FROM ev),
            cells AS (
              SELECT c.cw AS cohort_week, a.w - c.cw AS week_offset,
                     COUNT(*) AS n_active
              FROM active a JOIN cohorts c USING (u)
              GROUP BY 1, 2
            ),
            sizes AS (
              SELECT cw AS cohort_week, COUNT(*) AS sz
              FROM cohorts GROUP BY cw
            )
            SELECT cohort_week, week_offset, n_active,
                   ROUND(n_active * 1.0 / sz, 6) AS retention
            FROM cells JOIN sizes USING (cohort_week)
        """,
    # ordered funnel: per-user sorted per-step ts lists, fold
    # t_k = first ts(step k) >= t_{k-1}; list_filter on a NULL
    # bound drops everything (same semantics as Spark F.filter)
    "funnel": """
            WITH ev AS (
              SELECT user_id AS u, event_type AS t,
                     CAST(floor(epoch(ts)) AS BIGINT) AS s
              FROM events
              WHERE event_type IN ('signup', 'view', 'purchase')
            ),
            pu AS (
              SELECT u,
                     list_sort(list(s) FILTER (t = 'signup')) AS ts0,
                     list_sort(list(s) FILTER (t = 'view')) AS ts1,
                     list_sort(list(s) FILTER (t = 'purchase')) AS ts2
              FROM ev GROUP BY u
            ),
            r AS (
              SELECT u, r0,
                     list_min(list_filter(ts1, x -> x >= r0)) AS r1
              FROM (SELECT u, ts1, ts2, list_min(ts0) AS r0 FROM pu)
            ),
            r2_ AS (
              SELECT r.u, r.r0, r.r1,
                     list_min(list_filter(pu.ts2, x -> x >= r.r1)) AS r2
              FROM r JOIN pu USING (u)
            ),
            c AS (
              SELECT COUNT(r0) AS n0, COUNT(r1) AS n1, COUNT(r2) AS n2
              FROM r2_
            )
            SELECT 1 AS step_idx, 'signup' AS step, n0 AS n_users,
                   ROUND(n0 * 1.0 / greatest(n0, 1), 6) AS conversion
            FROM c
            UNION ALL
            SELECT 2, 'view', n1,
                   ROUND(n1 * 1.0 / greatest(n0, 1), 6) FROM c
            UNION ALL
            SELECT 3, 'purchase', n2,
                   ROUND(n2 * 1.0 / greatest(n0, 1), 6) FROM c
        """,
    # ACF: lag windows + corr over overlapping pairs
    "acf": f"""
            WITH e AS (
              SELECT user_id AS g, ts_sec, event_id, value AS v
              FROM ({_EV_TS}) WHERE value IS NOT NULL
            ),
            l AS (
              SELECT g, v,
                     LAG(v, 1) OVER w AS l1,
                     LAG(v, 2) OVER w AS l2,
                     LAG(v, 3) OVER w AS l3
              FROM e
              WINDOW w AS (PARTITION BY g ORDER BY ts_sec, event_id)
            )
            SELECT g AS user_id, COUNT(*) AS n,
                   ROUND(corr(v, l1), 6) AS acf_1,
                   ROUND(corr(v, l2), 6) AS acf_2,
                   ROUND(corr(v, l3), 6) AS acf_3
            FROM l GROUP BY g
        """,
    # trend: regr moments + t = slope/se from the same moments
    "trend_slope": f"""
            WITH e AS (
              SELECT user_id AS g, ts_sec * 1.0 AS x, value AS y
              FROM ({_EV_TS})
              WHERE value IS NOT NULL AND ts_sec IS NOT NULL
            ),
            a AS (
              SELECT g, COUNT(*) AS n,
                     regr_slope(y, x) AS sl,
                     regr_intercept(y, x) AS ic,
                     regr_sxx(y, x) AS sxx,
                     regr_syy(y, x) AS syy
              FROM e GROUP BY g
            )
            SELECT g AS user_id, n,
                   ROUND(sl, 6) + 0.0 AS slope,
                   ROUND(ic, 6) + 0.0 AS intercept,
                   ROUND(CASE WHEN n > 2 AND sxx > 0
                              AND ((syy - sl * sl * sxx) / (n - 2))
                                  / sxx > 0
                         THEN sl / sqrt(((syy - sl * sl * sxx)
                                         / (n - 2)) / sxx)
                         END, 6) + 0.0 AS t_stat
            FROM a
        """,
    # Gini: exact rank formula over the group-sorted values
    "gini": """
            WITH d AS (
              SELECT event_type AS g, value AS v
              FROM events WHERE value IS NOT NULL
            ),
            r AS (
              SELECT g, v,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY v)
                       AS rk
              FROM d
            ),
            a AS (
              SELECT g, COUNT(*) AS n, SUM(v) AS s,
                     SUM(rk * v) AS rs
              FROM r GROUP BY g
            )
            SELECT g AS event_type, n,
                   ROUND(CASE WHEN n > 1 AND s > 0
                         THEN 2.0 * rs / (n * s) - (n + 1.0) / n
                         END, 6) AS gini
            FROM a
        """,
    # binseg: per-position standardized mean-shift stat from the
    # prefix sum; argmax via row_number over (stat desc, k asc)
    "binseg": f"""
            WITH e AS (
              SELECT user_id AS g, ts_sec, event_id, value AS v
              FROM ({_EV_TS}) WHERE value IS NOT NULL
            ),
            r AS (
              SELECT g, v,
                     ROW_NUMBER() OVER w AS k,
                     SUM(v) OVER (PARTITION BY g ORDER BY ts_sec,
                       event_id ROWS UNBOUNDED PRECEDING) AS p
              FROM e
              WINDOW w AS (PARTITION BY g ORDER BY ts_sec, event_id)
            ),
            t AS (SELECT g, COUNT(*) AS n, SUM(v) AS pn
                  FROM e GROUP BY g),
            sc AS (
              SELECT r.g, t.n, r.k,
                     ROUND(abs(r.p - (r.k * 1.0 / t.n) * t.pn)
                           * sqrt(t.n * 1.0
                                  / (r.k * (t.n - r.k))), 6) AS st
              FROM r JOIN t USING (g)
              WHERE r.k < t.n
            )
            SELECT g AS user_id, CAST(n AS BIGINT) AS n,
                   CAST(k AS BIGINT) AS split_idx, st AS stat
            FROM (
              SELECT g, n, k, st,
                     ROW_NUMBER() OVER (PARTITION BY g
                       ORDER BY st DESC, k ASC) AS rn
              FROM sc
            )
            WHERE rn = 1
        """,
    # Benford: identical first-digit arithmetic, 9-row groupBy,
    # chi2 window over the digit table
    "benford": """
            WITH d AS (
              SELECT CAST(floor(abs(value)
                       / power(10, floor(log10(abs(value)))))
                     AS INT) AS digit
              FROM events
              WHERE value IS NOT NULL AND abs(value) > 0
            ),
            c0 AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
            c AS (
              SELECT sp.digit, coalesce(c0.n, 0) AS n
              FROM (SELECT unnest(generate_series(1, 9)) AS digit) sp
              LEFT JOIN c0 USING (digit)
            ),
            t AS (SELECT SUM(n) AS nn FROM c),
            j AS (
              SELECT digit, n,
                     n * 1.0 / nn AS share,
                     log10(1.0 + 1.0 / digit) AS expected,
                     power(n * 1.0 / nn - log10(1.0 + 1.0 / digit), 2)
                       / log10(1.0 + 1.0 / digit) * nn AS chi2_term
              FROM c CROSS JOIN t
            )
            SELECT digit, n,
                   ROUND(share, 6) AS share,
                   ROUND(expected, 6) AS expected,
                   ROUND(chi2_term, 6) AS chi2_term,
                   ROUND(SUM(chi2_term) OVER (), 6) AS chi2
            FROM j
        """,
    # exact weighted quantiles: distinct-value weight cumsum,
    # q_p = min value whose cumW clears p*W
    "weighted_quantiles": """
            WITH e AS (
              SELECT value AS v,
                     CAST(json_extract_string(props, '$.k') AS DOUBLE)
                       AS w
              FROM events
            ),
            d AS (
              SELECT v, w FROM e
              WHERE v IS NOT NULL AND coalesce(w, 0) > 0
            ),
            vc AS (SELECT v, SUM(w) AS tw FROM d GROUP BY v),
            r AS (
              SELECT v, SUM(tw) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cw
              FROM vc
            ),
            tot AS (SELECT SUM(tw) AS tw FROM vc),
            ps AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS p)
            SELECT ps.p,
                   ROUND(MIN(r.v), 6) AS value,
                   ROUND(MAX(tot.tw), 6) AS total_weight
            FROM ps
            CROSS JOIN tot
            JOIN r ON r.cw >= ps.p * tot.tw
            GROUP BY ps.p
        """,
    # KS two-sample: per-slice ECDF cumsums over distinct values,
    # max |F_a - F_b|, scaled K statistic
    "ks_test": """
            WITH e AS (
              SELECT value AS v,
                     CASE WHEN event_type = 'purchase'
                          THEN 1.0 ELSE 0.0 END AS ia
              FROM events
              WHERE event_type IN ('purchase', 'error')
                AND value IS NOT NULL
            ),
            vc AS (
              SELECT v, SUM(ia) AS ca, SUM(1 - ia) AS cb
              FROM e GROUP BY v
            ),
            r AS (
              SELECT SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b
              FROM vc
              WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
            ),
            tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM vc),
            s AS (
              SELECT MAX(abs(cum_a / na - cum_b / nb)) AS d,
                     MAX(na) AS na, MAX(nb) AS nb
              FROM r CROSS JOIN tot
            )
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   ROUND(CASE WHEN na > 0 AND nb > 0 THEN d END, 6)
                     AS d_stat,
                   ROUND(CASE WHEN na > 0 AND nb > 0
                         THEN sqrt(na * nb / (na + nb)) * d END, 6)
                     AS k_stat
            FROM s
        """,
    # Mann-Whitney U with tie correction: fractional ranks from
    # the distinct-value cumsum, closed-form z
    "mann_whitney": """
            WITH e AS (
              SELECT value AS v,
                     CASE WHEN event_type = 'purchase'
                          THEN 1.0 ELSE 0.0 END AS ia
              FROM events
              WHERE event_type IN ('purchase', 'error')
                AND value IS NOT NULL
            ),
            vc AS (
              SELECT v, CAST(COUNT(*) AS DOUBLE) AS t, SUM(ia) AS ca
              FROM e GROUP BY v
            ),
            r AS (
              SELECT t, ca,
                     SUM(t) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) - t
                       + (t + 1) / 2.0 AS avg_rank
              FROM vc
            ),
            s AS (
              SELECT SUM(ca) AS na, SUM(t - ca) AS nb,
                     SUM(ca * avg_rank) AS ra,
                     SUM(t * t * t - t) AS ties
              FROM r
            )
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   ROUND(ra - na * (na + 1) / 2.0, 6) AS u_stat,
                   ROUND(
                     CASE WHEN na > 0 AND nb > 0
                       AND (na * nb / 12.0)
                           * ((na + nb + 1)
                              - ties / ((na + nb) * (na + nb - 1))) > 0
                     THEN (ra - na * (na + 1) / 2.0 - na * nb / 2.0)
                          / sqrt((na * nb / 12.0)
                                 * ((na + nb + 1)
                                    - ties / ((na + nb)
                                              * (na + nb - 1))))
                     END, 6) AS z
            FROM s
        """,
    # SQL-standard percent_rank + cume_dist per event_type
    "percent_rank_norm": """
            SELECT event_id, event_type,
                   ROUND(value, 4) AS value,
                   ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
                   ROUND(CUME_DIST() OVER w, 6) AS cdf
            FROM events
            WHERE value IS NOT NULL
            WINDOW w AS (PARTITION BY event_type ORDER BY value)
        """,
    # exact rolling median: quantile_disc window aggregate over
    # the same trailing-8 ROWS frame (discrete 1-based ceil(n*q))
    "rolling_quantile": f"""
            WITH e AS (
              SELECT user_id, ts_sec, event_id, value
              FROM ({_EV_TS}) WHERE value IS NOT NULL
            )
            SELECT user_id, ts_sec, event_id,
                   ROUND(value, 4) AS value,
                   COUNT(value) OVER w AS roll_n,
                   ROUND(quantile_disc(value, 0.5) OVER w, 6) AS roll_q
            FROM e
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts_sec, event_id
                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        """,
    # CUSUM closed form: running sum of (x - mu) minus its running
    # min; flag when the rounded statistic exceeds h * sigma_samp
    # integer-exact CUSUM matching the Spark quantize_dp=4 path:
    # v = round(value*1e4) scaled longs, prefix P_k as the exact
    # HUGEINT n*S_k - k*S_n over denominator n*1e4, sigma from
    # exact moments (S, Q) — one fp divide + sqrt per row on
    # identical integers, bit-identical across engines
    "cusum_changepoint": f"""
            WITH e AS (
              SELECT user_id, ts_sec, event_id, value,
                     CAST(ROUND(value * 10000) AS BIGINT) AS v
              FROM ({_EV_TS}) WHERE value IS NOT NULL
            ),
            a AS (
              SELECT user_id, ts_sec, event_id, value,
                     COUNT(*) OVER (PARTITION BY user_id) AS n,
                     SUM(CAST(v AS HUGEINT)) OVER (
                       PARTITION BY user_id) AS s_all,
                     SUM(CAST(v AS HUGEINT) * v) OVER (
                       PARTITION BY user_id) AS q_all,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY ts_sec, event_id) AS k,
                     SUM(CAST(v AS HUGEINT)) OVER (
                       PARTITION BY user_id
                       ORDER BY ts_sec, event_id
                       ROWS UNBOUNDED PRECEDING) AS s_k
              FROM e
            ),
            p AS (
              SELECT *, n * s_k - k * s_all AS num
              FROM a
            ),
            s AS (
              SELECT *,
                     num - LEAST(CAST(0 AS HUGEINT), MIN(num) OVER (
                       PARTITION BY user_id
                       ORDER BY ts_sec, event_id
                       ROWS UNBOUNDED PRECEDING)) AS adj
              FROM p
            )
            SELECT user_id, ts_sec, event_id,
                   ROUND(value, 4) AS value,
                   ROUND(CAST(adj AS DOUBLE) / (n * 10000.0), 6)
                     AS cusum,
                   CASE WHEN n > 1
                         AND (n * q_all - s_all * s_all) > 0
                        THEN ROUND(CAST(adj AS DOUBLE)
                                   / (n * 10000.0), 6)
                             > 2.0 * sqrt(
                                 CAST(n * q_all - s_all * s_all
                                      AS DOUBLE)
                                 / (n * (n - 1.0))) / 10000.0
                        ELSE FALSE END AS is_shift
            FROM s
        """,
    # Zipf fit: token counts >= 2, count-desc rank, OLS of
    # ln(count) on ln(rank) via regr_* moment aggregates
    "zipf_slope": f"""
            WITH c AS (
              SELECT tok, COUNT(*) AS cnt
              FROM (SELECT unnest({_TOK}) AS tok FROM documents)
              GROUP BY tok HAVING COUNT(*) >= 2
            ),
            r AS (
              SELECT ln(CAST(ROW_NUMBER() OVER (
                       ORDER BY cnt DESC, tok ASC) AS DOUBLE)) AS lr,
                     ln(CAST(cnt AS DOUBLE)) AS lc
              FROM c
            )
            SELECT COUNT(*) AS n_tokens,
                   ROUND(regr_slope(lc, lr), 6) AS slope,
                   ROUND(regr_intercept(lc, lr), 6) AS intercept,
                   ROUND(regr_r2(lc, lr), 6) AS r2
            FROM r
        """,
    # Heaps' law: doc rank + running token total via window
    # cumsums, V from per-type first-occurrence rank, OLS of
    # ln V on ln N via regr_* (space-split tokenizer = tokens_col)
    "heaps_law": f"""
            WITH d AS (
              SELECT doc_id, {_SPTOK} AS l FROM documents
            ),
            r AS (
              SELECT doc_id, l,
                     ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk,
                     SUM(len(l)) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS n
              FROM d
            ),
            f AS (
              SELECT tok, MIN(rnk) AS fr
              FROM (SELECT rnk, unnest(l) AS tok FROM r)
              GROUP BY tok
            ),
            nv AS (SELECT fr, COUNT(*) AS nv FROM f GROUP BY fr),
            v AS (
              SELECT r.rnk, r.n,
                     SUM(coalesce(nv.nv, 0)) OVER (ORDER BY r.rnk
                       ROWS UNBOUNDED PRECEDING) AS v
              FROM r LEFT JOIN nv ON nv.fr = r.rnk
            ),
            pts AS (
              SELECT ln(CAST(n AS DOUBLE)) AS ln_n,
                     ln(CAST(v AS DOUBLE)) AS ln_v
              FROM v WHERE n > 0 AND v > 0
            )
            SELECT COUNT(*) AS n_docs,
                   ROUND(regr_slope(ln_v, ln_n), 6) AS beta,
                   ROUND(regr_intercept(ln_v, ln_n), 6) AS ln_k,
                   ROUND(regr_r2(ln_v, ln_n), 6) AS r2
            FROM pts
        """,
    # PMI collocations: adjacent bigrams by zipping the token list
    # with its shift (list_zip pads with NULL -> filtered; tokens
    # are never NULL), min_count >= 5, top-50 by 6dp-rounded PMI
    "pmi_collocations": f"""
            WITH t AS (SELECT {_SPTOK} AS l FROM documents),
            tot AS (
              SELECT CAST(SUM(len(l)) AS DOUBLE) AS t1,
                     CAST(SUM(greatest(len(l) - 1, 0)) AS DOUBLE) AS t2
              FROM t
            ),
            uni AS (
              SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
              FROM (SELECT unnest(l) AS tok FROM t) GROUP BY tok
            ),
            bi AS (
              SELECT pr[1] AS w1, pr[2] AS w2, COUNT(*) AS pair_count
              FROM (
                SELECT unnest(list_zip(l, l[2:])) AS pr
                FROM t WHERE len(l) >= 2
              )
              WHERE pr[2] IS NOT NULL
              GROUP BY 1, 2
              HAVING COUNT(*) >= 5
            )
            SELECT bi.w1, bi.w2, bi.pair_count,
                   ROUND(ln((bi.pair_count / tot.t2)
                            / ((ux.c / tot.t1) * (uy.c / tot.t1))),
                         6) AS pmi
            FROM bi
            JOIN uni ux ON ux.tok = bi.w1
            JOIN uni uy ON uy.tok = bi.w2
            CROSS JOIN tot
            ORDER BY pmi DESC, bi.w1 ASC, bi.w2 ASC
            LIMIT 50
        """,
    # KL drift: same observed-join + closed-form absent-mass
    # decomposition as the Spark plan (alpha = 0.5)
    "kl_drift": f"""
            WITH toks AS (
              SELECT source AS g, unnest({_SPTOK}) AS tok
              FROM documents
            ),
            corpus AS (
              SELECT tok, CAST(COUNT(*) AS DOUBLE) AS ct
              FROM toks GROUP BY tok
            ),
            scal AS (
              SELECT SUM(ct) AS t, CAST(COUNT(*) AS DOUBLE) AS v
              FROM corpus
            ),
            cq AS (
              SELECT tok, ln(ct + 0.5) - ln(t + 0.5 * v) AS lnq
              FROM corpus CROSS JOIN scal
            ),
            sq AS (SELECT SUM(lnq) AS sq FROM cq),
            gc AS (
              SELECT g, tok, CAST(COUNT(*) AS DOUBLE) AS cgt
              FROM toks GROUP BY g, tok
            ),
            obs AS (
              SELECT gc.g,
                     SUM(gc.cgt) AS ng,
                     CAST(COUNT(*) AS DOUBLE) AS vg,
                     SUM(cq.lnq) AS sqg,
                     SUM((gc.cgt + 0.5) * ln(gc.cgt + 0.5)) AS s_plnp,
                     SUM((gc.cgt + 0.5) * cq.lnq) AS s_plnq
              FROM gc JOIN cq USING (tok)
              GROUP BY gc.g
            )
            SELECT g AS source,
                   CAST(ng AS BIGINT) AS n_tokens,
                   CAST(vg AS BIGINT) AS vocab_seen,
                   ROUND(
                     (s_plnp - (ng + 0.5 * vg) * ln(ng + 0.5 * v)
                      - s_plnq) / (ng + 0.5 * v)
                     + (0.5 / (ng + 0.5 * v))
                       * ((v - vg) * (ln(0.5) - ln(ng + 0.5 * v))
                          - (sq - sqg)),
                     6) AS kl
            FROM obs CROSS JOIN scal CROSS JOIN sq
        """,
    # Dunning G^2 keywords: 2x2 contingency per (source, token),
    # 0*ln0=0 via CASE, overrepresented-only, top-10 per source by
    # 6dp-rounded llr + token tie-break
    "llr_keywords": f"""
            WITH toks AS (
              SELECT source AS g, unnest({_SPTOK}) AS tok
              FROM documents
            ),
            gc AS (
              SELECT g, tok, CAST(COUNT(*) AS DOUBLE) AS a
              FROM toks GROUP BY g, tok
            ),
            corpus AS (
              SELECT tok, CAST(COUNT(*) AS DOUBLE) AS ct
              FROM toks GROUP BY tok
            ),
            gt AS (
              SELECT g, CAST(COUNT(*) AS DOUBLE) AS ng
              FROM toks GROUP BY g
            ),
            scal AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
            cells AS (
              SELECT gc.g, gc.tok, gc.a,
                     corpus.ct - gc.a AS b,
                     gt.ng - gc.a AS c,
                     scal.n - gt.ng - (corpus.ct - gc.a) AS d,
                     gt.ng, scal.n
              FROM gc
              JOIN corpus USING (tok)
              JOIN gt USING (g)
              CROSS JOIN scal
            ),
            scored AS (
              SELECT g, tok, CAST(a AS BIGINT) AS cnt,
                     ROUND(2.0 * (
                       CASE WHEN a > 0 THEN a * ln(a) ELSE 0 END
                       + CASE WHEN b > 0 THEN b * ln(b) ELSE 0 END
                       + CASE WHEN c > 0 THEN c * ln(c) ELSE 0 END
                       + CASE WHEN d > 0 THEN d * ln(d) ELSE 0 END
                       - CASE WHEN a + b > 0
                              THEN (a + b) * ln(a + b) ELSE 0 END
                       - CASE WHEN c + d > 0
                              THEN (c + d) * ln(c + d) ELSE 0 END
                       - CASE WHEN a + c > 0
                              THEN (a + c) * ln(a + c) ELSE 0 END
                       - CASE WHEN b + d > 0
                              THEN (b + d) * ln(b + d) ELSE 0 END
                       + CASE WHEN n > 0 THEN n * ln(n) ELSE 0 END
                     ), 6) AS llr
              FROM cells
              WHERE a >= 3 AND a / ng > b / (n - ng)
            )
            SELECT g AS source, token, cnt, llr
            FROM (
              SELECT g, tok AS token, cnt, llr,
                     ROW_NUMBER() OVER (PARTITION BY g
                       ORDER BY llr DESC, tok ASC) AS rn
              FROM scored
            )
            WHERE rn <= 10
        """,
    # Welch t-test: per-slice moment aggregates + the closed-form
    # t and Welch-Satterthwaite df
    "welch_ttest": """
            WITH g AS (
              SELECT COUNT(value)
                       FILTER (event_type = 'purchase') AS n_a,
                     AVG(value)
                       FILTER (event_type = 'purchase') AS ma,
                     VAR_SAMP(value)
                       FILTER (event_type = 'purchase') AS va,
                     COUNT(value)
                       FILTER (event_type = 'error') AS n_b,
                     AVG(value)
                       FILTER (event_type = 'error') AS mb,
                     VAR_SAMP(value)
                       FILTER (event_type = 'error') AS vb
              FROM events
              WHERE event_type IN ('purchase', 'error')
                AND value IS NOT NULL
            )
            SELECT n_a, n_b,
                   ROUND(ma, 6) AS mean_a,
                   ROUND(mb, 6) AS mean_b,
                   ROUND((ma - mb) / sqrt(va / n_a + vb / n_b), 6)
                     AS t_stat,
                   ROUND(
                     ((va / n_a + vb / n_b) * (va / n_a + vb / n_b))
                     / ((va / n_a) * (va / n_a) / (n_a - 1)
                        + (vb / n_b) * (vb / n_b) / (n_b - 1)),
                     6) AS df
            FROM g
        """,
    # Spearman: fractional tie ranks (rank + (tie_count-1)/2) per
    # axis, Pearson corr of the ranks per user
    "spearman_trend": f"""
            WITH e AS (
              SELECT user_id, ts_sec, value
              FROM ({_EV_TS})
              WHERE ts_sec IS NOT NULL AND value IS NOT NULL
            ),
            r AS (
              SELECT user_id,
                     RANK() OVER (PARTITION BY user_id ORDER BY ts_sec)
                       + (COUNT(*) OVER (PARTITION BY user_id, ts_sec)
                          - 1) / 2.0 AS rx,
                     RANK() OVER (PARTITION BY user_id ORDER BY value)
                       + (COUNT(*) OVER (PARTITION BY user_id, value)
                          - 1) / 2.0 AS ry
              FROM e
            )
            SELECT user_id, COUNT(*) AS n,
                   ROUND(corr(rx, ry), 6) AS rho
            FROM r GROUP BY user_id
        """,
    # median/MAD robust z per event_type, 0.6745 constant, k=3.5;
    # MAD=0 groups: NULL z, flag iff value != median
    "robust_outliers": """
            WITH m AS (
              SELECT event_type, quantile_disc(value, 0.5) AS med
              FROM events GROUP BY event_type
            ),
            d AS (
              SELECT e.event_id, e.event_type, e.value, m.med
              FROM events e JOIN m USING (event_type)
              WHERE e.value IS NOT NULL
            ),
            a AS (
              SELECT event_type,
                     quantile_disc(abs(value - med), 0.5) AS mad
              FROM d GROUP BY event_type
            )
            SELECT d.event_id, d.event_type,
                   ROUND(d.value, 4) AS value,
                   ROUND(d.med, 4) AS med,
                   ROUND(a.mad, 4) AS mad,
                   CASE WHEN a.mad > 0
                        THEN ROUND(0.6745 * (d.value - d.med) / a.mad, 6)
                   END AS robust_z,
                   CASE WHEN a.mad > 0
                        THEN abs(ROUND(0.6745 * (d.value - d.med)
                                       / a.mad, 6)) > 3.5
                        ELSE d.value <> d.med
                   END AS is_outlier
            FROM d JOIN a USING (event_type)
        """,
    # time-decayed running value (half-life 7d): prefix-sum
    # rescaling, identical addition order via (ts_sec, event_id)
    # integer-exact rescaled-term accumulation matching the Spark
    # quantize_dp=4 path: terms rounded to 4dp scaled longs, the
    # prefix sum is associative integer addition, one fp
    # multiply+round at emission
    "ewma_decay": f"""
            WITH b AS (
              SELECT user_id, ts_sec, event_id, value,
                     MIN(ts_sec) OVER (PARTITION BY user_id) AS t0
              FROM ({_EV_TS})
            ),
            s AS (
              SELECT *,
                     SUM(CAST(ROUND(value * exp((ln(2) / 604800.0)
                                     * (ts_sec - t0)) * 10000)
                              AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS run
              FROM b
            )
            SELECT user_id, ts_sec, event_id,
                   ROUND(value, 4) AS value,
                   ROUND(exp(-(ln(2) / 604800.0) * (ts_sec - t0))
                         * (CAST(run AS DOUBLE) / 10000.0), 4) AS ewma
            FROM s
        """,
    # per-user event_type transition matrix with conditional
    # probabilities
    "transition_counts": f"""
            WITH l AS (
              SELECT event_type AS state,
                     LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts_sec, event_id
                     ) AS prev_state
              FROM ({_EV_TS})
            ),
            c AS (
              SELECT prev_state, state, COUNT(*) AS n
              FROM l WHERE prev_state IS NOT NULL
              GROUP BY prev_state, state
            )
            SELECT prev_state, state, n,
                   ROUND(CAST(n AS DOUBLE)
                         / SUM(n) OVER (PARTITION BY prev_state), 6) AS p
            FROM c
        """,
    # PSI drift: week-1 reference vs rest, ref-quantile_disc bins,
    # strict > membership, 0.5-Laplace smoothing
    "psi_drift": f"""
            WITH ref AS (
              SELECT value FROM ({_EV_TS})
              WHERE ts_sec < 1704672000 AND value IS NOT NULL
            ),
            cur AS (
              SELECT value FROM ({_EV_TS})
              WHERE ts_sec >= 1704672000 AND value IS NOT NULL
            ),
            b AS (
              SELECT quantile_disc(value,
                [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS brks
              FROM ref
            ),
            rn AS (
              SELECT len(list_filter(b.brks, x -> value > x)) AS bin_idx,
                     COUNT(*) AS ref_n
              FROM ref, b GROUP BY 1
            ),
            cn AS (
              SELECT len(list_filter(b.brks, x -> value > x)) AS bin_idx,
                     COUNT(*) AS cur_n
              FROM cur, b GROUP BY 1
            ),
            g AS (
              SELECT i AS bin_idx
              FROM unnest(generate_series(0, 9)) AS t(i)
            ),
            j AS (
              SELECT g.bin_idx,
                     coalesce(ref_n, 0) AS ref_n,
                     coalesce(cur_n, 0) AS cur_n
              FROM g LEFT JOIN rn USING (bin_idx)
                     LEFT JOIN cn USING (bin_idx)
            ),
            terms AS (
              SELECT bin_idx, ref_n, cur_n,
                     (ref_n + 0.5) / (SUM(ref_n) OVER () + 5.0) AS p,
                     (cur_n + 0.5) / (SUM(cur_n) OVER () + 5.0) AS q
              FROM j
            )
            SELECT bin_idx, ref_n, cur_n,
                   ROUND(p, 6) AS ref_share,
                   ROUND(q, 6) AS cur_share,
                   ROUND((q - p) * ln(q / p), 6) AS psi_term,
                   ROUND(SUM((q - p) * ln(q / p)) OVER (), 6) AS psi
            FROM terms
        """,
    # per-event_type 75th-percentile value cut: quantile_disc
    # threshold, keep rows at or above it
    "calibrate_threshold": """
            WITH t AS (
              SELECT event_type,
                     quantile_disc(value, 0.75) AS threshold,
                     COUNT(value) AS n_group
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type,
                   ROUND(e.value, 4) AS value,
                   ROUND(t.threshold, 4) AS threshold,
                   t.n_group
            FROM events e JOIN t USING (event_type)
            WHERE e.value >= t.threshold
        """,
    # per-label embedding centroids, exploded to (label, dim_idx,
    # value): avg of double-cast elements, 6dp
    "pool_embeddings": """
            SELECT label, n_vecs, i - 1 AS dim_idx, v AS centroid
            FROM (
              SELECT label, i, COUNT(*) AS n_vecs,
                     ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS v
              FROM embeddings
              CROSS JOIN unnest(generate_series(1, 64)) AS g(i)
              GROUP BY label, i
            )
        """,
    "group_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
    "join_agg": """
            SELECT c_custkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(*) AS n_items
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY c_custkey
        """,
    "pivot_counts": f"""
            SELECT user_id,
              {", ".join(
                  f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}"
                  for t in EVENT_TYPES
              )}
            FROM events GROUP BY user_id
        """,
    "rollup_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   COUNT(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
}
