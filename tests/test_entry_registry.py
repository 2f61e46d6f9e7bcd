"""Pins the gate registry across refactors of the query families.

The correctness gate samples the first 50 ``queries()`` entries and
compares each against the result of its oracle text, so moving a query
function or an oracle between modules must keep both byte-identical.
The digests below were taken before the entry file was split into the
``queries`` package; their key order is the ``queries()`` order.
"""

import ast
import hashlib

import __spark_entry__ as E

# sha256(oracle_sql()[key])[:16], in queries() key order
ORACLE_SHA256 = {
    "transcript_window_features": "c09f736c935c3586",
    "transcript_wf_merge": "c09f736c935c3586",
    "pit_window_sum": "491da81dd1f9bf74",
    "sessionize": "fc3f7199b9265e7a",
    "asof_join_orders": "b720312a1f273501",
    "asof_last_match": "f841a6e73225743d",
    "lag_lead": "908925daeb977c90",
    "topk_per_group": "16e0e86cc0cea6dd",
    "backfill_spine": "36027b6de2833fa2",
    "group_agg": "3acc826a29e29db8",
    "tumbling_window_agg": "d94fa36eee2c2c62",
    "fixed_window_expand": "a86d0182d7e9f5fd",
    "window_metrics": "fd3f9427724bc8c4",
    "sliding_window_count": "431d98c2bf3035b8",
    "session_stats": "a891bef09c1b734b",
    "session_window_native": "2dc9082b485620ae",
    "dedup_exact": "e793ae4f56de6e36",
    "conv_dedup": "9caa8e79780e67f9",
    "minhash_pairs": "399b588f78f832b0",
    "simhash_dedup": "506f74e89f61e125",
    "ngram_jaccard": "399b588f78f832b0",
    "dedup_clusters": "fbe91812c99b5ab1",
    "embedding_neardup_lsh": "7e3517d6e051e559",
    "cross_corpus_exact": "413e31a9afbc6c19",
    "cross_corpus_neardup": "6cfc2046524cf025",
    "semantic_dedup": "0cf6ab9e8310d60b",
    "sorted_neighborhood": "40e3bf915cdfe95d",
    "neardup_prune": "d1d29e43a3d30e2e",
    "snapshot_time_travel": "2be649b2d6a48ec0",
    "snapshot_partition_evolution": "c00eb87024c7000b",
    "incremental_update": "491da81dd1f9bf74",
    "checkpoint_resume": "4260223867caf9bd",
    "vocab_fit": "e891b6b9d2ab5cd9",
    "oov_stats": "468368a55539f2b4",
    "encoded_roundtrip": "de7699bd7391d41e",
    "raw_log_scan": "205ebfee10de78f0",
    "sql_minc_encode": "ed72db3f01090e71",
    "sql_apm_encode": "4e20231a5f500298",
    "apm_golden_corpus": "34d1540e1b72c763",
    "sql_druid_rewrite": "a9225ab0c13a1ad3",
    "where_diff_rewrite": "983400dda35b0642",
    "table_lineage": "173d70de39605209",
    "merge_turns": "45bf9790b41aa681",
    "sft_pipeline": "e66c30b013bc8cd1",
    "conversation_features": "14992db2524150e9",
    "cusum_changepoint": "ec82a12ed36005e3",
    "stream_cusum": "034141f8316add55",
    "ewma_decay": "722b3b70f60a973e",
    "zipf_slope": "60b050c49af82022",
    "stream_pit_window": "491da81dd1f9bf74",
    "simhash_neardup": "9cce5e3afb1f5d80",
    "cross_corpus_bloom": "413e31a9afbc6c19",
    "pack_transcripts": "ebef7b6fa37483bf",
    "qa_pairs": "390c4144863bf97e",
    "context_budget": "02a52ebebe40705d",
    "preference_pairs": "4b881ee605c24a6f",
    "code_blocks": "522b7250dc46a139",
    "pool_embeddings": "0f15ef3c6b96f511",
    "char_entropy": "3828817cfa2ba089",
    "calibrate_threshold": "9a30ed524fda797b",
    "psi_drift": "0a9182e1d2a59c13",
    "mixture_weights": "55a0fc2925956be3",
    "transition_counts": "e06063a91e87fecc",
    "countmin_tokens": "f3028f48cb4502dc",
    "linearize_tree": "c3b0333d7bdea792",
    "normalize_text": "5e4c7ffdb65dafc2",
    "robust_outliers": "dc19f888214d867b",
    "winnowing": "0f8884d1e96ef050",
    "edit_distance": "8a857eff09ac1537",
    "percent_rank_norm": "5e555e79831cc79d",
    "vocab_coverage": "3c2f985fcc8b6968",
    "rolling_quantile": "6d15feeef99d68a3",
    "heaps_law": "2b044633462326f6",
    "pmi_collocations": "009b0c417250e336",
    "kl_drift": "46c831838864b76b",
    "welch_ttest": "8d5032c75c8de825",
    "logreg_quality": "5d4dcc55a1366df6",
    "calibration": "cf6ac185a76872a4",
    "auc": "ff642b3b6d68138b",
    "llr_keywords": "77debe2bb81e9dea",
    "mann_whitney": "542dd8813a4af652",
    "ols_fit": "053d7f6f4f0f517a",
    "acf": "e637dbe9929958c7",
    "trend_slope": "90fc0419fe45183c",
    "gini": "0a5e20a52fe86b80",
    "binseg": "312d3242415b97d7",
    "benford": "d949ddac2dbc111b",
    "weighted_quantiles": "7115f157c4fd6bba",
    "ks_test": "d7706f03bf878198",
    "pca_power": "feede2e660a7a60a",
    "bpe_learn": "65587d6941bc451b",
    "bpe_fertility": "eb09e7ee55962881",
    "textrank": "4a700453cabbb200",
    "retention_cohorts": "5e8b2fd87a2a777b",
    "basket_lift": "dcb967a79d83f028",
    "seasonality": "f6d0c47aedc3de00",
    "funnel": "fc263606b3e2b64c",
    "spearman_trend": "62073c270816bda1",
    "text_stats": "3210ae08b6e750d7",
    "doc_fingerprint": "9a9bf764002a25aa",
    "lang_id": "5b5fcd3956e6e956",
    "token_stats_full": "f079384415c21fa0",
    "quality_score": "cc4124a3120f62fa",
    "gopher_quality": "4f96322285a54a42",
    "join_agg": "66863b8f64de4e4b",
    "ann_topk": "e2225b61529c486e",
    "dsir_topk": "1b1c8efbb19697b0",
    "corpus_curation": "5324b7d6d0654f98",
    "decontaminate": "56a456b3599f305b",
    "substr_dup_frac": "328acb723e4a0658",
    "remove_dup_spans": "3f880aed5cc6367e",
    "domain_mix_sample": "5b6cff3e1d2412c3",
    "token_budget_sample": "ab39f313c7507df2",
    "doc_len_quantiles": "555d64b635c6f86a",
    "token_topk": "20d5dffd880f0f66",
    "tfidf_topk": "462ebfef2c91852b",
    "bm25_topk": "3235b0859a5d9372",
    "hybrid_rrf": "896e147d4d372da6",
    "unigram_nll": "cfb3896d78177545",
    "bigram_nll": "1a684eae5136a6b3",
    "trigram_nll": "882ad3433eac2e69",
    "group_sample_exact": "98abe8a22eb0cfa8",
    "chunk_documents": "a96fcfb9c3376d85",
    "chunk_dup_fraction": "9c69dcba274bd3d3",
    "shard_assign": "dad196c76475429b",
    "pii_scrub": "991cefd32804305c",
    "pack_sequences": "5bb45397a6c69687",
    "intradoc_repetition": "f7d23650e39effb2",
    "embedding_neardup": "c5c3d8d44dac12c3",
    "merge_intervals": "b1395f749b7ba4e6",
    "interval_join": "dc01ac7431f22948",
    "pivot_counts": "b024d0a54b1b8b0e",
    "rollup_agg": "8b6dd48f0418de5a",
    "sql_text_gates": "c15baa0dac2e4661",
    "session_validity": "35371d6d938281ce",
    "reorganize_chains": "622995d7721ecca0",
    "or_combine": "db5b79c59e179d6f",
    "stream_windowed_counts": "761269f76124b7dc",
    "stream_exact_dedup": "f3909b904f1bd939",
    "stream_stateful_counter": "984a372880a22d29",
    "media_frame_sample": "1bfa8cb3ab0d4ef5",
    "media_features": "638d3a09e05d01fa",
    "media_resize": "c43eaf4563dcb152",
    "sql_apm_selpred": "a38af51d9c5925fc",
    "ivf_topk": "24ef73bbc95c8dbc",
    "lsh_topk": "b175c10adbce4ec0",
    "pq_topk": "21ba14ef9dd2ef73",
    "f12_iso_ladder": "ed368db3566cea99",
    "session_split": "cdd35b10d22e57de",
    "apm_window_backfill": "b103bb64fe15a2b4",
    "sql_minc_ast_encode": "5732b9a056a1edea",
    "session_log_resume": "0e1c6309560a0797",
    "vocab_dim_roundtrip": "bc90377e40bc992e",
    "oov_observe": "8782645eee967333",
}


def test_query_keys_and_order():
    keys = list(E.queries())
    assert keys == list(ORACLE_SHA256)
    digest = hashlib.sha256("\n".join(keys).encode()).hexdigest()[:16]
    assert digest == "7405c1aa0ccef4b4"


def test_oracle_texts_unchanged():
    got = {
        k: hashlib.sha256(v.encode()).hexdigest()[:16]
        for k, v in E.oracle_sql().items()
    }
    assert got == ORACLE_SHA256


def test_every_oracle_has_a_query():
    assert set(E.oracle_sql()) <= set(E.queries())


def test_entry_defines_only_the_contract():
    tree = ast.parse(open(E.__file__).read())
    defs = {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    assert defs == {"entry", "queries", "oracle_sql"}
