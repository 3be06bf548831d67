"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The queries live in ``duckdb_wasm_spark.plans`` / ``.operators``; this
module only aggregates their registries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (adapted TPC-H q1) on /root/testdata/sf0.001."""
    from duckdb_wasm_spark.plans import tpch

    return tpch.QUERIES["q1"](spark, "/root/testdata/sf0.001")


def _registries():
    """One registry module per query family."""
    from duckdb_wasm_spark.operators import registry
    from duckdb_wasm_spark.plans import extras, micro, reference_sql, tpch
    from duckdb_wasm_spark.streaming import windows

    return [tpch, micro, extras, reference_sql, registry, windows]


# Emission order for the bounded correctness walk, which gates about 50
# rows per walk in insertion order, so this order decides which queries
# get a fresh oracle row. When the long-green TPC-H/micro corpus led, the
# LLM-pipeline operators got no rows for two walks running.
# The rule:
#   (a) never-gated queries, then queries rewritten since their last
#       green row (a changed plan makes the old row prove nothing);
#   (b) then green queries, oldest green row first.
# When a query is rewritten, move it to the head of (a); when a listed
# name gets a green row, move it down.
_GATE_PRIORITY = [
    # (a) rewritten since the last green row: the queries that run
    # their DuckDB-dialect text (their emitted Spark SQL is new)
    "text_stats",
    "text_langid",
    "text_tokens",
    "text_vocab_topk",
    "text_repetition",
    "text_pii_scan",
    "text_gopher_flags",
    "text_ngram_entropy",
    "text_pmi_topk",
    "sample_balanced",
    "sample_split",
    "corpus_mix_weights",
    "doc_chunking",
    "corpus_zipf_slope",
    "corpus_source_divergence",
    "corpus_token_regression",
    "sample_weighted_priority",
    "events_retention",
    "events_sessionize",
    "events_scd2",
    "multimodal_meta",
    "events_tumbling",
    "events_rolling",
    "micro_topk_per_group",
    "extra_windows",
    "extra_set_ops",
    "extra_grouping",
    "extra_full_outer",
    "extra_recursive_walk",
    "extra_lateral",
    "extra_unpivot",
    "profile_columns",
    "dedup_exact",
    "text_robust_stats",
    "asof_click_attribution",
    "events_funnel",
    "events_session",
    "events_anomaly",
    "q11",
    "q12",
    "q13",
    "q14",
    "q15",
    "q16",
    "q5",
    "q6",
    "q7",
    "q8",
    "q9",
    "ref_q8_sqlite",
    "micro_grouped_sum",
    "micro_join2",
    "micro_join3",
    "micro_regex",
    "micro_sort",
    "micro_topk",
    "q18",
    "q19",
    "q20",
    "q1",
    "q2",
    "q3",
    "q4",
    "q10",
    "q21",
    "q22",
    "ref_q7_sqlite",
    # (a) continued: never gated
    "sim_topk_mmr",
    "dedup_lsh_tuning",
    "dedup_skew_stress",
    "sketch_kmv_jaccard",
    "sketch_bloom_decontaminate",
    "corpus_source_overlap",
    "corpus_novelty",
    "corpus_stats",
    "corpus_health_report",
    "sample_mixture_budget",
    "pipeline_near_dedup_corpus",
    "dedup_jaccard_prefix",
    "graph_kcore",
    "dedup_clusters",
    "dedup_embedding_clusters",
    "pipeline_canonical_best",
    "sketch_hll_distinct",
    "sketch_cms_heavy_hitters",
    # (b) oldest green row first
    "sample_pack_sequences",
    "sample_token_budget",
    "dedup_semdedup",
    "events_stream_join",
    "events_stream_sink",
    "extra_udtf_ngrams",
    "ivf_kmeanspp_init",
    "micro_scalar_fns",
    "q17",
    "sample_dsir",
    "source_csv_roundtrip",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "source_pydatasource",
    "text_fingerprint",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Emission order = _GATE_PRIORITY first, then the remaining
    queries in registry order — the correctness walk reads this dict
    in insertion order under a bounded window, so the order IS the
    gating policy."""
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _registries():
        merged.update(m.QUERIES)
    out = {k: merged[k] for k in _GATE_PRIORITY if k in merged}
    out.update(merged)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL equivalent for each query."""
    out: dict[str, str] = {}
    for m in _registries():
        out.update(m.ORACLE)
    return out
