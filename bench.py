#!/usr/bin/env python3
"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "docs_per_sec": ..., "n_docs": ...}

$SPARK_GRAFT_CPUS defaults to the number of CPUs this process may run on.

--only NAME runs one registered query; --all runs every registered query.
Scaling efficiency is measured by perfbench, not here:
`python3 perfbench/run.py --workload extract_unique --trace 1`.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from ocr_suite_spark.session import default_cores

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()

HEADLINE = [
    "extract_merged",
    "extract_like_search",
    "q1_pricing_summary",
    "q3_top_revenue",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "ann_topk_bruteforce",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "token_count",
    "doc_fingerprint",
    # r4 additions (VERDICT r3 ask #7): the r3 heavyweights, so regressions
    # in the new layer surface in BENCH deltas, not just the --all audit.
    # r3 baselines (sf0.1 audit/isolated): pagerank 1.44 s, kmeans 2.28 s,
    # bm25 1.27 s, knn 5.37 s (pre-occupancy-blocking), gopher 0.91 s.
    "pagerank_2iter",
    "kmeans_2iter",
    "bm25_search",
    "knn_self_join",
    "quality_gopher_rules",
    # r5 additions: the round's new/reworked heavyweights — adaptive-K
    # SemDeDup (r4 audit of the fixed-K form: 5.9 s sf0.1), the BPE
    # training loop, and the video decode leg.
    "dedup_semdedup",
    "bpe_merge_learn",
    "media_video_meta",
    # the late-r5 DSIR selection scorer: full gram-stream pass, the
    # heaviest of the round's text additions
    "dsir_importance",
    # the late-r5 substring-dedup profile: corpus-wide K-gram duplicate
    # test + span merge
    "dedup_substring_spans",
]


def _sf_of(sf_dir: str) -> float:
    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> int:
    """Force full computation of every column (noop sink, no driver collect)."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def run_bench(cores: int, sf_dir: str, names: list[str]) -> dict:
    from ocr_suite_spark import datagen
    from ocr_suite_spark.queries import REGISTRY
    from ocr_suite_spark.session import get_spark

    spark = get_spark(
        cores=cores,
        app="ocs-bench",
        shuffle_partitions=cores,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    # warmup: JVM + python workers + parquet footer reads
    spark.range(1000).selectExpr("sum(id)").collect()
    docs = datagen.interleaved_from_documents(spark, sf_dir)
    n_docs = docs.count()

    per_query: dict[str, float] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        # warm run (python worker pool, codegen, shuffle files), then the
        # timed steady-state run — executors are long-lived on a real cluster
        _materialize(fn(spark, sf_dir))
        t0 = time.time()
        _materialize(fn(spark, sf_dir))
        per_query[name] = round(time.time() - t0, 3)

    flagship = per_query.get("extract_merged")
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": _sf_of(sf_dir),
        "cores": cores,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / flagship, 2) if flagship else None,
    }
    spark.stop()
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="sf headline query sweep; prints one JSON line")
    which = ap.add_mutually_exclusive_group()
    which.add_argument("--only", metavar="NAME", help="run this one registered query")
    # every registered query (the headline set stays fixed for
    # round-over-round comparability; --all is the full audit)
    which.add_argument("--all", action="store_true", help="run every registered query")
    args = ap.parse_args()
    names = HEADLINE
    if args.only:
        names = [args.only]
    elif args.all:
        from ocr_suite_spark.queries import REGISTRY

        names = list(REGISTRY)
    print(json.dumps(run_bench(CPUS, SF_DIR, names)))
