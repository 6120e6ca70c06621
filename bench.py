#!/usr/bin/env python3
"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "docs_per_sec": ..., "n_docs": ...}

$SPARK_GRAFT_CPUS defaults to the number of CPUs this process may run on.

--scaling: run the flagship extraction at two parallelism levels (N=8,
4N=32 threads — the sandbox stand-in for N vs 4N executors, same input,
same artifact) in fresh subprocesses and report throughput at both plus
scaling efficiency eff = (T_N / T_4N) / 4. Results land in BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
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
    scaling_file = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALING.json")
    if os.path.exists(scaling_file):  # last `--scaling` run (protocol in BENCH.md)
        with open(scaling_file) as f:
            scaling = json.load(f)
        # only attach as current if it was measured at this code state;
        # otherwise label it so a stale scaling run can't masquerade as part
        # of this bench (ADVICE r1). The key is a fingerprint of the code
        # the measurement depends on (engine tree + this file), so doc-only
        # commits don't invalidate a fresh run; uncommitted edits are not
        # captured — run --scaling from a clean tree.
        if scaling.get("code_fingerprint") == _code_fingerprint():
            out["scaling"] = scaling
        else:
            out["scaling_prior_run"] = scaling
    spark.stop()
    return out


def _git(args: list[str]) -> str | None:
    try:
        return subprocess.run(
            ["git", *args],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        return None


def _git_head() -> str | None:
    return _git(["rev-parse", "HEAD"])


def _code_fingerprint() -> str | None:
    """Hash of exactly what the scaling measurement executes (git object
    hashes — content-addressed, so commits to tests/docs/query modules
    that never run in the flagship job don't invalidate a fresh
    measurement): the extract operators, the kernels, corpus generation,
    session config and the meter."""
    out = _git([
        "rev-parse",
        "HEAD:ocr_suite_spark/operators",
        "HEAD:ocr_suite_spark/kernels",
        "HEAD:ocr_suite_spark/datagen.py",
        "HEAD:ocr_suite_spark/session.py",
        "HEAD:ocr_suite_spark/metrics.py",
    ])
    return out.replace("\n", "-") if out else None


def run_flagship_once(cores: int, n_docs: int) -> dict:
    """Steady-state extraction throughput over a materialized synthetic
    corpus of n_docs interleaved documents (fresh JVM).

    Each timed run processes a DISJOINT doc-id slice of a 3x corpus: at
    production scale every image is seen exactly once, and re-running the
    identical corpus would let per-worker memo caches serve repeats — an
    effect that is much stronger with few workers (each worker accumulates
    a larger share of the refs) and would therefore fake the small-N
    timing and corrupt the N-vs-4N ratio.
    """
    from pyspark.sql import functions as F

    from ocr_suite_spark import datagen
    from ocr_suite_spark.operators import extract as X
    from ocr_suite_spark.session import get_spark

    n_runs = 1 if n_docs >= 48000 else 2  # interleaved rounds handle noise
    spark = get_spark(
        cores=cores,
        app=f"ocs-scaling-{cores}",
        shuffle_partitions=cores,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    corpus = datagen.materialized_corpus(spark, "", n_synth=n_docs * (n_runs + 1))
    doc_num = F.split(F.col("doc_id"), "-")[1].cast("long")
    slices = [
        corpus.where((doc_num >= i * n_docs) & (doc_num < (i + 1) * n_docs))
        for i in range(n_runs + 1)
    ]
    n = slices[1].count()
    # FIXED salt partition count at every cluster size — a real job sizes
    # partitions by data volume, and a per-cores count would make the 4N
    # level pay 4x the (measured ~0.18 core-s) per-task setup of N
    salt_parts = max(int(n * 2 / 512), 48)  # ~2 media spans/doc, ~512/task
    _materialize(X.extract(slices[0], salt_partitions=salt_parts))  # warm
    walls = []
    for i in range(1, n_runs + 1):
        t0 = time.time()
        _materialize(X.extract(slices[i], salt_partitions=salt_parts))
        walls.append(time.time() - t0)
    wall = min(walls)
    spark.stop()
    return {
        "wall": round(wall, 3),
        "walls": [round(w, 3) for w in walls],
        "n_docs": n,
        "docs_per_sec": round(n / wall, 2),
    }


def _hw_control(nproc: int, n_imgs: int = 400) -> float:
    """Spark-free control: median per-image ms for `nproc` pinned python
    processes each doing identical render+recognize work.

    On a single shared box, active-core count alone changes per-core
    throughput (turbo scaling, shared memory bandwidth/LLC) — an artifact a
    real 4x-executor cluster does not have, since 4N executors bring 4x of
    every resource. Measuring it on PURE numpy work (no Spark at all) gives
    the hardware ceiling that any N-vs-4N comparison on this box is subject
    to; the Spark-layer efficiency is raw_eff / hw_eff.
    """
    import multiprocessing as mp

    def worker(q, seed):
        from ocr_suite_spark.kernels import render
        from ocr_suite_spark.kernels.ocr import Recognizer

        eng = Recognizer()
        words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
        t0 = time.perf_counter()
        for i in range(n_imgs):
            nw = 2 + (seed + i) % 3
            skew = (-8, -4, 0, 2, 6)[(seed + i) % 5]
            ws = [words[(seed + i + j) % 7] for j in range(nw)]
            ref = render.make_media_ref(ws, skew, (seed * 1000 + i) % 100000)
            eng.recognize(render.decode_image(render.resolve_media(ref)))
        q.put((time.perf_counter() - t0) / n_imgs * 1e3)

    old_aff = os.sched_getaffinity(0)
    # derive the pin set from the ALLOWED cpuset, not 0..nproc-1: a container
    # with a restricted/offset cpuset would otherwise raise OSError (ADVICE r1)
    pin = set(sorted(old_aff)[:nproc])
    os.sched_setaffinity(0, pin)
    try:
        q = mp.Queue()
        ps = [mp.Process(target=worker, args=(q, k * 7919)) for k in range(nproc)]
        for p in ps:
            p.start()
        per = []
        for _ in ps:
            try:
                per.append(q.get(timeout=300))
            except Exception:
                alive = sum(p.is_alive() for p in ps)
                raise RuntimeError(
                    f"hw-control worker produced no result ({alive} still alive)"
                ) from None
        per.sort()
        for p in ps:
            p.join()
        return per[len(per) // 2]
    finally:
        os.sched_setaffinity(0, old_aff)


def run_scaling(n_docs: int = 20000, n: int = 6, n4: int = 24) -> dict:
    """Same job (extract), same materialized input, two parallelism levels,
    fresh JVM each — the sandbox stand-in for N vs 4N executors.

    Protocol notes (all measured, see BENCH.md):
    - Each level is PINNED to exactly `cores` CPUs with taskset. local[N]
      caps task *slots*, not CPUs: the JVM side of a task (scan, shuffle
      write, Arrow transfer) runs concurrently with its python worker, so
      an unpinned local[6] on a 32-core box quietly burns ~2x its nominal
      cores while local[24] saturates the box — inflating small-N
      throughput and corrupting the ratio. Pinning gives each level the
      fixed CPU budget a real N-core executor set has.
    - Levels are INTERLEAVED over `rounds` fresh-JVM rounds and the best
      wall per level wins: this VM's per-core throughput drifts over
      minutes (event-log: identical OCR stages grew 452 -> 536 core-s
      within one process), so running all of one level before the other
      would bias whichever ran later.
    """
    rounds = 2
    walls: dict[int, list] = {n: [], n4: []}
    results = {}
    # hardware control BEFORE the heavy runs as well as after: the box's
    # thermal state drifts under sustained load, and a control taken only
    # after the hot 4N rounds under-reads the ceiling
    ctl = {n: [_hw_control(n)], n4: [_hw_control(n4)]}
    for _ in range(rounds):
        for cores in (n, n4):
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
            out = subprocess.run(
                ["taskset", "-c", f"0-{cores - 1}", sys.executable, __file__,
                 "--flagship-once", str(n_docs)],
                env=env,
                capture_output=True,
                text=True,
                check=True,
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            walls[cores].append(r["wall"])
            results[cores] = r
    for cores in (n, n4):
        results[cores]["wall"] = min(walls[cores])
        results[cores]["walls_all_rounds"] = walls[cores]
        results[cores]["docs_per_sec"] = round(results[cores]["n_docs"] / min(walls[cores]), 2)
    t_n, t_4n = results[n]["wall"], results[n4]["wall"]
    raw_eff = round((t_n / t_4n) / (n4 / n), 3)
    # second control sample after the runs; best-of across both states
    ctl[n].append(_hw_control(n))
    ctl[n4].append(_hw_control(n4))
    ms_n, ms_4n = min(ctl[n]), min(ctl[n4])
    # per-core slowdown from active-core count alone, clamped at 1.0: a
    # measured ceiling above 1.0 is noise (more active cores cannot speed up
    # each core) and would asymmetrically deflate spark_layer_eff (ADVICE r1)
    hw_eff = round(min(ms_n / ms_4n, 1.0), 3)
    return {
        "metric": "scaling_efficiency_n_to_4n",
        "value": raw_eff,
        "unit": "ratio",
        "n_docs": n_docs,
        "t_n_sec": t_n,
        "t_4n_sec": t_4n,
        "cores_n": n,
        "cores_4n": n4,
        "docs_per_sec_n": results[n]["docs_per_sec"],
        "docs_per_sec_4n": results[n4]["docs_per_sec"],
        "walls_n": walls[n],
        "walls_4n": walls[n4],
        # single-box hardware ceiling measured on Spark-free numpy work:
        # per-image ms at n vs 4n pinned processes; hw_ceiling_eff is the
        # best ANY job can score on this box going n -> 4n active cores
        "hw_control_ms_n": round(ms_n, 2),
        "hw_control_ms_4n": round(ms_4n, 2),
        "hw_ceiling_eff": hw_eff,
        "spark_layer_eff": round(min(raw_eff / hw_eff, 1.0), 3),
    }


if __name__ == "__main__":
    args = sys.argv[1:]
    if "--scaling" in args:
        n_docs = int(args[args.index("--scaling") + 1]) if args.index("--scaling") + 1 < len(args) and args[args.index("--scaling") + 1].isdigit() else 20000
        res = run_scaling(n_docs)
        res["git_commit"] = _git_head()
        res["code_fingerprint"] = _code_fingerprint()  # staleness key for run_bench attach
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALING.json"), "w") as f:
            json.dump(res, f)
        print(json.dumps(res))
    elif "--flagship-once" in args:
        n_docs = int(args[args.index("--flagship-once") + 1])
        print(json.dumps(run_flagship_once(CPUS, n_docs)))
    else:
        names = HEADLINE
        if "--only" in args:
            names = [args[args.index("--only") + 1]]
        elif "--all" in args:
            # every registered query (the headline set stays fixed for
            # round-over-round comparability; --all is the full audit)
            from ocr_suite_spark.queries import REGISTRY

            names = list(REGISTRY)
        print(json.dumps(run_bench(CPUS, SF_DIR, names)))
