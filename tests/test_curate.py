"""The end-to-end curation funnel: stage monotonicity, determinism, and
written outputs (SURVEY training-data layer as one composed job)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from ocr_suite_spark import curate as C
from ocr_suite_spark import tableio


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="ocs-curate-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_curate_funnel(spark, sf_dir, out_dir):
    survivors, packed, stages = C.curate(spark, sf_dir, out_dir=out_dir)

    # the funnel only ever shrinks, and every stage actually fires on this
    # corpus (thresholds are tuned to be non-trivial at test SF)
    order = [
        "input", "after_dedup", "after_holdout", "after_decontaminate",
        "after_quality", "after_gopher", "after_mixture",
    ]
    counts = [stages[k] for k in order]
    assert counts == sorted(counts, reverse=True)
    assert counts[-1] > 0
    for a, b in zip(counts, counts[1:]):
        assert b < a, f"stage did not filter anything: {stages}"

    # the held-out eval slice must never appear in the training output
    from pyspark.sql import functions as F

    from ocr_suite_spark.queries.curation import EVAL_THRESHOLD
    from ocr_suite_spark.queries.sampling import _hash_key

    leaked = survivors.where(_hash_key(F.col("doc_id")) < EVAL_THRESHOLD).count()
    assert leaked == 0

    # packing covers exactly the survivors
    n_packed_docs = sum(r["n_docs"] for r in packed.collect())
    assert n_packed_docs == stages["after_mixture"]
    assert stages["packed_bins"] > 0

    # written tables round-trip
    got_s = tableio.read_table(spark, f"{out_dir}/survivors").count()
    got_p = tableio.read_table(spark, f"{out_dir}/packed").count()
    assert got_s == stages["after_mixture"]
    assert got_p == stages["packed_bins"]


def test_curate_deterministic(spark, sf_dir):
    _, _, a = C.curate(spark, sf_dir)
    _, _, b = C.curate(spark, sf_dir)
    assert a == b


def test_filter_jobs_carry_callers_job_group(spark, sf_dir):
    """survivor_stages materializes its filter relations from pool
    threads; every job it starts must still carry the caller's job group
    (so a cancelJobGroup reaches them and per-group accounting sees them)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))  # jobs with no group
    sc.setJobGroup("curate-group-test", "survivor_stages under a job group")
    try:
        C.survivor_stages(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("curate-group-test")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
