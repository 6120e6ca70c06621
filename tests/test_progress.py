"""Resume semantics: a killed run resumes without recomputing finished
buckets and without duplicating output (SURVEY.md §5 item 3)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ocr_suite_spark import datagen
from ocr_suite_spark.progress import ProgressStore, extract_resumable


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="ocs-progress-")
    yield f"{d}/out", f"{d}/ckpt"
    shutil.rmtree(d, ignore_errors=True)


def _sequences(df):
    rows = df.collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def test_full_run_then_noop_resume(spark, sf_dir, tmpdirs, monkeypatch):
    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(120).cache()
    res1 = extract_resumable(spark, docs, out_dir, ckpt_dir, n_buckets=8)
    seq1 = _sequences(res1)
    assert len(seq1) == 120

    store = ProgressStore(spark, ckpt_dir)
    n_done = len(store.done_ids("run-1"))
    assert n_done == 8

    # second run: everything done -> no extraction at all, no new progress
    # rows, identical output
    def no_extract(*args, **kwargs):
        raise AssertionError("a fully-done resume must not call extract()")

    monkeypatch.setattr("ocr_suite_spark.operators.extract.extract", no_extract)
    res2 = extract_resumable(spark, docs, out_dir, ckpt_dir, n_buckets=8)
    assert _sequences(res2) == seq1
    assert store.read().where(F.col("status") == "done").count() == n_done


def test_resume_after_simulated_kill(spark, sf_dir, tmpdirs):
    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(120).cache()
    full = extract_resumable(spark, docs, out_dir, f"{ckpt_dir}-ref", n_buckets=8)
    want = _sequences(full)

    # simulate a mid-run kill: run fully, then surgically mark half the
    # buckets as never-completed (drop their progress rows AND their output)
    extract_resumable(spark, docs, out_dir + "-b", ckpt_dir, n_buckets=8)
    store = ProgressStore(spark, ckpt_dir)
    kept = store.read().where(F.col("bucket") < 4)
    tmp = ckpt_dir + "/progress-tmp"
    kept.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(store.path)
    for b in range(4, 8):
        shutil.rmtree(f"{out_dir}-b/bucket={b}", ignore_errors=True)

    assert len(store.done_ids("run-1")) == 4

    res = extract_resumable(spark, docs, out_dir + "-b", ckpt_dir, n_buckets=8)
    assert _sequences(res) == want
    # finished buckets were NOT recomputed: still exactly one progress row each
    per_bucket = (
        store.read()
        .where(F.col("status") == "done")
        .groupBy("bucket")
        .count()
        .collect()
    )
    counts = {r["bucket"]: r["count"] for r in per_bucket}
    assert all(v == 1 for v in counts.values()), counts
    assert set(counts) == set(range(8))


def test_group_checkpoint_survives_real_midrun_kill(spark, sf_dir, tmpdirs):
    """With bucket_groups > 1 the checkpoint cadence is real: a job that
    DIES mid-run (poison payload in a late group, on_error='fail') leaves
    the earlier groups' progress committed, and the resume completes only
    the remainder — earlier buckets keep exactly one progress row."""
    from ocr_suite_spark.schema import DOCUMENTS

    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(60).cache()

    # a poison doc whose bucket (of 8) falls in group 3 (of 4): groups
    # 0-2 commit before the failure
    cand = spark.createDataFrame([(f"poison-{i}",) for i in range(64)], "doc_id string")
    pick = (
        cand.where(F.pmod(F.pmod(F.xxhash64("doc_id"), F.lit(8)), F.lit(4)) == 3)
        .limit(1)
        .collect()[0][0]
    )
    poison = spark.createDataFrame(
        [(pick, [{"kind": "media", "text": None, "media_ref": "img://v1/BROKEN", "offset": 1}])],
        DOCUMENTS,
    )
    docs_bad = docs.unionByName(poison)

    with pytest.raises(Exception, match="unrecognized media_ref"):
        extract_resumable(
            spark, docs_bad, out_dir, ckpt_dir, n_buckets=8, bucket_groups=4,
            on_error="fail",
        )
    store = ProgressStore(spark, ckpt_dir)
    done_before = store.done_ids("run-1")
    assert done_before, "no group committed before the kill"
    assert all(b % 4 != 3 for b in done_before)  # the failed group never committed

    # resume in quarantine mode: completes the remaining group only
    res = extract_resumable(
        spark, docs_bad, out_dir, ckpt_dir, n_buckets=8, bucket_groups=4,
        on_error="quarantine",
    )
    assert res.count() == 61
    per_bucket = {
        r["bucket"]: r["count"]
        for r in store.read().where(F.col("status") == "done").groupBy("bucket").count().collect()
    }
    assert all(v == 1 for v in per_bucket.values()), per_bucket  # no recompute
    # the poison row survived as a quarantined NULL-text span
    bad = {r["doc_id"]: r["spans"] for r in res.collect()}[pick]
    assert [(s["kind"], s["text"]) for s in bad] == [("media", None)]


def test_graceful_stop_between_groups(spark, sf_dir, tmpdirs):
    """T5: a stop request finishes the in-flight group, commits it, and
    returns; the next run resumes from exactly there."""
    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(60).cache()

    calls = {"n": 0}

    def stop_after_two_groups() -> bool:
        calls["n"] += 1
        return calls["n"] > 2  # allow groups 0 and 1, stop before group 2

    extract_resumable(
        spark, docs, out_dir, ckpt_dir, n_buckets=8, bucket_groups=4,
        stop_requested=stop_after_two_groups,
    )
    store = ProgressStore(spark, ckpt_dir)
    done = store.done_ids("run-1")
    assert done and all(b % 4 in (0, 1) for b in done)  # only groups 0-1 ran

    res = extract_resumable(
        spark, docs, out_dir, ckpt_dir, n_buckets=8, bucket_groups=4
    )
    assert res.count() == 60
    per_bucket = (
        store.read().where(F.col("status") == "done").groupBy("bucket").count().collect()
    )
    assert all(r["count"] == 1 for r in per_bucket)  # completed groups not redone


def test_graceful_stop_before_first_group(spark, sf_dir, tmpdirs):
    """A stop request that fires before group 0 ever writes must return a
    clean empty DataFrame with the output schema — not PATH_NOT_FOUND on a
    never-created out_dir (ADVICE r2)."""
    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(20)
    res = extract_resumable(
        spark, docs, out_dir, ckpt_dir, n_buckets=8, bucket_groups=4,
        stop_requested=lambda: True,
    )
    assert res.count() == 0
    assert {f.name for f in res.schema.fields} >= {"doc_id", "spans"}
    # and nothing was marked done — a later run starts from scratch
    assert len(ProgressStore(spark, ckpt_dir).done_ids("run-1")) == 0


def test_lineage_fingerprint_recorded(spark, sf_dir, tmpdirs):
    from ocr_suite_spark import tableio

    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(50)
    extract_resumable(spark, docs, out_dir, ckpt_dir, n_buckets=4)
    rows = ProgressStore(spark, ckpt_dir).read().collect()
    assert all(r["lineage"] is not None for r in rows)
    assert all(r["n_docs"] > 0 and r["docs_per_sec"] > 0 for r in rows)
    assert all(r["max_offset"] is not None for r in rows)
    # per-stage split (speed_meter analog) recorded from worker accumulators
    assert sum(r["ocr_s"] for r in rows) > 0
    assert sum(r["decode_s"] for r in rows) > 0

    # the rows are aggregated from the input; on documents that all have
    # spans they equal the same aggregates over the written output
    out = tableio.read_table(spark, out_dir).groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("spans")).alias("n_spans"),
        F.sum(F.size(F.filter("spans", lambda s: s["kind"] == "media"))).alias("n_media"),
        F.max(F.element_at("spans", -1)["order"]).alias("max_offset"),
        F.bit_xor(F.xxhash64("doc_id")).alias("lineage"),
    )
    stats = ("n_docs", "n_spans", "n_media", "max_offset", "lineage")
    want = {r["bucket"]: tuple(r[c] for c in stats) for r in out.collect()}
    assert {r["bucket"]: tuple(r[c] for c in stats) for r in rows} == want


def test_zero_span_group_completes(spark, sf_dir, tmpdirs, monkeypatch):
    """A group whose documents all have ``spans=[]`` writes no output rows,
    and the first such write leaves ``out_dir`` with no data file. Its
    buckets are still marked done, so a second run extracts nothing."""
    from ocr_suite_spark.operators import extract as X
    from ocr_suite_spark.progress import bucket_col

    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(40)
    # group 0 of 2 holds the even buckets (of 4): empty their documents
    even = bucket_col(4) % 2 == 0
    no_spans = F.array().cast(docs.schema["spans"].dataType)
    docs = docs.withColumn("spans", F.when(even, no_spans).otherwise(F.col("spans"))).cache()
    buckets = {r[0] for r in docs.select(bucket_col(4)).distinct().collect()}
    assert {b % 2 for b in buckets} == {0, 1}

    res = extract_resumable(spark, docs, out_dir, ckpt_dir, n_buckets=4, bucket_groups=2)
    assert res.count() == docs.where(~even).count()
    assert buckets <= ProgressStore(spark, ckpt_dir).done_ids("run-1")

    real, calls = X.extract, []

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(X, "extract", spy)
    extract_resumable(spark, docs, out_dir, ckpt_dir, n_buckets=4, bucket_groups=2)
    assert not calls


def test_resume_filters_pending_buckets_without_a_join(spark, sf_dir, tmpdirs, monkeypatch):
    """Each group's extraction input drops the done buckets with a
    driver-side bucket list, not a shuffled anti-join against the progress
    table: its executed plan holds no SortMergeJoin, on the first group
    (no progress table yet) and on later groups (table present)."""
    from ocr_suite_spark.operators import extract as X

    out_dir, ckpt_dir = tmpdirs
    docs = datagen.interleaved_from_documents(spark, sf_dir).limit(40)
    real, plans = X.extract, []

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(X, "extract", spy)
    res = extract_resumable(spark, docs, out_dir, ckpt_dir, n_buckets=4, bucket_groups=2)
    assert res.count() == 40
    assert len(plans) == 2
    assert not [p for p in plans if "SortMergeJoin" in p], plans[0]
