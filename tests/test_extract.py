"""End-to-end pipeline tests: Spark extraction vs the pandas oracle.

The BASELINE.json per-row invariant: span-sequence equality
(kind, text, media_ref, order) per document.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ocr_suite_spark import datagen
from ocr_suite_spark.kernels.ocr import Recognizer
from ocr_suite_spark.operators import extract as X
from ocr_suite_spark.oracle import extract_pandas


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = datagen.interleaved_from_documents(spark, sf_dir).cache()
    d.count()
    return d


def _spark_sequences(merged_df) -> dict[str, list[tuple]]:
    rows = merged_df.collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def test_datagen_shape(docs):
    assert docs.columns == ["doc_id", "spans"]
    names = [f.name for f in docs.schema["spans"].dataType.elementType.fields]
    assert names == ["kind", "text", "media_ref", "offset"]
    n = docs.count()
    assert n == 500  # sf0.001 documents rows
    kinds = (
        docs.select(F.explode("spans").alias("s"))
        .groupBy("s.kind")
        .count()
        .collect()
    )
    by_kind = {r["kind"]: r["count"] for r in kinds}
    assert by_kind.get("text", 0) > 0 and by_kind.get("media", 0) > 0


def test_datagen_deterministic(spark, sf_dir, docs):
    again = datagen.interleaved_from_documents(spark, sf_dir)
    a = {r["doc_id"]: r["spans"] for r in docs.collect()}
    b = {r["doc_id"]: r["spans"] for r in again.collect()}
    assert a == b


def test_flagship_matches_pandas_oracle(spark, docs):
    # Spark pipeline (8 threads, partitioned on media_ref, Arrow-batched)
    got = _spark_sequences(X.extract(docs))
    # pure-pandas oracle on the same input
    want = extract_pandas(docs.toPandas())
    assert set(got) == set(want)
    mismatches = {d: (got[d], want[d]) for d in want if got[d] != want[d]}
    assert not mismatches, list(mismatches.items())[:3]


def test_media_spans_recognized_nonempty(docs):
    flat = X.extract_flat(docs)
    media = flat.where(F.col("kind") == "media")
    n_media = media.count()
    n_empty = media.where(F.length("text") == 0).count()
    assert n_media > 0
    assert n_empty == 0  # every synthetic image recognizes to its payload


def test_normalizer_column_matches_python(spark, sf_dir):
    from ocr_suite_spark.kernels.textnorm import normalize_text

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    got = raw.select("text", X.normalize_text_col(F.col("text")).alias("norm")).collect()
    for r in got:
        assert r["norm"] == normalize_text(r["text"])
    # edge cases through a literal DataFrame
    edge = spark.createDataFrame(
        [("",), ("  ",), (" ab  x ",), ("abc  de fgh  ",), (None,)], "text string"
    )
    for r in edge.select("text", X.normalize_text_col(F.col("text")).alias("n")).collect():
        assert r["n"] == normalize_text(r["text"])


def test_extract_words_have_boxes(docs):
    words = X.extract_words(docs.limit(20))
    rows = words.collect()
    assert rows
    for r in rows[:50]:
        assert len(r["word"]) >= 3
        assert r["left"] < r["right"] and r["top"] < r["bottom"]
        assert 0.0 <= r["confidence"] <= 100.0


def test_count_stable_across_parallelism(docs):
    """Reference value_queue invariant (test/src/value_queue.cpp): produced ==
    consumed regardless of scheduling — here: results identical across
    repartitionings."""
    a = X.extract_flat(docs).count()
    b = X.extract_flat(docs.repartition(17)).count()
    assert a == b


def test_content_identical_across_parallelism(docs):
    """Stronger than the count check: full span-sequence CONTENT equality
    across physical partitionings — the cluster-size-independence the
    north rule's N-vs-4N criterion presumes (same input, any layout, same
    rows)."""
    a = _spark_sequences(X.extract(docs.limit(80)))
    b = _spark_sequences(X.extract(docs.limit(80).repartition(13)))
    assert a == b


def test_synthesize_slices_disjoint(spark):
    """Scaling-bench contract: corpora at different id offsets share the
    content distribution but no media_ref (each timed run sees fresh
    images, as a production run over new data would)."""
    a = datagen.synthesize(spark, 200, partitions=4, start=0)
    b = datagen.synthesize(spark, 200, partitions=4, start=200)
    refs = lambda df: {
        r["r"]
        for r in df.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("r"))
        .collect()
    }
    ra, rb = refs(a), refs(b)
    assert ra and rb and not (ra & rb)


def test_like_search_guard(spark, docs):
    """P4: the viewer rejects sub-3-char queries before any work is
    scheduled (reference search.cpp:169-172)."""
    from ocr_suite_spark.queries.extraction import like_search

    flat = X.extract_flat(docs.limit(10))
    for bad in ("a%", "ab%", "", "ab"):
        with pytest.raises(ValueError, match="shorter than"):
            like_search(flat, bad)
    # 3 effective chars is allowed; lazily returns a plan, no action yet
    assert like_search(flat, "abc%") is not None


def test_periodic_reporter_emits_during_job(spark, docs):
    """T7: the 5s cadence reporter ticks while the job runs (interval shrunk
    for the test) and its interval rates/totals are sane."""
    from ocr_suite_spark.metrics import PeriodicReporter, SpeedMeter

    meter = SpeedMeter(spark)
    lines: list[str] = []
    with PeriodicReporter(meter, interval_s=0.2, sink=lines.append) as rep:
        X.extract_flat(docs.limit(60), meter=meter).write.mode("overwrite").format(
            "noop"
        ).save()
    assert rep.reports, "no reports emitted"
    assert lines and all(line.startswith("[speed]") for line in lines)
    final = rep.reports[-1]
    assert final["n_images_total"] > 0
    assert all(r["images_per_sec"] >= 0 for r in rep.reports)
    # totals are monotone across ticks
    totals = [r["n_images_total"] for r in rep.reports]
    assert totals == sorted(totals)


def test_quarantine_mode_survives_corrupt_media(spark):
    """A poison payload must cost one row, not the job: on_error='quarantine'
    yields a NULL-text span + an n_errors count; the default still fails."""
    from ocr_suite_spark.kernels.render import make_media_ref
    from ocr_suite_spark.metrics import SpeedMeter
    from ocr_suite_spark.schema import DOCUMENTS

    docs = spark.createDataFrame(
        [
            ("ok1", [{"kind": "media", "text": None, "media_ref": make_media_ref(["alpha"], 0, 1), "offset": 1}]),
            ("bad", [{"kind": "media", "text": None, "media_ref": "img://v1/NOT_A_VALID_REF", "offset": 1}]),
        ],
        DOCUMENTS,
    )
    meter = SpeedMeter(spark)
    rows = {
        r["doc_id"]: r["text"]
        for r in X.extract_flat(docs, on_error="quarantine", meter=meter).collect()
    }
    assert rows["ok1"] == "alpha"
    assert rows["bad"] is None  # quarantined, row survives
    assert meter.n_errors.value == 1
    # default mode: the corrupt payload fails the job (after task retries)
    with pytest.raises(Exception, match="unrecognized media_ref"):
        X.extract_flat(docs).collect()


def test_quarantine_mode_words(spark):
    """extract_words twin of the quarantine test: a corrupt payload drops
    that span's word rows (counted on n_errors once per distinct ref in
    the call, not per occurrence) while healthy spans keep theirs;
    default still fails."""
    from ocr_suite_spark.kernels.render import make_media_ref
    from ocr_suite_spark.metrics import SpeedMeter
    from ocr_suite_spark.schema import DOCUMENTS

    bad_ref = "img://v1/NOT_A_VALID_REF"
    bad = lambda offset: {"kind": "media", "text": None, "media_ref": bad_ref, "offset": offset}
    docs = spark.createDataFrame(
        [
            ("ok1", [{"kind": "media", "text": None, "media_ref": make_media_ref(["alpha"], 0, 1), "offset": 1}]),
            # the same corrupt ref in two docs: the OCR stage partitions on
            # media_ref, so both copies share a task and the memoized
            # sentinel makes the second one free (no second decode/count)
            ("bad", [bad(1)]),
            ("bad2", [bad(4)]),
        ],
        DOCUMENTS,
    )
    meter = SpeedMeter(spark)
    rows = X.extract_words(docs, on_error="quarantine", meter=meter).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["word"])
    assert by_doc == {"ok1": ["alpha"]}  # quarantined spans yield no word rows
    assert meter.n_errors.value == 1
    with pytest.raises(Exception, match="unrecognized media_ref"):
        X.extract_words(docs).collect()


def test_repeated_images_computed_once_per_call(spark):
    """Every copy of an image lands in one OCR task, so one extract() call
    recognizes each distinct ref once, however many docs repeat it."""
    from ocr_suite_spark.kernels.render import make_media_ref
    from ocr_suite_spark.metrics import SpeedMeter
    from ocr_suite_spark.schema import DOCUMENTS

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]
    refs = [make_media_ref([w], 0, 1) for w in words]
    span = lambda ref, offset: {"kind": "media", "text": None, "media_ref": ref, "offset": offset}
    # 24 docs; each ref recurs in 8 different docs at varying offsets
    docs = spark.createDataFrame(
        [
            (f"d{i}", [span(refs[i % len(refs)], 0), span(refs[(i + 1) % len(refs)], 2 + i % 5)])
            for i in range(24)
        ],
        DOCUMENTS,
    )
    meter = SpeedMeter(spark)
    got = _spark_sequences(X.extract(docs, meter=meter))
    assert meter.n_images.value == len(refs)
    text = {ref: X._span_text(Recognizer().recognize(X._decode_ref(Row(media_ref=ref)))) for ref in refs}
    assert sorted(text.values()) == sorted(words)
    for i in range(24):
        a, b = refs[i % len(refs)], refs[(i + 1) % len(refs)]
        assert got[f"d{i}"] == [("media", text[a], a, 0), ("media", text[b], b, 2 + i % 5)]


def test_salt_partitions_follow_real_media_count(spark, tmp_path):
    """The OCR stage is sized from the slice's real media-span count, in
    whole waves of the session's cores. A filtered slice of a bigger
    materialized corpus is the case Catalyst's sizeInBytes estimate gets
    wrong: it ignores the filter, so it sees the whole corpus where the
    slice holds under one wave. On the whole corpus the media_ref hash
    fills the tasks evenly."""
    corpus = datagen.materialized_corpus(spark, "", cache_root=str(tmp_path), n_synth=4000)
    media = X.explode_media_meta(corpus.where(F.col("doc_id").isin([f"doc-{i}" for i in range(100)])))
    rows = media.count()
    cores = spark.sparkContext.defaultParallelism
    T = X._TARGET_ROWS_PER_TASK
    assert rows > 0
    assert X._salted(media).rdd.getNumPartitions() == cores * math.ceil(rows / (cores * T))

    per_task = [
        r["count"]
        for r in X._salted(X.explode_media_meta(corpus))
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    ]
    assert max(per_task) <= 1.25 * sum(per_task) / len(per_task), sorted(per_task)


def test_extract_edge_inputs(spark):
    """Empty input, text-only docs, media-only docs — the routed union must
    handle an empty branch on either side (and the count-sized OCR
    partitioning must not choke on zero rows)."""
    from ocr_suite_spark.schema import DOCUMENTS

    empty = spark.createDataFrame([], DOCUMENTS)
    assert X.extract(empty).count() == 0

    text_only = spark.createDataFrame(
        [("t1", [{"kind": "text", "text": "  alpha bq gamma  ", "media_ref": None, "offset": 0}])],
        DOCUMENTS,
    )
    rows = {r["doc_id"]: r["spans"] for r in X.extract(text_only).collect()}
    assert [s["text"] for s in rows["t1"]] == ["alpha gamma"]  # min-len strip

    # a NULL-text span normalizes to "" like the python twin and the oracle
    null_text = spark.createDataFrame(
        [("n1", [{"kind": "text", "text": None, "media_ref": None, "offset": 0}])],
        DOCUMENTS,
    )
    rows = {r["doc_id"]: r["spans"] for r in X.extract(null_text).collect()}
    assert [(s["kind"], s["text"]) for s in rows["n1"]] == [("text", "")]
    assert extract_pandas(null_text.toPandas())["n1"] == [("text", "", None, 0)]

    from ocr_suite_spark.kernels.render import make_media_ref

    media_only = spark.createDataFrame(
        [("m1", [{"kind": "media", "text": None, "media_ref": make_media_ref(["alpha"], 2, 5), "offset": 3}])],
        DOCUMENTS,
    )
    rows = {r["doc_id"]: r["spans"] for r in X.extract(media_only).collect()}
    assert [(s["kind"], s["text"], s["order"]) for s in rows["m1"]] == [("media", "alpha", 3)]
