"""Deterministic interleaved text+media corpus generation.

Two generators, both pure Column expressions (JVM-side, deterministic across
partitionings and cluster sizes — no RNG state, everything keyed on
xxhash64 of ids):

- ``interleaved_from_documents``: derives the BASELINE.json input_hint table
  (doc_id, spans:array<struct<kind,text,media_ref,offset>>) from the
  driver-provided /root/testdata documents.parquet — text chunked into
  spans, media spans interleaved at hashed positions.
- ``synthesize``: standalone corpus from spark.range, for tests at arbitrary
  sizes.

Skew is built in on purpose: a small fraction of documents are "media-heavy"
(a media span after every chunk, with more words per image). This mirrors
the large-video skew the reference balances with LPT assignment
(/root/reference src/viewer/search.cpp:117-163); the pipeline handles it
by hash-partitioning media spans on media_ref (spans of one document
carry distinct refs, so a heavy document spreads) + AQE instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.render import SKEW_SET

# Fixed vocabulary for media payloads: lowercase a-z, len >= MIN_TOKEN_LEN.
MEDIA_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "merge", "scan", "join", "batch", "spark", "query",
]

HOT_DOC_MOD = 20  # 1-in-20 docs are media-heavy
CHUNK_TOKENS = 8  # tokens per text span


def _media_ref_expr(doc_id: Column, i: Column, hot: Column) -> Column:
    """Deterministic media_ref: words, skew and noise all hashed off (doc_id, i)."""
    words_arr = F.array(*[F.lit(w) for w in MEDIA_WORDS])
    skew_arr = F.array(*[F.lit(s) for s in SKEW_SET])
    n_words = F.when(hot, F.lit(5)).otherwise(F.lit(2)) + F.pmod(
        F.xxhash64(doc_id, i, F.lit("nw")), F.lit(3)
    ).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.element_at(
            words_arr, (F.pmod(F.xxhash64(doc_id, i, j), F.lit(len(MEDIA_WORDS))) + 1).cast("int")
        ),
    )
    skew = F.element_at(
        skew_arr, (F.pmod(F.xxhash64(doc_id, i, F.lit("sk")), F.lit(len(SKEW_SET))) + 1).cast("int")
    )
    noise = F.pmod(F.xxhash64(doc_id, i, F.lit("nz")), F.lit(100000))
    return F.concat(
        F.lit("img://v1/"),
        F.array_join(words, "_"),
        F.lit("?skew="),
        skew.cast("string"),
        F.lit("&noise="),
        noise.cast("string"),
    )


def _spans_expr(doc_id: Column, text: Column) -> Column:
    """(doc_id, text) -> interleaved spans array, sorted by offset.

    Text spans sit at even offsets (2i), media spans at odd (2i+1) — offsets
    need not be dense, only monotone (they play the role of the reference's
    frame_number, /root/reference src/ffmpeg/decoder.cpp:298-299).
    """
    toks = F.filter(F.split(F.trim(text), r"\s+"), lambda t: F.length(t) >= 1)
    n_chunks = F.greatest(F.ceil(F.size(toks) / F.lit(CHUNK_TOKENS)).cast("int"), F.lit(1))
    hot = F.pmod(F.xxhash64(F.lit("hot"), doc_id), F.lit(HOT_DOC_MOD)) == 0
    text_spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.array_join(F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " ").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (i * 2).cast("int").alias("offset"),
        ),
    )
    media_spans = F.filter(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.when(
                hot | (F.pmod(F.xxhash64(doc_id, i, F.lit("has")), F.lit(3)) == 0),
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    _media_ref_expr(doc_id, i, hot).alias("media_ref"),
                    (i * 2 + 1).cast("int").alias("offset"),
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    both = F.concat(text_spans, media_spans)
    return F.array_sort(
        both,
        lambda l, r: F.when(l["offset"] < r["offset"], F.lit(-1))
        .when(l["offset"] > r["offset"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def interleaved_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the interleaved corpus from testdata documents.parquet.

    The tiny testdata parquet arrives as a single split; repartition BEFORE
    the span-construction expressions so the whole downstream plan (datagen,
    text normalizer, OCR routing) parallelizes. At real scale the source
    table arrives pre-split and this shuffle disappears.
    """
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if raw.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        raw = raw.repartition(spark.sparkContext.defaultParallelism)
    doc_id = F.col("doc_id").cast("string")
    return raw.select(
        doc_id.alias("doc_id"),
        _spans_expr(doc_id, F.col("text")).alias("spans"),
    )


def materialized_corpus(
    spark: SparkSession,
    sf_dir: str,
    cache_root: str = "/tmp/ocs_corpus",
    n_synth: int | None = None,
) -> DataFrame:
    """Materialize the interleaved corpus as a parquet table and read it back.

    The north-rule input is an Iceberg *table* of interleaved documents, not
    a recomputed expression — materializing once (a) matches that contract,
    (b) stops Spark from re-deriving the corpus in both union branches of the
    extract plan (common subplans are not shared), and (c) keeps corpus prep
    out of extraction throughput numbers. Idempotent per (sf_dir | n_synth).
    """
    import os

    from . import tableio

    key = f"synth{n_synth}" if n_synth else sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = f"{cache_root}/{key}"
    marker = f"{path}/_SUCCESS"
    if not os.path.exists(marker):
        df = (
            synthesize(spark, n_synth)
            if n_synth
            else interleaved_from_documents(spark, sf_dir)
        )
        # Fixed file count, independent of the WRITER session's parallelism:
        # a corpus written by a local[6] session would otherwise carry only
        # 6 small files and cap the scan/explode stages of every LATER
        # reader at parallelism 6 — a wider reader must not inherit the
        # writer's layout. (At real scale the table arrives pre-partitioned
        # by the ingest job.)
        tableio.write_table(df.repartition(64), path, mode="overwrite")
    return tableio.read_table(spark, path)


def synthesize(
    spark: SparkSession, n_docs: int, partitions: int | None = None, start: int = 0
) -> DataFrame:
    """Standalone deterministic corpus of n_docs documents.

    ``start`` offsets the doc-id range: slices with different starts share
    the content *distribution* but no individual media_ref, so repeated
    runs never re-see an image (at production scale every image is seen
    once; memo hits across repeated identical runs would otherwise inflate
    throughput).
    """
    base = spark.range(start, start + n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    doc_id = F.concat(F.lit("doc-"), F.col("id").cast("string"))
    words_arr = F.array(*[F.lit(w) for w in MEDIA_WORDS])
    n_toks = (16 + F.pmod(F.xxhash64(doc_id, F.lit("len")), F.lit(48))).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_toks),
            lambda k: F.element_at(
                words_arr,
                (F.pmod(F.xxhash64(doc_id, F.lit("tok"), k), F.lit(len(MEDIA_WORDS))) + 1).cast("int"),
            ),
        ),
        " ",
    )
    return base.select(
        doc_id.alias("doc_id"),
        _spans_expr(doc_id, text).alias("spans"),
    )
