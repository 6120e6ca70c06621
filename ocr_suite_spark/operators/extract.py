"""The flagship extraction pipeline.

Reference lifecycle being re-expressed (/root/reference, SURVEY.md §3.1):
decode frames -> bounded queue -> OCR threads -> per-frame store, i.e.

    documents --explode--> spans --route by kind-->
        text path  : boilerplate-strip normalizer (pure Column exprs)
        media path : repartition on media_ref -> mapInPandas OCR (Arrow
                     batches, per-task recognizer init = reference's
                     per-thread Tesseract instance, main.cpp:136-177)
    --union--> flat extracted spans --groupBy(doc_id) + sort by offset-->
    merged (kind, text, media_ref, order) sequences.

Scale notes:
- The only shuffles are the explicit media-path repartition on media_ref
  (even tasks; reference analog: LPT balancing, search.cpp:117-163) and the
  final groupBy(doc_id) merge. Catalyst cannot push filters through
  mapInPandas, so the kind=='media' filter is authored *upstream* of the UDF.
- No per-row Python UDFs; the recognizer runs per Arrow batch with numpy
  kernels, and text spans never leave the JVM.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import MIN_TOKEN_LEN
from ..kernels import render, textnorm
from ..kernels.ocr import Recognizer
from .memo import QUARANTINED, map_media

_FLAT_SCHEMA = "doc_id string, order int, kind string, text string, media_ref string"
# OCR-stage sizing: at most this many media spans per task (SCALE.md
# "Task sizing")
_TARGET_ROWS_PER_TASK = 1024
_WORDS_SCHEMA = (
    "doc_id string, order int, media_ref string, word string, "
    "left int, top int, right int, bottom int, confidence float"
)


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of length >= MIN_TOKEN_LEN — the one tokenizer
    expression (reference tesseract.cpp:113-115), shared by the text-path
    normalizer and every query (re-exported as queries.common.tokens_col).
    No trim: the length filter drops the empty edge tokens a split
    produces, and the engines' trims disagree on unicode whitespace (DuckDB
    strips NBSP, Spark/Java strip ASCII space only) — see
    tests/test_textnorm_property.py. DuckDB twin: queries.common.DUCK_TOKENS.
    NULL text yields NULL."""
    return F.filter(F.split(text, r"\s+"), lambda x: F.length(x) >= MIN_TOKEN_LEN)


def normalize_text_col(c: Column) -> Column:
    """Column-expression twin of kernels.textnorm.normalize_text:
    tokens_col re-joined with single spaces; NULL text becomes "" like the
    python twin. Mirrors reference util.h:13-26 + tesseract.cpp:113-115.
    """
    return F.coalesce(F.array_join(tokens_col(c), " "), F.lit(""))


def explode_spans(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id",
        F.explode("spans").alias("s"),
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def explode_media_meta(documents: DataFrame) -> DataFrame:
    """Media-span metadata WITHOUT the text field.

    Catalyst's nested-schema pruning does not reach through
    explode(spans)+field-select (the scan reads the whole struct,
    measured), but field extraction on the array DOES prune — so the
    media branch explodes an arrays_zip of exactly the three arrays it
    needs. At 100 TB this is the difference between the media branch
    re-reading the entire text corpus and reading ~10% of it
    (ReadSchema: spans:array<struct<kind,media_ref,offset>>).
    """
    return (
        documents.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.col("spans.kind").alias("kind"),
                    F.col("spans.media_ref").alias("media_ref"),
                    F.col("spans.offset").alias("offset"),
                )
            ).alias("s"),
        )
        .where(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.offset").alias("offset"), F.col("s.media_ref").alias("media_ref"))
    )


def _decode_ref(row):
    """Media row -> grayscale image: resolve + decode (booked as decode_s)."""
    return render.decode_image(render.resolve_media(row.media_ref))


def _recognizer(to_value):
    """Per-task init: the recognizer (template bank) is built once per
    task, then every fresh image maps to to_value(words)."""

    def init():
        eng = Recognizer()
        return lambda img: to_value(eng.recognize(img))

    return init


def _span_text(words) -> str:
    return textnorm.ocr_words_to_text([w.text for w in words])


def _word_tuples(words) -> list[tuple]:
    return [
        (w.text, w.left, w.top, w.right, w.bottom, w.confidence)
        for w in words
        # provider min-length filter, tesseract.cpp:113-115
        if len(w.text.strip()) >= MIN_TOKEN_LEN
    ]


def _emit_text(row, text) -> list[tuple]:
    """One span per media row; a quarantined payload keeps its span with
    text = NULL (distinguishable from '' = clean image with no >=3-char
    words)."""
    if text is QUARANTINED:
        text = None
    return [(row.doc_id, row.offset, "media", text, row.media_ref)]


def _emit_words(row, words) -> list[tuple]:
    """One row per recognized word (reference text_entry,
    ocr_result.h:14-18); a quarantined payload yields no rows."""
    if words is QUARANTINED:
        return []
    return [(row.doc_id, row.offset, row.media_ref, *w) for w in words]


def _salted(media: DataFrame) -> DataFrame:
    """Place media spans for the OCR stage: hash-partition on ``media_ref``
    into one even wave (or a few) of tasks.

    - **Key.** Hashing the raw ref spreads distinct images evenly: on the
      four 1,200-doc ``extract_unique`` slices of seed 802 (4 cores) the
      4 tasks held 757-849 rows, at most 1.05x the mean. It also puts every
      copy of an image in one task, so the per-task ``RefMemo`` computes
      each distinct image once per call. The former salt hashed
      ``(doc_id, offset)`` into 4n integers that ``repartition`` re-hashed
      into n partitions: a lumpy split (6 tasks of 124-850 rows on the same
      slices, the largest 1.45-1.56x the mean) that also scattered repeated
      images over tasks.
    - **Skew.** A hot document still spreads, because its spans carry
      distinct refs. A hot ref costs one compute plus ~2.5 us per repeat to
      emit (SCALE.md "Skew").
    - **Count.** Sized from the DATA in whole waves of the cluster's cores:
      ``waves = ceil(rows / (cores * _TARGET_ROWS_PER_TASK))`` from an exact
      ``media.count()`` (a JVM-only job; Catalyst's sizeInBytes ignores
      filter selectivity). A partial last wave would leave slots idle while
      the slowest task finishes. No output value depends on the count.
      AQE coalescing is NOT used on purpose: it targets partition bytes, and
      these rows are bytes-tiny but compute-heavy.
    """
    cores = media.sparkSession.sparkContext.defaultParallelism
    waves = max(1, math.ceil(media.count() / (cores * _TARGET_ROWS_PER_TASK)))
    return media.repartition(waves * cores, "media_ref")


def extract_flat(
    documents: DataFrame,
    meter=None,
    on_error: str = "fail",
) -> DataFrame:
    """documents -> flat extracted spans (doc_id, order, kind, text, media_ref).

    on_error='quarantine' lets corrupt media payloads survive as NULL-text
    spans (counted on meter.n_errors) instead of failing the job — see
    memo.map_media."""
    ex = explode_spans(documents)
    text_out = ex.where(F.col("kind") == "text").select(
        "doc_id",
        F.col("offset").alias("order"),
        F.lit("text").alias("kind"),
        normalize_text_col(F.col("text")).alias("text"),
        F.col("media_ref"),
    )
    media_in = explode_media_meta(documents)  # pruned scan: no text field
    media_out = map_media(
        _salted(media_in), _FLAT_SCHEMA, _decode_ref,
        _recognizer(_span_text), _emit_text, meter=meter, on_error=on_error,
    )
    return text_out.unionByName(media_out)


def merge_spans(flat: DataFrame) -> DataFrame:
    """Re-merge extracted spans into per-document ordered sequences —
    the graft's span-sequence invariant (kind, text, media_ref, order).

    Reference analog: OCR results keyed by frame_number flow back into the
    per-video store preserving sequence (ocr.cpp:73-76 -> database.cpp:85-98).
    """
    by_offset = F.struct(
        F.col("order"), F.col("kind"), F.col("text"), F.col("media_ref")
    )
    return flat.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(by_offset)),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].alias("order"),
            ),
        ).alias("spans")
    )


def extract(
    documents: DataFrame,
    meter=None,
    on_error: str = "fail",
) -> DataFrame:
    """Full pipeline: documents -> merged (kind, text, media_ref, order) sequences."""
    return merge_spans(extract_flat(documents, meter=meter, on_error=on_error))


def extract_words(
    documents: DataFrame,
    meter=None,
    on_error: str = "fail",
) -> DataFrame:
    """Word-level OCR output with bboxes (reference ocr_result entries);
    under on_error='quarantine' a corrupt payload drops that span's words."""
    media_in = explode_media_meta(documents)  # pruned scan: no text field
    return map_media(
        _salted(media_in), _WORDS_SCHEMA, _decode_ref,
        _recognizer(_word_tuples), _emit_words, meter=meter, on_error=on_error,
    )
