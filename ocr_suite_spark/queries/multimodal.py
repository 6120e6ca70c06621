"""Multimodal-column operators: media as opaque binary + typed metadata.

The training-data-pipeline layer for image/audio/video payloads: media
bytes stay an opaque ``binary`` column until a vectorized kernel touches
them inside ``mapInPandas`` (Arrow batches, never per-row Python). The
synthetic OCSIMG1 container is decoded for real; any other format raises
at the clearly-marked codec seam in ``kernels.render.decode_image`` —
the Spark-side plumbing (schema, batch shape, UDF signature,
partitioning) is identical for a real decoder.

Reference analog: frames are opaque pixel buffers produced by the decoder
and consumed by providers (/root/reference src/ffmpeg/decoder.cpp:213-244,
src/recognition/provider/tesseract.cpp); resize/feature stages mirror the
preprocessing the north star names (grayscale/threshold/segmentation).

Oracle strategy: byte-level kernels are not SQL-expressible, so
``media_decode_meta`` / ``media_resize_meta`` / ``media_features`` are
graded against committed sf0.01 golden fixtures (common.golden_sql — the
kernels' unit gate stays tests/test_multimodal.py: exact equality vs the
shared Spark-free kernels); ``media_frame_sample`` is pure relational
(offset-stride sampling) and carries a recomputing DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..kernels import audio, render, video
from ..kernels.ocr import Recognizer, _runs, binarize, otsu_stats
from ..operators.extract import explode_media_meta
from ..operators.memo import map_media, with_payload
from .common import golden_sql, t

_FRAME_STRIDE = 2  # keep every 2nd media span per doc (I/P-frame analog)


def _media_bytes(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, offset, media_ref, content:binary) — resolve refs to bytes."""
    docs = datagen.materialized_corpus(spark, sf)
    media = explode_media_meta(docs)  # pruned scan: no text field
    return with_payload(media, "media_ref", render.resolve_media)


def _image(row) -> np.ndarray:
    return render.decode_image(bytes(row.content))


def _ink_meta(img: np.ndarray) -> tuple:
    h, w = img.shape
    return (w, h, round(float(binarize(img).mean()), 4))


def media_decode_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Decode each media payload and emit typed metadata
    (width, height, n_bytes, ink_fraction at the Otsu threshold); memoized
    per task on media_ref like the OCR path."""
    return map_media(
        _media_bytes(spark, sf),
        "doc_id string, offset int, width int, height int, n_bytes int, ink_frac double",
        _image,
        lambda: _ink_meta,
        lambda r, m: [(r.doc_id, int(r.offset), m[0], m[1], len(r.content), m[2])],
    )


def _half_size(img: np.ndarray) -> tuple:
    h2, w2 = (img.shape[0] // 2) * 2, (img.shape[1] // 2) * 2
    small = (
        img[:h2, :w2].reshape(h2 // 2, 2, w2 // 2, 2).mean(axis=(1, 3))
    ).astype("uint8")
    return (small.shape[1], small.shape[0], len(render.encode_image(small)))


def media_resize_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Resize (2x2 mean-pool downsample) inside the UDF; emit the new
    dimensions + re-encoded byte count. The resized binary itself is
    produced and re-encoded — only the metadata is projected out, which is
    what a downstream thumbnail/size audit would select (column pruning
    keeps the bytes out of the shuffle)."""
    return map_media(
        _media_bytes(spark, sf),
        "doc_id string, offset int, width int, height int, n_bytes int",
        _image,
        lambda: _half_size,
        lambda r, v: [(r.doc_id, int(r.offset), *v)],
    )


def _first_word_grid(img: np.ndarray) -> list[float]:
    thresh, _ = otsu_stats(img)
    mask = img <= thresh
    vec = np.zeros(35, dtype=np.float32)
    lines = _runs(mask.any(axis=1))
    if lines:
        line = mask[lines[0][0] : lines[0][1]]
        cols = _runs(line.any(axis=0))
        if cols:
            vec = Recognizer._pool(
                line[:, cols[0][0] : cols[0][1]].astype(np.float32)
            ).ravel()
    return [float(v) for v in vec]


def media_feature_vectors(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-extract: the recognizer's own 7x5 mean-ink grid of the first
    segmented word as a dense array<float> embedding per media span —
    the same downsampling kernel the OCR matcher scores against."""
    return map_media(
        _media_bytes(spark, sf),
        "doc_id string, offset int, feature array<float>",
        _image,
        lambda: _first_word_grid,
        lambda r, v: [(r.doc_id, int(r.offset), v)],
    )


def media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Graded projection of media_feature_vectors: the driver's
    canonicalizer cannot hash list cells, so the array<float> embedding is
    serialized with to_json (deterministic float formatting — the golden
    was produced by the same engine). Use media_feature_vectors for the
    array-typed API."""
    return media_feature_vectors(spark, sf).select(
        "doc_id", "offset", F.to_json("feature").alias("feature_json")
    )


def frame_sample(media: DataFrame, stride: int = _FRAME_STRIDE) -> DataFrame:
    """Frame sampling: keep every `stride`-th media span per document by
    offset order (the relational analog of the reference's I/P-frame
    filter, decoder.cpp:279-284 — decode fewer frames, keep sequence
    order). Input: (doc_id, offset, media_ref)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("offset")
    return (
        media.withColumn("frame_idx", (F.row_number().over(w) - 1).cast("long"))
        .where(F.pmod(F.col("frame_idx"), F.lit(stride)) == 0)
        .select("doc_id", "offset", "media_ref", "frame_idx")
    )


# The interleaved corpus derivation uses xxhash64 Column exprs DuckDB can't
# mirror, so the oracle-checked query runs both engines over one committed
# deterministic fixture (generated once by datagen at sf0.01) — input
# identity is by construction, order-independent of any cache state.
# Path derived from the repo location (like common.GOLDEN_DIR), not
# hardcoded, so a relocated checkout still resolves it.
import os as _os

from .common import _REPO_ROOT

_FIXTURE = _os.path.join(_REPO_ROOT, "tests", "fixtures", "interleaved_sf0.01.parquet")


def media_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.extract import explode_media_meta

    docs = spark.read.parquet(_FIXTURE)
    return frame_sample(explode_media_meta(docs))


MEDIA_FRAME_SAMPLE_SQL = f"""
WITH media AS (
  SELECT doc_id, s."offset" AS "offset", s.media_ref AS media_ref
  FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{_FIXTURE}'))
  WHERE s.kind = 'media'
),
idx AS (
  SELECT doc_id, "offset", media_ref,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY "offset") - 1 AS BIGINT) AS frame_idx
  FROM media
)
SELECT doc_id, "offset", media_ref, frame_idx FROM idx
WHERE frame_idx % {_FRAME_STRIDE} = 0
"""


# ---------------------------------------------------------------------------
# Audio leg of the multimodal layer (the brief names image/AUDIO/video as
# opaque binary + typed metadata). Payloads are synthetic OCSAUD1 PCM
# square waves (kernels/audio.py): every sample is ±amplitude, so
# RMS == amplitude and peak == amplitude EXACTLY, and the sample count/
# amplitude derive from md5(doc_id) — which lets the DuckDB oracle
# predict the decoder's output ANALYTICALLY (digit-for-digit md5-hex
# arithmetic, no bytes) while the Spark side computes it from the real
# decoded samples inside mapInPandas. A green row therefore value-gates
# the entire binary round trip: synth → encode → binary column → Arrow
# batch → decode → numpy meta.


def media_audio_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: decoded audio metadata (rate, n_samples, duration_ms,
    rms, peak, n_bytes) of its synthetic OCSAUD1 clip.

    Scale: two chained mapInPandas (resolve → decode+meta) with zero
    shuffles — byte payloads never leave the worker that produced them;
    with a real corpus the resolve stage is the Iceberg binary column /
    binaryFile scan and the plumbing downstream is identical."""
    docs = t(spark, sf, "documents").select("doc_id")
    return map_media(
        with_payload(docs, "doc_id", audio.resolve_audio),
        "doc_id long, rate int, n_samples long, duration_ms long, "
        "rms long, peak long, n_bytes long",
        lambda r: audio.decode_audio(bytes(r.content)),
        lambda: _audio_meta,
        lambda r, m: [(int(r.doc_id), *m, len(r.content))],
        key="doc_id",
    )


def _audio_meta(decoded) -> tuple:
    rate, s = decoded
    sq = s.astype(np.int64)
    n = int(s.size)
    rms = float(np.sqrt(int((sq * sq).sum()) / n))  # exact: sqrt(a²)=a
    return (rate, n, n * 1000 // rate, int(round(rms)), int(np.abs(sq).max()))


def _duck_hex(start: int, n: int) -> str:
    """md5-hex chars [start, start+n) of doc_id as an integer — the SQL
    twin of python int(h[a:b], 16), built from ascii digit arithmetic."""
    def digit(i: int) -> str:
        c = f"ascii(substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1))"
        return f"(CASE WHEN {c} >= 97 THEN {c} - 87 ELSE {c} - 48 END)"

    expr = digit(start)
    for k in range(1, n):
        expr = f"({expr} * 16 + {digit(start + k)})"
    return expr


def _duck_hex4(start: int) -> str:
    return _duck_hex(start, 4)


MEDIA_AUDIO_SQL = f"""
WITH p AS (
  SELECT doc_id,
         8000 + {_duck_hex4(1)} % 8000 AS n,
         1000 + {_duck_hex4(5)} % 20000 AS amp
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       16000 AS rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST((n * 1000) // 16000 AS BIGINT) AS duration_ms,
       CAST(amp AS BIGINT) AS rms,
       CAST(amp AS BIGINT) AS peak,
       CAST(12 + 2 * n AS BIGINT) AS n_bytes
FROM p
"""


# ---------------------------------------------------------------------------
# Video leg of the multimodal layer (the brief names image/audio/VIDEO as
# opaque binary + typed metadata; this completes the set). Payloads are
# synthetic OCSVID1 multi-frame containers (kernels/video.py): frame
# count, dimensions and each frame's CONSTANT gray value derive from
# md5(doc_id) hex digits, so a frame's mean == min == max == gray exactly
# and its pixel sum is an integer product — the DuckDB oracle predicts
# the decoder's per-frame output ANALYTICALLY (md5 digit arithmetic +
# generate_series, no bytes) while the Spark side decodes real bytes
# through two chained mapInPandas. A green row value-gates the whole
# binary round trip per frame, including every pixel byte (pixel_sum).
# This is the closest local analog of the reference's demux → per-frame
# decode loop (/root/reference src/ffmpeg/decoder.cpp:313-335).


def media_video_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Per decoded video frame: (doc_id, frame_idx, ts_ms, width, height,
    gray, pixel_sum, frame_bytes, clip_bytes).

    Scale: two chained mapInPandas (resolve → demux+decode+meta) with
    zero shuffles — clip bytes never leave the worker; the per-frame
    explode happens INSIDE the second UDF (one input row → n_frames
    output rows), so no array column is shuffled either."""
    docs = t(spark, sf, "documents").select("doc_id")
    return map_media(
        with_payload(docs, "doc_id", video.resolve_video),
        "doc_id long, frame_idx int, ts_ms long, width int, height int, "
        "gray long, pixel_sum long, frame_bytes long, clip_bytes long",
        lambda r: video.decode_video(bytes(r.content)),
        lambda: _frame_meta,
        lambda r, frames: [(int(r.doc_id), *f, len(r.content)) for f in frames],
        key="doc_id",
    )


def _frame_meta(frames) -> list[tuple]:
    return [
        (
            f,
            f * 1000 // video.FPS,
            fr.shape[1],
            fr.shape[0],
            int(fr.min()),
            int(fr.sum()),
            12 + fr.shape[0] * fr.shape[1],
        )
        for f, fr in enumerate(frames)
    ]


def media_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    """frame_sample composed ON TOP of the decoded video frames: keep
    every 2nd frame per clip by timestamp order (the reference's
    I/P-frame decode-fewer filter applied to real decoded frames, not
    the relational span analog)."""
    per_frame = media_video_meta(spark, sf).select(
        "doc_id",
        F.col("ts_ms").cast("int").alias("offset"),
        F.concat(
            F.lit("vid://"), F.col("doc_id"), F.lit("#"), F.col("frame_idx")
        ).alias("media_ref"),
    )
    return frame_sample(per_frame)


def _video_params_sql() -> str:
    """p AS (...) — the md5-hex derivation of kernels.video.video_params
    (digits [8:16), disjoint from audio's [0:8))."""
    return f"""p AS (
  SELECT doc_id,
         2 + {_duck_hex(9, 2)} % 4 AS n_frames,
         16 + {_duck_hex(11, 2)} % 48 AS w,
         16 + {_duck_hex(13, 2)} % 48 AS h,
         10 + {_duck_hex(15, 2)} % 200 AS base
  FROM documents
),
vf AS (
  SELECT doc_id, n_frames, w, h, base,
         unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS f
  FROM p
)"""


MEDIA_VIDEO_SQL = f"""
WITH {_video_params_sql()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(f AS INT) AS frame_idx,
       CAST(f * 1000 // 10 AS BIGINT) AS ts_ms,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST((base + 7 * f) % 256 AS BIGINT) AS gray,
       CAST(((base + 7 * f) % 256) * w * h AS BIGINT) AS pixel_sum,
       CAST(12 + w * h AS BIGINT) AS frame_bytes,
       CAST(10 + n_frames * (16 + w * h) AS BIGINT) AS clip_bytes
FROM vf
"""


MEDIA_VIDEO_FRAMES_SQL = f"""
WITH {_video_params_sql()},
spans AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(f * 1000 // 10 AS INT) AS "offset",
         'vid://' || CAST(doc_id AS VARCHAR) || '#' || CAST(f AS VARCHAR) AS media_ref
  FROM vf
),
idx AS (
  SELECT doc_id, "offset", media_ref,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY "offset") - 1 AS BIGINT) AS frame_idx
  FROM spans
)
SELECT doc_id, "offset", media_ref, frame_idx FROM idx
WHERE frame_idx % {_FRAME_STRIDE} = 0
"""


QUERIES = {
    "media_audio_meta": (media_audio_meta, MEDIA_AUDIO_SQL),
    "media_video_meta": (media_video_meta, MEDIA_VIDEO_SQL),
    "media_video_frames": (media_video_frames, MEDIA_VIDEO_FRAMES_SQL),
    "media_decode_meta": (media_decode_meta, golden_sql("media_decode_meta")),
    "media_resize_meta": (media_resize_meta, golden_sql("media_resize_meta")),
    "media_features": (media_features, golden_sql("media_features")),
    "media_frame_sample": (media_frame_sample, MEDIA_FRAME_SAMPLE_SQL),
}

# sf0.01-pinned golden-backed names (see queries.extraction.GOLDEN_QUERIES)
GOLDEN_QUERIES = {"media_decode_meta", "media_resize_meta", "media_features"}
