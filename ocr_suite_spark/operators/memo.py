"""The one Arrow batch loop behind every media UDF.

Every vectorized media UDF — OCR text and OCR words (operators/extract.py);
decode-meta, resize, features, audio and video (queries/multimodal.py); the
payload-resolve step ``with_payload`` below — is a ``map_media`` call: a
decode stage, a per-task init that returns the value function, and an
emitter mapping an input row plus its value to 0..n output rows. Decode
and value are separate stages so the SpeedMeter can book decode_s and
ocr_s apart. The loop owns the rest:

- per-task memoization keyed on ``media_ref`` (or ``doc_id``): a payload
  repeated within one task (partition) is decoded and computed once; the
  memo lives for the task, not the Python worker (reference analog: the
  per-thread provider instance, reference src/recognition/main.cpp:136-177);
- the memo is bounded: past ``cap`` distinct keys the oldest entry is
  evicted (FIFO single-eviction — dicts iterate in insertion order, so
  ``next(iter(d))`` is the oldest key). Clear-all eviction is the thrash
  pattern measured at 1.24x on the rotate_nn memo when the working set
  exceeded the cap (BENCH.md r4);
- per-batch decode/compute wall time, fresh-compute and error counts,
  flushed to an optional SpeedMeter's accumulators (speed_meter analog,
  speed_meter.cpp:35-58);
- error quarantine counts DISTINCT payloads, not rows: under
  ``on_error='quarantine'`` a corrupt payload is attempted once, memoized
  as ``QUARANTINED`` for the emitter, and every later row with the same key
  costs nothing.

The OCR stage (operators/extract.py) partitions its input on
``media_ref``, so within one call every copy of a ref shares a task: each
distinct image is computed once per call, and ``n_errors`` counts distinct
bad refs per call. Elsewhere the caller's partitioning decides how many
tasks see a key.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# Memoized marker for a payload whose decode/compute failed under
# on_error='quarantine' (distinguishable from any real value incl. None).
QUARANTINED = object()

_CAP = 65536

# Cache-miss sentinel: distinct from any value compute can return, so a
# compute that legitimately returns None is still memoized (ADVICE r4 —
# with None as the sentinel such a value would silently re-run per row).
_MISSING = object()


class RefMemo:
    """``key -> compute(key, *args)`` with the shared payload cap."""

    __slots__ = ("_compute", "_memo", "_cap")

    def __init__(self, compute: Callable, cap: int = _CAP) -> None:
        self._compute = compute
        self._memo: dict = {}
        self._cap = cap

    def get(self, ref, *args):
        v = self._memo.get(ref, _MISSING)
        if v is _MISSING:
            v = self._compute(ref, *args)
            if len(self._memo) > self._cap:
                self._memo.pop(next(iter(self._memo)))  # FIFO: evict oldest
            self._memo[ref] = v
        return v


class BatchStats:
    """Per-batch metering counters (reset each Arrow batch, flushed to the
    SpeedMeter accumulators by the batch loop)."""

    __slots__ = ("t_dec", "t_ocr", "n_fresh", "n_err")

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.t_dec = 0.0
        self.t_ocr = 0.0
        self.n_fresh = 0
        self.n_err = 0

    def flush(self, meter) -> None:
        if meter is not None:
            meter.n_images.add(self.n_fresh)
            meter.decode_s.add(self.t_dec)
            meter.ocr_s.add(self.t_ocr)
            if self.n_err:
                meter.n_errors.add(self.n_err)


def media_batches(
    batches: Iterator[pd.DataFrame],
    names: list[str],
    decode: Callable,
    init: Callable[[], Callable],
    emit: Callable[[tuple, object], Iterable[tuple]],
    key: str | None = "media_ref",
    meter=None,
    on_error: str = "fail",
) -> Iterator[pd.DataFrame]:
    """The batch loop (the body of ``map_media``, Spark-free).

    For each input row (a namedtuple of the batch's columns) the value is
    ``value(decode(row))`` — memoized on ``row.<key>``, recomputed per row
    when ``key`` is None — and ``emit(row, value)`` yields the output
    tuples in ``names`` order. Decode failures book as decode time,
    compute failures as OCR time.
    """
    value = init()
    stats = BatchStats()

    def compute(_key, row):
        t0 = time.time()
        t1 = None
        try:
            decoded = decode(row)
            t1 = time.time()
            v = value(decoded)
        except Exception:
            if on_error == "fail":
                raise
            stats.n_err += 1
            if t1 is None:
                t1 = time.time()
            v = QUARANTINED
        stats.t_dec += t1 - t0
        stats.t_ocr += time.time() - t1
        stats.n_fresh += 1
        return v

    get = RefMemo(compute).get if key else compute
    for pdf in batches:
        stats.reset()
        rows: list[tuple] = []
        for row in pdf.itertuples(index=False):
            rows.extend(emit(row, get(getattr(row, key) if key else None, row)))
        stats.flush(meter)
        yield pd.DataFrame(rows, columns=names)


def map_media(
    df: DataFrame,
    schema: str,
    decode: Callable,
    init: Callable[[], Callable],
    emit: Callable[[tuple, object], Iterable[tuple]],
    key: str | None = "media_ref",
    meter=None,
    on_error: str = "fail",
) -> DataFrame:
    """``df.mapInPandas`` through the one media batch loop (``media_batches``).

    ``decode(row)`` turns an input row into a decoded payload; ``init()``
    runs once per task, not per Python worker (iterator-init: the costly
    recognizer is built there, SURVEY.md F1), returning ``value(decoded)``;
    ``emit(row, value)`` maps the row and its value (or ``QUARANTINED``)
    to 0..n output tuples in ``schema`` order.

    on_error:
      - 'fail' (default): any decode/compute exception propagates — task
        retries, then the job dies. Right for correctness-graded runs.
      - 'quarantine': the failure is memoized as ``QUARANTINED`` and counted
        once per distinct key on the meter's n_errors; the emitter decides
        what the row becomes. At 10^12 documents a handful of corrupt
        payloads are a certainty, and one poison row must cost one row,
        not a 1000-executor job (the reference logs-and-continues the same
        way on decoder errors, src/ffmpeg/decoder.cpp error paths).
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")
    names = StructType.fromDDL(schema).names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return media_batches(batches, names, decode, init, emit, key, meter, on_error)

    return df.mapInPandas(run, schema)


def with_payload(df: DataFrame, key: str, resolve: Callable) -> DataFrame:
    """``df`` plus ``content binary``: each row's payload bytes,
    ``resolve(row.<key>)`` — the 'fetch + demux' stand-in. At real scale
    ``content`` would arrive as a column of the table or via a binaryFile
    scan, with identical downstream plumbing. Not memoized (``key=None``):
    the value is the payload bytes themselves, and a memo would hold up to
    the cap's worth of them per task."""
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema] + ["content binary"]
    )
    return map_media(
        df,
        schema,
        lambda row: getattr(row, key),
        lambda: resolve,
        lambda row, payload: [(*row, payload)],
        key=None,
    )
