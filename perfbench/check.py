"""Correctness gates.

Extraction: every document's (kind, text, media_ref, order) sequence is
rebuilt from the input alone. A text span's expected text is
``textnorm.normalize_text`` of its input text; a media span's is the word
list its ref encodes (``render.parse_media_ref``), passed through the same
3-char filter the recognizer output goes through. The OCR kernels are not
run to build the expectation.

Queries: each result is reduced to its row count and an order-independent
content hash, compared with the value recorded per (query, input variant)
in ``expected_queries.json``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json

Span = tuple[str, str | None, str | None, int]


def expected_spans(spans_json: str) -> list[Span]:
    from ocr_suite_spark.kernels import render, textnorm

    out = []
    for s in sorted(json.loads(spans_json), key=lambda s: s["offset"]):
        if s["kind"] == "text":
            out.append(("text", textnorm.normalize_text(s.get("text")), None, s["offset"]))
        else:
            words = render.parse_media_ref(s["media_ref"])[0]
            out.append(
                ("media", textnorm.ocr_words_to_text(words), s["media_ref"], s["offset"])
            )
    return out


def actual_spans(spans_json: str) -> list[Span]:
    return [
        (s["kind"], s.get("text"), s.get("media_ref"), s["order"])
        for s in json.loads(spans_json)
    ]


def media_count(spans_json: str) -> int:
    return sum(s["kind"] == "media" for s in json.loads(spans_json))


def check_extraction(inputs: list, outputs: list) -> list[str]:
    """inputs/outputs: (doc_id, spans as JSON) rows. Returns the problems
    found (empty when every document matches)."""
    want = {d: expected_spans(j) for d, j in inputs}
    got = {d: actual_spans(j) for d, j in outputs}
    problems = []
    if len(outputs) != len(got):
        problems.append(f"{len(outputs) - len(got)} duplicate output documents")
    if len(got) != len(want):
        problems.append(f"{len(got)} documents out, {len(want)} in")
    bad = [d for d in want if got.get(d) != want[d]]
    if bad:
        d = bad[0]
        problems.append(f"{len(bad)} documents differ, e.g. {d}: {got.get(d)} != {want[d]}")
    return problems


def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, (list, tuple)):  # pyspark Rows are tuples
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def result_digest(rows: list) -> list:
    """[row count, order-independent content hash] of a collected result."""
    acc = 0
    for r in rows:
        h = hashlib.sha256(repr(_canon(r)).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
    return [len(rows), f"{acc:016x}"]
