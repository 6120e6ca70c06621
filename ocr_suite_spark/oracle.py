"""Spark-free pandas oracle for the extraction pipeline.

Computes the exact same (kind, text, media_ref, order) sequences as
operators/extract.py, but single-threaded in pandas using the shared
kernels. Tests compare Spark output against this row-for-row — proving the
distributed plumbing (explode, routing, partitioning, Arrow batching, union,
merge) preserves the reference semantics.
"""

from __future__ import annotations

import pandas as pd

from .kernels import render, textnorm
from .kernels.ocr import Recognizer


def extract_pandas(docs: pd.DataFrame) -> dict[str, list[tuple]]:
    """docs: columns (doc_id, spans) where spans is a list of dicts/Rows with
    kind/text/media_ref/offset. Returns {doc_id: [(kind, text, media_ref, order)]}."""
    eng = Recognizer()
    out: dict[str, list[tuple]] = {}
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        rows = []
        for s in spans:
            kind, text, ref, off = s["kind"], s["text"], s["media_ref"], s["offset"]
            if kind == "text":
                rows.append(("text", textnorm.normalize_text(text), None, off))
            else:
                img = render.decode_image(render.resolve_media(ref))
                words = [w.text for w in eng.recognize(img)]
                rows.append(("media", textnorm.ocr_words_to_text(words), ref, off))
        rows.sort(key=lambda r: r[3])
        out[doc_id] = rows
    return out
