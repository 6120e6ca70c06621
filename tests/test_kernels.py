"""Kernel-level tests: render/recognize roundtrip, Otsu, normalizer.

These mirror the correctness properties the reference's OCR path implies
(word order, trim + min-length filtering, determinism of OCR on pixel
content) — the golden layer the reference itself lacks (SURVEY.md §5).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pytest

from ocr_suite_spark.kernels import render
from ocr_suite_spark.kernels.font import ALPHABET, GLYPHS
from ocr_suite_spark.kernels.ocr import Recognizer, binarize, estimate_skew, otsu_threshold
from ocr_suite_spark.kernels.textnorm import normalize_text, ocr_words_to_text


def test_glyphs_have_no_interior_empty_columns():
    # segmentation relies on connected char components
    for ch, g in GLYPHS.items():
        cols = g.any(axis=0)
        nz = np.flatnonzero(cols)
        assert cols[nz[0] : nz[-1] + 1].all(), ch


def test_glyphs_full_height():
    for ch, g in GLYPHS.items():
        assert g[0].any() and g[-1].any(), ch


@pytest.mark.parametrize("skew", render.SKEW_SET)
def test_roundtrip_all_skews(skew):
    eng = Recognizer()
    words = ["the", "quick", "brown", "fox", "ilj"]
    for noise in (0, 7, 999999):
        img = render.render_image(words, skew, noise)
        got = [w.text for w in eng.recognize(img)]
        assert got == words, (skew, noise, got)


def test_roundtrip_every_letter():
    eng = Recognizer()
    words = ["".join(ALPHABET[:13]), "".join(ALPHABET[13:])]
    for skew in (-6, 0, 6):
        img = render.render_image(words, skew, 42)
        got = [w.text for w in eng.recognize(img)]
        assert got == words


def test_recognize_is_deterministic():
    eng1, eng2 = Recognizer(), Recognizer()
    img = render.render_image(["merge", "scan"], 4, 17)
    r1 = eng1.recognize(img)
    r2 = eng2.recognize(img)
    assert r1 == r2


def test_word_boxes_reading_order_and_confidence():
    eng = Recognizer()
    img = render.render_image(["alpha", "bravo"], 0, 3)
    boxes = eng.recognize(img)
    assert [b.text for b in boxes] == ["alpha", "bravo"]
    assert boxes[0].left < boxes[1].left  # reading order
    for b in boxes:
        assert b.left < b.right and b.top < b.bottom
        assert 0.0 <= b.confidence <= 100.0


def test_otsu_separates_bimodal():
    img = np.full((20, 20), 220, dtype=np.uint8)
    img[5:15, 5:15] = 30
    t = otsu_threshold(img)
    assert 30 <= t < 220
    assert binarize(img).sum() == 100


def test_estimate_skew_exact():
    for skew in render.SKEW_SET:
        img = render.render_image(["whiskey", "tango"], skew, 11)
        assert estimate_skew(binarize(img)) == skew


def test_media_ref_roundtrip():
    ref = render.make_media_ref(["foo", "bar"], -4, 123)
    assert render.parse_media_ref(ref) == (["foo", "bar"], -4, 123)
    img = render.decode_image(render.resolve_media(ref))
    assert img.dtype == np.uint8 and img.ndim == 2


def test_decode_rejects_foreign_formats():
    with pytest.raises(NotImplementedError):
        render.decode_image(b"\x89PNG\r\n\x1a\n....")


def test_normalize_text():
    assert normalize_text("  the  quick ox ") == "the quick"
    assert normalize_text("") == ""
    assert normalize_text(None) == ""
    assert normalize_text("ab x y") == ""
    assert normalize_text("abc") == "abc"
    assert ocr_words_to_text(["alpha", " x ", "zz", "beta"]) == "alpha beta"


from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_suite_spark.datagen import MEDIA_WORDS
from ocr_suite_spark.kernels.render import SKEW_SET


@given(
    words=st.lists(st.sampled_from(MEDIA_WORDS), min_size=1, max_size=7),
    skew=st.sampled_from(SKEW_SET),
    noise=st.integers(min_value=0, max_value=99999),
)
@settings(max_examples=60, deadline=None)
def test_roundtrip_generative(words, skew, noise):
    """Generative render->recognize roundtrip over the corpus vocabulary,
    every skew, arbitrary noise seeds — the property the fixed-case sweeps
    sample (and the scatter-deskew change was validated against 3000
    such cases before landing)."""
    eng = Recognizer()
    img = render.render_image(words, skew, noise)
    assert [w.text for w in eng.recognize(img)] == words


def test_estimate_skew_subsample_invariant():
    """The r5 4096->2048 ink-subsample bound must not move any deskew
    argmax (the full ~5,000-case grid was swept before landing; this pins
    a representative slice so a future bound change re-proves itself)."""
    from ocr_suite_spark.kernels.ocr import estimate_skew

    rng = np.random.RandomState(3)
    for wc in (1, 3, 5, 7):
        for skew in SKEW_SET:
            words = [MEDIA_WORDS[int(rng.randint(0, len(MEDIA_WORDS)))] for _ in range(wc)]
            img = render.render_image(words, skew, int(rng.randint(0, 1000)))
            mask = binarize(img)
            # dense-ink path must engage: these canvases carry > 2048 ink px
            assert estimate_skew(mask) == skew


DIGEST_FIXTURE = Path(__file__).parent / "fixtures" / "kernel_digests.json"
DIGEST_REFS, DIGEST_BLOCK = 2025, 45  # 9 skews x 3 word counts x 75 draws


def digest_refs() -> list[str]:
    """The seeded ref set the kernel digests cover: every angle in
    SKEW_SET, 2-4 words, noise seeds over the whole u32 range (so the
    ``noise % 2**31`` fold is exercised too)."""
    rng = np.random.default_rng(9)
    refs = []
    for i in range(DIGEST_REFS):
        n_words = 2 + (i // len(SKEW_SET)) % 3
        words = [MEDIA_WORDS[k] for k in rng.integers(0, len(MEDIA_WORDS), size=n_words)]
        refs.append(render.make_media_ref(words, SKEW_SET[i % len(SKEW_SET)], int(rng.integers(0, 2**32))))
    return refs


def kernel_digests() -> dict:
    """md5 per block of refs of the ``resolve_media`` bytes and of the
    ``recognize()`` word tuples (text, bbox, confidence)."""
    import dataclasses
    import hashlib

    eng = Recognizer()
    refs = digest_refs()
    resolve, recognize = [], []
    for b in range(0, len(refs), DIGEST_BLOCK):
        hr, hw = hashlib.md5(), hashlib.md5()
        for ref in refs[b : b + DIGEST_BLOCK]:
            data = render.resolve_media(ref)
            hr.update(data)
            words = eng.recognize(render.decode_image(data))
            hw.update(repr([dataclasses.astuple(w) for w in words]).encode() + b"\n")
        resolve.append(hr.hexdigest())
        recognize.append(hw.hexdigest())
    return {"n_refs": len(refs), "block": DIGEST_BLOCK, "resolve_md5": resolve, "recognize_md5": recognize}


def test_kernel_outputs_frozen():
    """Kernel speed-ups must not change one output byte: the rendered
    bytes and the recognized word tuples of 2,025 seeded refs match the
    digests recorded before the per-thread render generator and the
    recognize cuts (regenerate with ``python tests/gen_kernel_digests.py``
    only for an intended output change)."""
    want = json.loads(DIGEST_FIXTURE.read_text())
    got = kernel_digests()
    for kind in ("resolve_md5", "recognize_md5"):
        bad = [i for i, (a, b) in enumerate(zip(got[kind], want[kind])) if a != b]
        assert not bad, f"{kind}: blocks {bad} of {DIGEST_BLOCK} refs differ"
    assert got == want


def test_render_threads_agree():
    """Renders from more threads than cores at once, switching as often as
    the interpreter allows, give the bytes a single thread does: each
    thread re-seeds its own noise generator, so no thread's seed can land
    between another's seed and draw."""
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    refs = digest_refs()[:150]
    want = [render.resolve_media(r) for r in refs]
    n = 2 * len(os.sched_getaffinity(0)) + 1
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as ex:
            runs = [ex.submit(lambda: [render.resolve_media(r) for r in refs]) for _ in range(n)]
            got = [f.result(timeout=120) for f in runs]
    finally:
        sys.setswitchinterval(interval)
    assert all(g == want for g in got)


def test_ref_memo_fifo_and_none_values():
    """RefMemo evicts FIFO-single (never clear-all) and memoizes a compute
    that returns None (distinct _MISSING sentinel, ADVICE r4)."""
    from ocr_suite_spark.operators.memo import RefMemo

    calls = []

    def compute(ref):
        calls.append(ref)
        return None if ref == "none-ref" else ref.upper()

    memo = RefMemo(compute, cap=3)
    # None return is memoized: second get must not recompute
    assert memo.get("none-ref") is None
    assert memo.get("none-ref") is None
    assert calls.count("none-ref") == 1
    for r in ("a", "b", "c", "d"):  # overflow the cap by one
        memo.get(r)
    # oldest entry ("none-ref") evicted, the rest retained — a retained
    # ref must not recompute, the evicted one must
    n = len(calls)
    memo.get("d")
    memo.get("c")
    assert len(calls) == n
    memo.get("none-ref")
    assert len(calls) == n + 1


def test_media_batch_loop_without_spark():
    """The one media batch loop (memo.media_batches) on plain pandas frames:
    a repeated key computes once, a failing key is quarantined once and its
    emitter sees QUARANTINED, n_images counts fresh computes only, 0- and
    n-row emitters build the right frame, and on_error='fail' propagates."""
    import pandas as pd

    from ocr_suite_spark.operators.memo import QUARANTINED, media_batches

    class Acc:
        def __init__(self):
            self.value = 0

        def add(self, v):
            self.value += v

    class Meter:
        def __init__(self):
            self.n_images, self.decode_s, self.ocr_s, self.n_errors = (
                Acc(), Acc(), Acc(), Acc()
            )

    calls = []

    def decode(row):
        calls.append(row.media_ref)
        if row.media_ref == "bad":
            raise ValueError("corrupt payload")
        return row.media_ref * row.n

    seen = []

    def emit(row, v):
        seen.append((row.media_ref, v))
        if v is QUARANTINED:
            return []  # a quarantined span yields no rows
        return [(row.doc_id, row.media_ref, i) for i in range(row.n)]

    batches = [
        pd.DataFrame({"doc_id": ["d1", "d2", "d3"], "media_ref": ["a", "bad", "a"], "n": [2, 1, 2]}),
        pd.DataFrame({"doc_id": ["d4", "d5"], "media_ref": ["bad", "b"], "n": [1, 0]}),
    ]
    names = ["doc_id", "media_ref", "i"]
    meter = Meter()
    out = list(
        media_batches(iter(batches), names, decode, lambda: str.upper, emit,
                      meter=meter, on_error="quarantine")
    )
    assert calls == ["a", "bad", "b"]  # "a" and "bad" each computed once
    assert meter.n_images.value == 3  # fresh computes only, not 5 rows
    assert meter.n_errors.value == 1
    assert [v for r, v in seen if r == "bad"] == [QUARANTINED, QUARANTINED]
    assert [list(f.columns) for f in out] == [names, names]
    assert out[0].values.tolist() == [["d1", "a", 0], ["d1", "a", 1], ["d3", "a", 0], ["d3", "a", 1]]
    assert out[1].empty  # quarantined row + a 0-row emit: no rows, same columns

    # key=None: no memo, every row computes
    calls.clear()
    out = list(media_batches(iter(batches[:1]), names, decode, lambda: str.upper, emit,
                             key=None, on_error="quarantine"))
    assert calls == ["a", "bad", "a"]

    with pytest.raises(ValueError, match="corrupt payload"):
        list(media_batches(iter(batches), names, decode, lambda: str.upper, emit))
