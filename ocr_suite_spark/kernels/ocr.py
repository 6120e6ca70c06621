"""The recognizer kernel: grayscale -> Otsu -> deskew -> segmentation ->
glyph template matching.

This is the from-scratch, numpy-vectorized stand-in for the reference's
Tesseract provider (/root/reference src/recognition/provider/tesseract.cpp):
word-level iteration (RIL_WORD, tesseract.cpp:98-99), per-word bbox +
confidence (tesseract.cpp:102-106), deterministic output as a pure function
of pixel content. Expensive state (the template bank) is built once per
``Recognizer`` instance — once per task in the Spark UDF, mirroring the
reference's per-thread Tesseract instance (main.cpp:136-177).

Per image, single thread (4-vCPU Xeon VM, 1,500 seeded refs),
``recognize`` costs 1.00-1.08 ms: Otsu 0.13, ink coordinates + skew
search 0.35-0.38, segmentation + matching 0.52-0.57. Speed-ups must keep
every output byte (test_kernels.test_kernel_outputs_frozen); SCALE.md
"Kernel cost per image" lists the cuts measured and rejected.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

import numpy as np

from .font import ALPHABET, GLYPH_H, GLYPH_W, TEMPLATES
from .render import CHAR_GAP, SKEW_SET, WORD_GAP

# word gap is 16px, char gap 4px at SCALE=2; split words at > midpoint
_WORD_GAP_MIN = (WORD_GAP + CHAR_GAP) // 2


@dataclass(frozen=True)
class WordBox:
    text: str
    left: int
    top: int
    right: int
    bottom: int
    confidence: float  # 0..100, like Tesseract (tesseract.cpp:106)


def otsu_stats(img: np.ndarray) -> tuple[int, float]:
    """Classic Otsu over the 256-bin histogram.

    Returns (threshold, class-mean midpoint). The midpoint is the right
    cutoff for *resampled* (bilinear-smoothed) pixels, whose values fall
    between the two original modes; computing it here avoids a second
    histogram pass on the deskewed crop.
    """
    # 2x2 subsample: the histogram is statistics, not pixels — 4x less
    # memory traffic (bincount internally widens uint8 to int64) with
    # no effect on the two well-separated modes
    sub = img[::2, ::2] if img.shape[0] > 16 and img.shape[1] > 16 else img
    hist = np.bincount(sub.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    w0 = np.cumsum(hist)
    w1 = total - w0
    cum_mean = np.cumsum(hist * np.arange(256))
    mean_total = cum_mean[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = cum_mean / w0
        mu1 = (mean_total - cum_mean) / w1
        between = w0 * w1 * (mu0 - mu1) ** 2
    between[~np.isfinite(between)] = -1.0
    t = int(np.argmax(between))
    mid = float((mu0[t] + mu1[t]) / 2.0) if np.isfinite(mu0[t]) and np.isfinite(mu1[t]) else float(t)
    return t, mid


def otsu_threshold(img: np.ndarray) -> int:
    return otsu_stats(img)[0]


def binarize(img: np.ndarray) -> np.ndarray:
    """Foreground (ink) mask: pixels at or below the Otsu threshold
    (the argmax bin is the last bin of class 0, hence inclusive)."""
    return img <= otsu_threshold(img)


def ink_coords(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``np.nonzero(mask)`` for a 2-D mask (same arrays), ~2.4x cheaper:
    one flat scan, then a divmod by the row width."""
    return np.divmod(np.flatnonzero(mask), mask.shape[1])


def estimate_skew(
    mask: np.ndarray,
    candidates: tuple[int, ...] = SKEW_SET,
    ink: tuple[np.ndarray, np.ndarray] | None = None,
) -> int:
    """Projection-profile deskew: the rotation whose row-sum profile has the
    highest variance is the one that aligns text lines horizontally.
    Deterministic tie-break: smaller |angle|, then smaller angle.

    Instead of materializing a rotated image per candidate angle, project the
    foreground pixel coordinates directly (forward rotation of the ink
    coordinates, then a row histogram): O(ink_pixels x angles) instead of
    O(image_pixels x angles) — ~10x on real text images, same argmax.

    Dense ink is further subsampled to ~2048 pixels: the profile variance is
    a statistic, and a deterministic every-k stride preserves the argmax
    (verified exact across the full skew x wordcount x noise sweep; the
    4096 -> 2048 bound was re-verified the same way in r5 — 0 argmax moves
    over ~5,000 rendered cases — and is 1.5x on this function, the r5 kernel
    fuel BENCH.md names. The attempted +/-angle outer-product sharing was
    measured at parity — fixed per-row rint/bincount costs dominate at this
    ink size — and was dropped; see BENCH.md r5).
    """
    h, w = mask.shape
    ys, xs = ink if ink is not None else ink_coords(mask)
    if ys.size == 0:
        return 0
    if ys.size > 2048:
        step = ys.size // 2048 + 1
        ys = ys[::step]
        xs = xs[::step]
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    # All candidate rotations in ONE batch: dest rows as a (n_angles, n_ink)
    # matrix, out-of-range pixels routed to a per-angle trash bin (row h,
    # sliced off — same exclusion as the old per-angle filter), then a
    # single offset-encoded bincount yields every profile at once. Counts,
    # variances and the argmax are bit-identical to the per-angle loop
    # (test_estimate_skew_exact + the skew/letter roundtrip sweeps).
    nsin, cos, rows, pref = _skew_plan(tuple(candidates))
    t = nsin * (xs - cx)  # == np.outer(-sin, xr), elementwise the same
    t += cos * (ys - cy)
    t += cy
    yd = np.rint(t).astype(np.int64)
    # trash bin: negatives wrap to huge on the unsigned view, so one
    # minimum routes both out-of-range sides to row h
    ydu = yd.view(np.uint64)
    np.minimum(ydu, np.uint64(h), out=ydu)
    hh = h + 1
    yd += rows * hh
    prof = (
        np.bincount(yd.ravel(), minlength=len(candidates) * hh)
        .reshape(len(candidates), hh)[:, :h]
        .astype(np.float64)
    )
    # prof.var(axis=1), in the operations numpy's _var performs, without
    # its wrapper
    mean = np.add.reduce(prof, axis=1, keepdims=True)
    mean /= h
    prof -= mean
    prof *= prof
    scores = np.add.reduce(prof, axis=1) / h
    # the first maximum in preference order (smaller |angle|, then smaller)
    return int(candidates[pref[int(np.argmax(scores[pref]))]])


@functools.lru_cache(maxsize=8)
def _skew_plan(candidates: tuple[int, ...]):
    """Per candidate set: -sin and cos columns, row-offset multipliers and
    the tie-break order of ``estimate_skew``."""
    rad = np.deg2rad(np.asarray(candidates, dtype=np.float64))
    pref = sorted(range(len(candidates)), key=lambda i: (abs(candidates[i]), candidates[i]))
    return (-np.sin(rad))[:, None], np.cos(rad)[:, None], np.arange(len(candidates))[:, None], pref


def _runs(flags: np.ndarray) -> list[tuple[int, int]]:
    """Contiguous True runs as [start, end) index pairs: the edges of the
    zero-padded flags alternate start, end."""
    f = np.zeros(flags.size + 2, dtype=np.int8)
    f[1:-1] = flags
    e = np.flatnonzero(f[1:] != f[:-1]).tolist()
    return list(zip(e[::2], e[1::2]))


class Recognizer:
    """Template-matching recognizer over the shared glyph bank.

    Instantiate once per task (expensive-init idiom, SURVEY.md F1); then
    ``recognize`` is a pure function of the image.
    """

    def __init__(self) -> None:
        # Normalized template bank for cosine scoring, (n_glyphs, 35).
        t = TEMPLATES.reshape(len(ALPHABET), -1)
        self._tmpl = t / np.linalg.norm(t, axis=1, keepdims=True)

    def _match_chars(self, cells: np.ndarray) -> tuple[list[str], np.ndarray]:
        """cells: (n, 7, 5) mean-ink grids -> (chars, each char's best
        cosine score).

        One matmul per word, on purpose: batching every char of an image
        into one matmul changes float32 score bits (2,042 of 3,000 ref
        images; same chars, but a confidence can round differently)."""
        flat = cells.reshape(len(cells), -1)  # float32 already
        # exactly what np.linalg.norm(flat, axis=1) computes, minus its
        # dispatch overhead
        norms = np.sqrt(np.add.reduce(flat * flat, axis=1, keepdims=True))
        norms[norms == 0] = 1.0
        scores = (flat / norms) @ self._tmpl.T  # (n, n_glyphs)
        best = scores.argmax(axis=1)
        return [ALPHABET[i] for i in best.tolist()], scores.max(axis=1)

    _POOL_BINS: dict[tuple[int, int], tuple] = {}

    @staticmethod
    def _pool(c: np.ndarray, out: np.ndarray | None = None) -> np.ndarray:
        """Mean-pool a tight float32 crop onto the centered 7x5 glyph grid
        (into ``out``, a zeroed 7x5 float32 array, when given)."""
        h, w = c.shape
        # bin boundaries depend only on the crop shape — char crops cluster
        # around the glyph size, so memoizing by (h, w) removes nearly all
        # per-cell index arithmetic from the hot path
        bins = Recognizer._POOL_BINS.get((h, w))
        if bins is None:
            unit = h / GLYPH_H
            gw = int(np.clip(np.rint(w / unit), 1, GLYPH_W))
            ystarts = np.minimum((np.arange(GLYPH_H) * h + GLYPH_H - 1) // GLYPH_H, h - 1)
            xstarts = np.minimum((np.arange(gw) * w + gw - 1) // gw, w - 1)
            ycnt = np.maximum(np.diff(np.append(ystarts, h)), 1)
            xcnt = np.maximum(np.diff(np.append(xstarts, w)), 1)
            area = np.outer(ycnt, xcnt).astype(np.float32)
            off = (GLYPH_W - gw) // 2
            if len(Recognizer._POOL_BINS) > 4096:
                Recognizer._POOL_BINS.clear()
            bins = Recognizer._POOL_BINS[(h, w)] = (ystarts, xstarts, area, slice(off, off + gw))
        ystarts, xstarts, area, cols = bins
        # mean-pool via reduceat on contiguous bin boundaries (bins are
        # monotone by construction, ~10x cheaper than scatter-add)
        pooled = np.add.reduceat(np.add.reduceat(c, ystarts, axis=0), xstarts, axis=1)
        if out is None:
            out = np.zeros((GLYPH_H, GLYPH_W), dtype=np.float32)
        np.divide(pooled, area, out=out[:, cols])
        return out

    @staticmethod
    def _cell_y_extents(
        line: np.ndarray, col_runs: list[tuple[int, int]]
    ) -> tuple[np.ndarray, np.ndarray]:
        """Per-char-run tight y-extents for a whole line at once.

        Every column inside a run has ink (runs are maximal ink-column
        runs), so the per-column first/last ink rows come from two bool
        argmax scans, and per-run extents from one min/max reduceat over
        the interleaved run boundaries — the odd (gap) segments land on
        the appended sentinels and are discarded. Replaces the r1-r4
        per-WORD float32 cumsum (2.5x the memory traffic, repeated for
        every word on the line); outputs are integer row indices, so
        bit-exactness of the downstream pooling is trivial (verified on a
        2000-case sweep + goldens).
        """
        h = line.shape[0]
        colmin = line.argmax(axis=0)
        colmax = h - 1 - line[::-1].argmax(axis=0)
        cm = np.append(colmin, h)  # sentinels: only gap segments reach them
        cxm = np.append(colmax, -1)
        bounds = np.asarray(col_runs, dtype=np.int64).ravel()
        y0s = np.minimum.reduceat(cm, bounds)[::2]
        y1s = np.maximum.reduceat(cxm, bounds)[::2] + 1
        return y0s, y1s

    @staticmethod
    def _downsample_cells(
        line: np.ndarray,
        grp: list[tuple[int, int]],
        y01: tuple[np.ndarray, np.ndarray],
    ) -> np.ndarray:
        """All char cells of one word at once (x-crop free: column runs
        are maximal ink runs), y-extents precomputed per line
        (``_cell_y_extents``). The word's columns become float32 in one
        copy and each cell pools straight into its output slot (a per-cell
        copy and a 7x5 temporary cost 26-55 of 155-215 us/img).

        The loop over cells stays: pooling a whole line or image in one
        vectorized pass is bit-identical but measured 10-25% slower on
        recognize (1.12-1.28 -> 1.29-1.53 ms/img) — at ~15 cells per image
        numpy's per-call overhead is the floor either way."""
        a0 = grp[0][0]
        word = line[:, a0 : grp[-1][1]].astype(np.float32)
        out = np.zeros((len(grp), GLYPH_H, GLYPH_W), dtype=np.float32)
        for k, (a, b), y0, y1 in zip(range(len(grp)), grp, y01[0].tolist(), y01[1].tolist()):
            Recognizer._pool(word[y0:y1, a - a0 : b - a0], out[k])
        return out

    def recognize(self, img: np.ndarray) -> list[WordBox]:
        """Full pipeline on a grayscale image -> word boxes in reading order."""
        thresh, _mid = otsu_stats(img)
        mask = img <= thresh
        ys, xs = ink_coords(mask)  # computed once; shared with the skew search
        if ys.size == 0:
            return []
        angle = estimate_skew(mask, ink=(ys, xs))
        if angle != 0:
            # Deskew by scatter-rotating the INK COORDINATES directly:
            # O(ink) instead of resampling the full grayscale crop
            # (formerly a bilinear rotate + re-threshold, ~2x the whole
            # recognizer's cost on skewed images). The NN staircase this
            # introduces does not perturb the mean-pooled 7x5 cells enough
            # to move any argmax — verified 0 errors on a 3000-case
            # skew x wordcount x noise sweep plus the all-letters sweep.
            h, w = mask.shape
            a = np.deg2rad(angle)
            cos_a, sin_a = np.cos(a), np.sin(a)
            cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
            xr = xs - cx
            yr = ys - cy
            xd = np.rint(cos_a * xr + sin_a * yr + cx).astype(np.int64)
            yd = np.rint(-sin_a * xr + cos_a * yr + cy).astype(np.int64)
            # in range <=> below the bound on the unsigned view (negatives
            # wrap to huge); then scatter through flat indices
            ok = xd.view(np.uint64) < w
            ok &= yd.view(np.uint64) < h
            yd *= w
            yd += xd
            mask = np.zeros_like(mask)
            mask.ravel()[yd[ok]] = True

        words: list[WordBox] = []
        for y0, y1 in _runs(mask.any(axis=1)):  # text lines
            line = mask[y0:y1]
            col_runs = _runs(line.any(axis=0))  # connected char components
            if not col_runs:
                continue
            y0s, y1s = self._cell_y_extents(line, col_runs)  # once per LINE
            # group char runs into words by gap width (indices into col_runs)
            groups: list[list[int]] = [[0]]
            for k in range(1, len(col_runs)):
                if col_runs[k][0] - col_runs[k - 1][1] >= _WORD_GAP_MIN:
                    groups.append([k])
                else:
                    groups[-1].append(k)
            for grp in groups:
                cells = self._downsample_cells(
                    line,
                    [col_runs[k] for k in grp],
                    (y0s[grp[0] : grp[-1] + 1], y1s[grp[0] : grp[-1] + 1]),
                )
                chars, scores = self._match_chars(cells)
                conf = min(max(float(scores.min()), 0.0), 1.0) * 100.0
                words.append(
                    WordBox(
                        text="".join(chars),
                        left=int(col_runs[grp[0]][0]),
                        top=int(y0),
                        right=int(col_runs[grp[-1]][1]),
                        bottom=int(y1),
                        confidence=round(conf, 2),
                    )
                )
        return words
