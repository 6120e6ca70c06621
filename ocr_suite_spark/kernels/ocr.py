"""The recognizer kernel: grayscale -> Otsu -> deskew -> segmentation ->
glyph template matching.

This is the from-scratch, numpy-vectorized stand-in for the reference's
Tesseract provider (/root/reference src/recognition/provider/tesseract.cpp):
word-level iteration (RIL_WORD, tesseract.cpp:98-99), per-word bbox +
confidence (tesseract.cpp:102-106), deterministic output as a pure function
of pixel content. Expensive state (the template bank) is built once per
``Recognizer`` instance — once per task in the Spark UDF, mirroring the
reference's per-thread Tesseract instance (main.cpp:136-177).
"""

from __future__ import annotations

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
    ys, xs = ink if ink is not None else np.nonzero(mask)
    if ys.size == 0:
        return 0
    if ys.size > 2048:
        step = ys.size // 2048 + 1
        ys = ys[::step]
        xs = xs[::step]
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    xr = xs - cx
    yr = ys - cy
    # All candidate rotations in ONE batch: dest rows as a (n_angles, n_ink)
    # matrix, out-of-range pixels routed to a per-angle trash bin (row h,
    # sliced off — same exclusion as the old per-angle filter), then a
    # single offset-encoded bincount yields every profile at once. Counts,
    # variances and the argmax are bit-identical to the per-angle loop
    # (test_estimate_skew_exact + the skew/letter roundtrip sweeps).
    rad = np.deg2rad(np.asarray(candidates, dtype=np.float64))
    yd = np.rint(
        np.outer(-np.sin(rad), xr) + np.outer(np.cos(rad), yr) + cy
    ).astype(np.int64)
    yd[(yd < 0) | (yd >= h)] = h  # trash bin
    hh = h + 1
    offs = (np.arange(len(candidates)) * hh)[:, None]
    prof = (
        np.bincount((yd + offs).ravel(), minlength=len(candidates) * hh)
        .reshape(len(candidates), hh)[:, :h]
        .astype(np.float64)
    )
    scores = prof.var(axis=1)
    best = max(
        range(len(candidates)),
        key=lambda i: (scores[i], -abs(candidates[i]), -candidates[i]),
    )
    return int(candidates[best])


def _runs(flags: np.ndarray) -> list[tuple[int, int]]:
    """Contiguous True runs as [start, end) index pairs."""
    idx = np.flatnonzero(flags)
    if idx.size == 0:
        return []
    splits = np.flatnonzero(np.diff(idx) > 1)
    starts = np.concatenate(([idx[0]], idx[splits + 1]))
    ends = np.concatenate((idx[splits] + 1, [idx[-1] + 1]))
    return list(zip(starts.tolist(), ends.tolist()))


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
        """cells: (n, 7, 5) mean-ink grids -> (chars, cosine scores)."""
        flat = cells.reshape(len(cells), -1).astype(np.float32)
        norms = np.linalg.norm(flat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        scores = (flat / norms) @ self._tmpl.T  # (n, n_glyphs)
        best = np.argmax(scores, axis=1)
        return [ALPHABET[i] for i in best], scores[np.arange(len(best)), best]

    @staticmethod
    def _downsample(cell: np.ndarray) -> np.ndarray:
        """Tight-crop a char cell and mean-pool it onto the 7x5 glyph grid.

        Aspect-preserving: glyph cells are square, so the pixel-per-cell unit
        comes from the crop *height* (all glyphs are full 7 rows tall); a
        narrower glyph (e.g. 'i', 3 units wide) is centered in the 5-wide
        grid instead of being stretched — stretching erases the width cue
        that distinguishes 'i' from 't'.
        """
        ys = np.flatnonzero(cell.any(axis=1))
        xs = np.flatnonzero(cell.any(axis=0))
        if ys.size == 0 or xs.size == 0:
            return np.zeros((GLYPH_H, GLYPH_W), dtype=np.float32)
        c = cell[ys[0] : ys[-1] + 1, xs[0] : xs[-1] + 1].astype(np.float32)
        return Recognizer._pool(c)

    _POOL_BINS: dict[tuple[int, int], tuple] = {}

    @staticmethod
    def _pool(c: np.ndarray) -> np.ndarray:
        """Mean-pool a tight float32 crop onto the centered 7x5 glyph grid."""
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
            if len(Recognizer._POOL_BINS) > 4096:
                Recognizer._POOL_BINS.clear()
            bins = Recognizer._POOL_BINS[(h, w)] = (gw, ystarts, xstarts, area)
        gw, ystarts, xstarts, area = bins
        # mean-pool via reduceat on contiguous bin boundaries (bins are
        # monotone by construction, ~10x cheaper than scatter-add)
        pooled = np.add.reduceat(np.add.reduceat(c, ystarts, axis=0), xstarts, axis=1)
        pooled /= area
        out = np.zeros((GLYPH_H, GLYPH_W), dtype=np.float32)
        off = (GLYPH_W - gw) // 2
        out[:, off : off + gw] = pooled
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
        y01: tuple[np.ndarray, np.ndarray] | None = None,
    ) -> np.ndarray:
        """All char cells of one word at once (x-crop free: column runs
        are maximal ink runs). y-extents come precomputed per line
        (``_cell_y_extents``) or are derived here for standalone calls."""
        y0s, y1s = y01 if y01 is not None else Recognizer._cell_y_extents(line, grp)
        out = np.zeros((len(grp), GLYPH_H, GLYPH_W), dtype=np.float32)
        for k, (a, b) in enumerate(grp):
            out[k] = Recognizer._pool(
                line[int(y0s[k]) : int(y1s[k]), a:b].astype(np.float32)
            )
        return out

    def recognize(self, img: np.ndarray) -> list[WordBox]:
        """Full pipeline on a grayscale image -> word boxes in reading order."""
        thresh, _mid = otsu_stats(img)
        mask = img <= thresh
        ys, xs = np.nonzero(mask)  # computed once; shared with the skew search
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
            cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
            xr = xs - cx
            yr = ys - cy
            xd = np.rint(np.cos(a) * xr + np.sin(a) * yr + cx).astype(np.int64)
            yd = np.rint(-np.sin(a) * xr + np.cos(a) * yr + cy).astype(np.int64)
            ok = (xd >= 0) & (xd < w) & (yd >= 0) & (yd < h)
            mask = np.zeros_like(mask)
            mask[yd[ok], xd[ok]] = True

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
                conf = float(np.clip(scores.min(), 0.0, 1.0) * 100.0)
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
