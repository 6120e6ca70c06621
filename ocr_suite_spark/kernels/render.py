"""Synthetic media: render / encode / decode.

`media_ref` fully encodes the media content, e.g.

    img://v1/fast_merge_scan?skew=4&noise=17

so media bytes never need to live in the documents table — the resolver
renders them deterministically (grayscale canvas, glyph text, rotation by
`skew` degrees, seeded pixel noise). This mirrors the reference, where a
frame's OCR output is a pure function of the decoded pixel buffer
(/root/reference src/ffmpeg/decoder.cpp:213-244 produces the buffer;
tesseract.cpp consumes it).

The byte container is a trivial private format (magic + u16 h/w + raw
grayscale). Real PNG/JPEG/video-frame decode would slot in behind
``decode_image`` — see the NotImplementedError branch (codec libs are not
available in this environment; the Spark-side plumbing is identical).

``resolve_media`` costs 0.34-0.36 ms/img single-thread (4-vCPU Xeon VM),
most of it the seeded int16 noise draw and the rotation gather; its
bytes are pinned by test_kernels.test_kernel_outputs_frozen.
"""

from __future__ import annotations

import re
import struct
import threading

import numpy as np

from .font import GLYPH_H, GLYPH_W, GLYPHS

MAGIC = b"OCSIMG1\x00"
SCALE = 3  # glyph upscaling factor (2 is too coarse to survive skew round-trips)
CHAR_GAP = 2 * SCALE  # px between chars
WORD_GAP = 8 * SCALE  # px between words (must exceed char gap for segmentation)
INK = 30  # foreground gray level
PAPER = 220  # background gray level
NOISE_AMP = 15  # +/- uniform noise on background

# Discrete skew set shared by renderer and deskew search (degrees).
SKEW_SET = (-8, -6, -4, -2, 0, 2, 4, 6, 8)

_REF_RE = re.compile(r"^img://v1/([a-z_]+)\?skew=(-?\d+)&noise=(\d+)$")


def make_media_ref(words: list[str], skew: int, noise: int) -> str:
    assert all(re.fullmatch(r"[a-z]+", w) for w in words), words
    assert skew in SKEW_SET, skew
    return f"img://v1/{'_'.join(words)}?skew={skew}&noise={noise}"


def parse_media_ref(ref: str) -> tuple[list[str], int, int]:
    m = _REF_RE.match(ref)
    if not m:
        raise ValueError(f"unrecognized media_ref: {ref!r}")
    return m.group(1).split("_"), int(m.group(2)), int(m.group(3))


# Gather-index memo for rotate_nn, keyed on (h, w, deg): the source-pixel
# mapping is a pure function of shape + angle, and canvas shapes cluster
# (word-count x word-length-sum x skew combinations — the sf0.1 corpus has
# 554 distinct keys, ~86 MB fully populated at 4 B/pixel). The cap holds
# the whole working set and eviction is FIFO-single, not clear-all: the
# original 128-entry clear-all cap THRASHED on the real corpus (working
# set > cap wiped the dict every 128 misses — measured 1.24x slower on
# the real ref stream). ~90 MB/worker worst case; at 32 workers that is
# ~2.9 GB of a 128 GiB box, and a memory-tight deployment lowers the cap
# rather than reverting to clear-all.
_ROT_IDX: dict[tuple[int, int, float], np.ndarray] = {}
_ROT_IDX_CAP = 512


def _rot_nn_index(h: int, w: int, deg: float) -> np.ndarray:
    """Flat gather indices into the image with one fill slot appended:
    a destination pixel whose source falls outside reads index h*w."""
    key = (h, w, float(deg))
    cached = _ROT_IDX.get(key)
    if cached is None:
        theta = np.deg2rad(deg)
        cos_t, sin_t = np.float64(np.cos(theta)), np.float64(np.sin(theta))
        cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
        # broadcasted inverse-rotation source coords (float64 for stable
        # rint, int32 indices, no meshgrid materialization)
        xx = np.arange(w, dtype=np.float64)[None, :] - cx
        yy = np.arange(h, dtype=np.float64)[:, None] - cy
        # (r5 note: an in-place `sx += cx; np.rint(sx, out=sx)` rewrite of
        # these two lines measured 1.4x SLOWER at function level — numpy's
        # rint-with-out dispatch loses to the expression form — so the
        # one-liners stay; only the invalid-mask accumulation below was
        # kept from that attempt. Interleaved A/B in BENCH.md r5.)
        xi = np.rint(cos_t * xx + sin_t * yy + cx).astype(np.int32)
        yi = np.rint(-sin_t * xx + cos_t * yy + cy).astype(np.int32)
        invalid = xi < 0
        np.logical_or(invalid, xi >= w, out=invalid)
        np.logical_or(invalid, yi < 0, out=invalid)
        np.logical_or(invalid, yi >= h, out=invalid)
        flat = yi * np.int32(w)
        flat += xi  # flat gather indices, (h, w)
        flat[invalid] = h * w  # the fill slot
        if len(_ROT_IDX) > _ROT_IDX_CAP:
            _ROT_IDX.pop(next(iter(_ROT_IDX)))  # FIFO: evict oldest entry
        cached = _ROT_IDX[key] = flat
    return cached


def rotate_nn(img: np.ndarray, deg: float, fill: int | float = PAPER) -> np.ndarray:
    """Nearest-neighbor rotation about the image center (same output size).

    Inverse-mapped and fully vectorized; deterministic across platforms.
    The gather indices are memoized per (shape, angle) — recomputing them
    was ~45% of the whole render path (BENCH.md r3 kernel profile). Pixels
    whose source lies outside read a fill slot appended to the source, so
    one gather does the whole rotation (a separate masked fill was 14 of
    59 us/img)."""
    if deg == 0:
        return img.copy()
    h, w = img.shape
    src = np.empty(h * w + 1, dtype=img.dtype)
    src[:-1] = img.ravel()
    src[-1] = fill
    return np.take(src, _rot_nn_index(h, w, deg))  # == img[yi, xi] inside


_SCALED_GLYPHS: dict[str, np.ndarray] = {
    ch: np.kron(g, np.ones((SCALE, SCALE), dtype=bool)) for ch, g in GLYPHS.items()
}


# Ink mask per word, built once: a vocabulary of a few dozen words
# recurs across every image, and one block copy per word replaces one per
# char (25 -> 8 us/img). Entries are read-only.
_WORD_INK: dict[str, np.ndarray] = {}


def _word_ink(word: str) -> np.ndarray:
    ink = _WORD_INK.get(word)
    if ink is None:
        char_w = GLYPH_W * SCALE
        ink = np.zeros((GLYPH_H * SCALE, len(word) * (char_w + CHAR_GAP) - CHAR_GAP), dtype=bool)
        for i, ch in enumerate(word):
            x = i * (char_w + CHAR_GAP)
            ink[:, x : x + char_w] = _SCALED_GLYPHS[ch]
        if len(_WORD_INK) > 4096:
            _WORD_INK.clear()
        _WORD_INK[word] = ink
    return ink


def _draw_words(words: list[str]) -> np.ndarray:
    """Render words on one text line as a boolean ink mask (no margins)."""
    inks = [_word_ink(w) for w in words]
    total_w = sum(ink.shape[1] for ink in inks) + WORD_GAP * (len(words) - 1)
    mask = np.zeros((GLYPH_H * SCALE, total_w), dtype=bool)
    x = 0
    for ink in inks:
        mask[:, x : x + ink.shape[1]] = ink
        x += ink.shape[1] + WORD_GAP
    return mask


# One legacy RandomState per thread, re-seeded per image. Constructing
# ``np.random.RandomState(seed)`` first seeds a fresh MT19937 from OS
# entropy (a SeedSequence) and only then legacy-seeds it: 169 us of a
# 411 us render. ``.seed(seed)`` on a kept generator is the same legacy
# seeding (same stream) for ~3-5 us; thread-local because a RandomState
# is not safe to share between threads rendering at once. The int16
# ``randint`` draw itself stays: replicating it from raw 32-bit draws is
# identical but slower (109 -> 144 us).
_RNG = threading.local()


def _noise_rng(seed: int) -> np.random.RandomState:
    rng = getattr(_RNG, "rng", None)
    if rng is None:
        rng = _RNG.rng = np.random.RandomState(0)
    rng.seed(seed)
    return rng


def render_image(words: list[str], skew: int, noise: int) -> np.ndarray:
    """Deterministic grayscale uint8 image containing `words`, rotated by
    `skew` degrees, with seeded background noise."""
    ink = _draw_words(words)
    h, w = ink.shape
    # Margins sized so THIS skew never clips ink: displacement <= r * tan(|deg|).
    tan_s = np.tan(np.deg2rad(abs(skew)))
    pad_y = int(np.ceil(w / 2 * tan_s)) + 4
    pad_x = int(np.ceil(h / 2 * tan_s)) + 4
    canvas = np.full((h + 2 * pad_y, w + 2 * pad_x), PAPER, dtype=np.uint8)
    inner = canvas[pad_y : pad_y + h, pad_x : pad_x + w]
    inner -= ink.view(np.uint8) * np.uint8(PAPER - INK)  # PAPER -> INK on ink
    canvas = rotate_nn(canvas, skew, fill=PAPER)
    rng = _noise_rng(noise % (2**31))  # legacy RandomState: frozen algorithm
    # the int16 draw IS the frozen stream; the add runs in uint8, where the
    # wrapped jitter gives the exact sum because PAPER +/- NOISE_AMP stays
    # inside 0..255 (half the passes of an int16 masked add: 52 -> 23 us/img)
    jitter = rng.randint(-NOISE_AMP, NOISE_AMP + 1, size=canvas.shape, dtype=np.int16)
    jitter8 = jitter.astype(np.uint8)
    jitter8 *= canvas == PAPER
    canvas += jitter8
    return canvas


def encode_image(img: np.ndarray) -> bytes:
    h, w = img.shape
    return MAGIC + struct.pack("<HH", h, w) + img.tobytes()


def decode_image(data: bytes) -> np.ndarray:
    """Decode media bytes to a grayscale array.

    Only the private OCSIMG1 container is implemented here; PNG/JPEG/video
    frames would be decoded by a codec library at this exact seam.
    """
    if not data.startswith(MAGIC):
        # STUB: real-codec decode requires image/video libs absent from this
        # environment. The pipeline treats bytes as opaque until this point.
        raise NotImplementedError("only OCSIMG1 synthetic container supported")
    h, w = struct.unpack_from("<HH", data, len(MAGIC))
    arr = np.frombuffer(data, dtype=np.uint8, offset=len(MAGIC) + 4)
    return arr.reshape(h, w)


def resolve_media(ref: str) -> bytes:
    """media_ref -> encoded bytes (the 'fetch + demux' stand-in)."""
    words, skew, noise = parse_media_ref(ref)
    return encode_image(render_image(words, skew, noise))


# ---------------------------------------------------------------------------
# S12 — debug bitmap sink format: real 8-bit grayscale BMP
# (BITMAPFILEHEADER + BITMAPINFOHEADER + 256-entry gray palette, rows
# bottom-up and 4-byte padded — the standard Windows DIB layout). The
# reference dumps intermediate recognition stages as .bmp for debugging
# (/root/reference src/recognition/bmp.cpp:52-87); these files open in any
# image viewer.

_BMP_HDR_SIZE = 14 + 40 + 256 * 4  # file header + info header + palette


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 grayscale array -> valid 8bpp BMP bytes."""
    assert img.dtype == np.uint8 and img.ndim == 2, (img.dtype, img.shape)
    h, w = img.shape
    row_size = (w + 3) & ~3  # rows padded to 4 bytes
    file_size = _BMP_HDR_SIZE + row_size * h
    file_hdr = b"BM" + struct.pack("<IHHI", file_size, 0, 0, _BMP_HDR_SIZE)
    info_hdr = struct.pack(
        "<IiiHHIIiiII",
        40, w, h,          # header size, width, height (positive = bottom-up)
        1, 8,              # planes, bits per pixel
        0, row_size * h,   # BI_RGB (uncompressed), image size
        2835, 2835,        # 72 DPI in px/m
        256, 0,            # palette entries, all important
    )
    palette = bytes(v for i in range(256) for v in (i, i, i, 0))  # BGRA gray ramp
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, :w] = img[::-1]  # bottom-up scanline order
    return file_hdr + info_hdr + palette + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """Parse the 8bpp grayscale BMP subset encode_bmp writes."""
    assert data[:2] == b"BM", "not a BMP"
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    _, w, h, _, bpp = struct.unpack_from("<IiiHH", data, 14)
    assert bpp == 8 and h > 0, (bpp, h)
    row_size = (w + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, offset=pixel_offset).reshape(h, row_size)
    return rows[::-1, :w].copy()
