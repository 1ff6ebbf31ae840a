"""Deterministic OCR kernel: binarize -> deskew -> CC line segmentation -> decode.

Pure numpy re-expression of the reference's extraction semantics
(north_rule: "Tesseract-style LSTM recognition kernel (binarize, deskew,
connected-component line segmentation, beam-decode)"); the individual
stages mirror the reference's image-processor kernels:

  * median denoise   ~ `image_processor/main.py:209-212` (medianBlur k=5)
  * binarize         ~ `image_processor/main.py:214-229` (adaptive/fixed)
  * deskew           ~ projection-profile search (reference relies on the
                       detector nets being rotation-tolerant; here skew is
                       synthetic and bounded, see datagen)
  * CC segmentation  ~ `image_processor/main.py:245-251` (contour+bbox) and
                       `detection_craft/main.py:113-166` (row grouping +
                       in-row merge)
  * greedy decode    ~ `engine_realtime/recognizer_crnn.py:42-59` (argmax
                       per step against a fixed charset)

Everything is a pure function of the input bytes — no models, no state —
so it is safe (and cheap) inside an Arrow-batched Python UDF.
"""

from __future__ import annotations

import functools

import numpy as np

from .glyphs import (
    ADVANCE,
    ALPHABET,
    BG,
    GLYPH_H,
    GLYPH_W,
    KANA_ALPHABET,
    SCALE,
    SPACE_EXTRA,
    glyph_bitmap,
    glyph_template,
)

# Candidate skew grid — matches the generator's rotation grid (datagen).
SKEW_GRID = np.arange(-3.0, 3.01, 0.5)
# Candidate x-shear grid (keystone/italic distortion; reference normalizes
# rotated quads with a 4-pt perspective warp, `engine_realtime/
# recognizer_crnn.py:15-40` — bounded affine shear is the deterministic
# analog).  0 first: strict-> search keeps no-shear on ties.
SHEAR_GRID = (0.0, -0.08, -0.06, -0.04, -0.02, 0.02, 0.04, 0.06, 0.08)
_BIN_TH = 128


def rotate_nn(img: np.ndarray, deg: float, fill: int = BG) -> np.ndarray:
    """Nearest-neighbor rotation about the image center, canvas expanded."""
    if abs(deg) < 1e-9:
        return img.copy()
    th = np.deg2rad(deg)
    c, s = np.cos(th), np.sin(th)
    h, w = img.shape
    nh = int(np.ceil(abs(h * c) + abs(w * s)))
    nw = int(np.ceil(abs(w * c) + abs(h * s)))
    yy, xx = np.mgrid[0:nh, 0:nw]
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    ncy, ncx = (nh - 1) / 2.0, (nw - 1) / 2.0
    # inverse map: output px -> source px
    sx = c * (xx - ncx) + s * (yy - ncy) + cx
    sy = -s * (xx - ncx) + c * (yy - ncy) + cy
    sxi = np.rint(sx).astype(np.int64)
    syi = np.rint(sy).astype(np.int64)
    ok = (sxi >= 0) & (sxi < w) & (syi >= 0) & (syi < h)
    out = np.full((nh, nw), fill, dtype=img.dtype)
    out[ok] = img[syi[ok], sxi[ok]]
    return out


def _sample_bilinear(
    img: np.ndarray, inv: np.ndarray, nh: int, nw: int, fill: int
) -> np.ndarray:
    """Bilinear resample of `img` onto an nh x nw canvas with the same
    center: output px (x, y) reads source px `inv @ (x - ncx, y - ncy)`
    plus the source center, where `inv` is the float32 2x2 inverse map;
    reads outside the source blend with `fill`.  Shared by
    `rotate_bilinear` and `warp_bilinear`."""
    h, w = img.shape
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    ncy, ncx = (nh - 1) / 2.0, (nw - 1) / 2.0
    # float32 throughout + broadcasted row/col terms (no materialized grid):
    # halves the memory traffic of the float64/mgrid formulation
    ys = np.arange(nh, dtype=np.float32) - np.float32(ncy)
    xs = np.arange(nw, dtype=np.float32) - np.float32(ncx)
    sx = inv[0, 0] * xs[None, :] + inv[0, 1] * ys[:, None] + np.float32(cx)
    sy = inv[1, 0] * xs[None, :] + inv[1, 1] * ys[:, None] + np.float32(cy)
    x0 = np.floor(sx).astype(np.int32)
    y0 = np.floor(sy).astype(np.int32)
    fx = sx - x0
    fy = sy - y0
    pad = np.full((h + 2, w + 2), np.float32(fill), dtype=np.float32)
    pad[1 : h + 1, 1 : w + 1] = img
    ok = (x0 >= -1) & (x0 <= w - 1) & (y0 >= -1) & (y0 <= h - 1)
    x0c = np.clip(x0 + 1, 0, w)
    y0c = np.clip(y0 + 1, 0, h)
    # flat gathers on precomputed indices + reused (1-f) factors: ~2x
    # fewer index computations than four 2-D fancy indexes; the blend
    # keeps the exact multiply order of the original expression, so the
    # result is bit-identical (round 8)
    flat = pad.ravel()
    idx = y0c * (w + 2) + x0c
    gx = 1 - fx
    gy = 1 - fy
    v = (
        flat[idx] * gx * gy
        + flat[idx + 1] * fx * gy
        + flat[idx + (w + 2)] * gx * fy
        + flat[idx + (w + 3)] * fx * fy
    )
    out = np.full((nh, nw), np.float32(fill), dtype=np.float32)
    out[ok] = v[ok]
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def rotate_bilinear(img: np.ndarray, deg: float, fill: int = BG) -> np.ndarray:
    """Bilinear rotation about the image center, canvas expanded.

    Used for grayscale images (generation skew + deskew correction) —
    antialiased edges survive the rotate/deskew round trip far better than
    nearest-neighbor, which is what keeps template matching exact.
    """
    if abs(deg) < 1e-9:
        return img.copy()
    th = np.deg2rad(deg)
    c, s = np.cos(th), np.sin(th)
    h, w = img.shape
    nh = int(np.ceil(abs(h * c) + abs(w * s)))
    nw = int(np.ceil(abs(w * c) + abs(h * s)))
    # inverse map: output px -> source px
    inv = np.array([[c, s], [-s, c]], dtype=np.float32)
    return _sample_bilinear(img, inv, nh, nw, fill)


def affine_matrix(deg: float, shear: float) -> np.ndarray:
    """Forward transform R(deg) @ S(shear) about the image center, where
    S is the x-shear [[1, shear], [0, 1]] acting on (x, y) columns."""
    th = np.deg2rad(deg)
    c, s = np.cos(th), np.sin(th)
    rot = np.array([[c, -s], [s, c]])
    sh = np.array([[1.0, shear], [0.0, 1.0]])
    return rot @ sh


def warp_bilinear(img: np.ndarray, mat: np.ndarray, fill: int = BG) -> np.ndarray:
    """General 2x2 affine warp about the image center (bilinear, canvas
    expanded to the transformed bounding box).  `mat` maps source -> dest
    coordinates as column vectors (x, y)."""
    h, w = img.shape
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    corners = np.array([[-cx, -cx, cx, cx], [-cy, cy, -cy, cy]])
    tc = mat @ corners
    nw = int(np.ceil(tc[0].max() - tc[0].min())) + 1
    nh = int(np.ceil(tc[1].max() - tc[1].min())) + 1
    return _sample_bilinear(img, np.linalg.inv(mat).astype(np.float32), nh, nw, fill)


def median3(img: np.ndarray) -> np.ndarray:
    """3x3 median filter (edge-replicated) — kills salt-and-pepper noise.

    Exact median of 9 via the classic 19-exchange min/max network (Paeth,
    Graphics Gems) on uint8 planes — the median of nine integers is a
    unique value, so this is bit-identical to the former
    np.partition(stack)[4] while avoiding the 9xHxW stack materialization
    and the partition's data movement (round 8; the kernel is
    memory-bandwidth-bound at high core counts).
    """
    p = np.pad(img, 1, mode="edge")
    h, w = img.shape
    v = [p[dy : dy + h, dx : dx + w] for dy in range(3) for dx in range(3)]

    def ex(a: int, b: int) -> None:
        lo = np.minimum(v[a], v[b])
        v[b] = np.maximum(v[a], v[b])
        v[a] = lo

    for a, b in (
        (1, 2), (4, 5), (7, 8), (0, 1), (3, 4), (6, 7), (1, 2), (4, 5),
        (7, 8), (0, 3), (5, 8), (4, 7), (3, 6), (1, 4), (2, 5), (4, 7),
        (4, 2), (6, 4), (4, 2),
    ):
        ex(a, b)
    return v[4]


def binarize(img: np.ndarray, th: int = _BIN_TH) -> np.ndarray:
    """Bool ink mask (True where dark)."""
    return img < th


def estimate_skew(mask: np.ndarray, grid: np.ndarray = SKEW_GRID) -> float:
    """Projection-profile skew estimate -> correction angle.

    Rotates only the ink *coordinates* per candidate angle and scores the
    squared row-histogram (text lines aligned -> maximal profile energy).
    O(#ink * #angles), no image resampling.  Returns the angle to pass to
    ``rotate_nn`` directly (i.e. the correction, not the applied skew).
    """
    # flat indices split by the row length: np.nonzero's row-major
    # coordinates at a fraction of its cost on 2-D masks
    flat = np.flatnonzero(mask)
    if len(flat) == 0:
        return 0.0
    if len(flat) > 6000:  # deterministic stride sample bounds the O(#ink * #angles) cost
        flat = flat[:: len(flat) // 6000 + 1]
    ys = flat // mask.shape[1]
    xs = flat - ys * mask.shape[1]
    # exact integer sums: the same float64 means as ys.mean(), xs.mean()
    cy, cx = ys.sum() / len(ys), xs.sum() / len(xs)
    xs32 = (xs - cx).astype(np.float32)
    ys32 = (ys - cy).astype(np.float32)
    # every candidate at once: rotated rows (-s*x + c*y) and columns
    # (c*x + s*y) of all angles as one (2 * angles, ink) float32 array --
    # the same elementwise float32 products as one angle at a time -- and
    # one bincount with a bin range per (angle, axis).  One fixed offset
    # bounds every rotated coordinate (|yr| <= |x|+|y|); extra zero bins
    # add nothing to the squared profile energy.  Scores are sums of
    # integer squares, so they are exact and argmax keeps the first
    # maximum in grid order.  Rows dominate (line alignment); columns
    # break ties on short single-line text where the row profile is weakly
    # discriminative.
    off = int(np.ceil(np.abs(xs32).max() + np.abs(ys32).max())) + 1
    coef_x, coef_y = _SKEW_COEFS if grid is SKEW_GRID else _skew_coefs(grid)
    rot = coef_x * xs32
    rot += coef_y * ys32
    np.rint(rot, out=rot)
    span = 2 * off + 1
    idx = rot.astype(np.intp)
    idx += (np.arange(len(rot)) * span + off)[:, None]
    counts = np.bincount(idx.ravel(), minlength=len(rot) * span).reshape(len(rot), span)
    energy = (counts * counts).sum(axis=1)
    return float(grid[int(np.argmax(energy[: len(grid)] + energy[len(grid) :]))])


def _skew_coefs(grid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """float32 (x, y) coefficients of the rotated rows then columns for
    each candidate correction, as (2 * angles, 1) columns."""
    th = np.deg2rad(-np.asarray(grid, dtype=np.float64))
    c = np.cos(th).astype(np.float32)
    s = np.sin(th).astype(np.float32)
    return np.concatenate((-s, c))[:, None], np.concatenate((c, s))[:, None]


_SKEW_COEFS = _skew_coefs(SKEW_GRID)


def connected_components(mask: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Run-based CC labeling (8-connectivity via run overlap+1), all in
    numpy.

    Returns component bounding boxes as (x1, y1, x2, y2) exclusive-end,
    in order of each component's first run (row-major).  Equivalent role
    to cv2.connectedComponents in the reference
    (`image_processor/main.py:292-305`).
    """
    h, w = mask.shape
    # vectorized run extraction: one diff over the whole zero-padded mask
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    d = np.diff(padded, axis=1)
    srow, scol = np.nonzero(d == 1)  # run starts, row-major order
    _, ecol = np.nonzero(d == -1)  # run ends (exclusive), same count/rows
    n = len(srow)
    if n == 0:
        return []
    # run-overlap edges for all row pairs at once.  Keys row * (w + 2) +
    # col are sorted in run order, so two binary searches give, for each
    # run, the contiguous range of previous-row runs it touches: prev
    # ecol >= s .. prev scol >= e + 1 (8-connectivity).
    stride = w + 2
    skey = srow * stride + scol
    ekey = srow * stride + ecol
    prev_row = (srow - 1) * stride
    lo = np.searchsorted(ekey, prev_row + scol, "left")
    hi = np.searchsorted(skey, prev_row + ecol + 1, "left")
    cnt = np.maximum(hi - lo, 0)
    cur = np.repeat(np.arange(n), cnt)
    prev = lo[cur] + np.arange(len(cur)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    # labels: every run ends with the smallest run index of its component.
    # Each round hooks the larger label of every edge onto the smaller one,
    # then pointer jumping flattens the label forest (labels only ever
    # point to smaller indices).
    label = np.arange(n)
    while len(cur):
        lp, lc = label[prev], label[cur]
        if np.array_equal(lp, lc):
            break
        low = np.minimum(lp, lc)
        np.minimum.at(label, lp, low)
        np.minimum.at(label, lc, low)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
    # per-component bounding boxes via reduceat over label-sorted runs; a
    # label is the component's first run, so label order is emit order
    order = np.argsort(label, kind="stable")
    sl = label[order]
    starts = np.concatenate(([0], np.nonzero(np.diff(sl))[0] + 1))
    x1 = np.minimum.reduceat(scol[order], starts)
    x2 = np.maximum.reduceat(ecol[order], starts)
    y1 = np.minimum.reduceat(srow[order], starts)
    y2 = np.maximum.reduceat(srow[order], starts) + 1
    return list(zip(x1.tolist(), y1.tolist(), x2.tolist(), y2.tolist()))


def _bands_1d(ink: np.ndarray, min_blank: int = 4) -> list[tuple[int, int]]:
    """Ink runs along one axis: [start, end) ranges separated by >=
    min_blank blank positions."""
    bands: list[tuple[int, int]] = []
    r = 0
    h = len(ink)
    while r < h:
        if not ink[r]:
            r += 1
            continue
        start = r
        blank = 0
        while r < h and blank < min_blank:
            blank = blank + 1 if not ink[r] else 0
            r += 1
        bands.append((start, r - blank))
    return bands


def _group_lines(
    mask: np.ndarray, boxes: list[tuple[int, int, int, int]]
) -> list[list[tuple[int, int, int, int]]]:
    """Cluster component boxes into text lines via row-projection bands.

    Same role as the reference's row banding (`detection_craft/main.py:
    113-129`), but driven by the deskewed mask's row-ink profile: line
    bands are ink-row runs separated by >= 4 blank rows (inter-line gap is
    ~9 px at LINE_ADVANCE=10, glyph pieces within a line overlap in y), and
    each component goes to the band of maximal y-overlap.  Robust to
    glyphs split into vertical pieces by the resample round trip.
    """
    if not boxes:
        return []
    bands = _bands_1d(mask.any(axis=1))
    lines: list[list[tuple[int, int, int, int]]] = [[] for _ in bands]
    for b in boxes:
        overlaps = [max(0, min(b[3], be) - max(b[1], bs)) for bs, be in bands]
        lines[int(np.argmax(overlaps))].append(b)
    return [ln for ln in lines if ln]


def _group_columns(
    mask: np.ndarray, boxes: list[tuple[int, int, int, int]]
) -> list[list[tuple[int, int, int, int]]]:
    """Vertical-text analog of _group_lines: column bands on the x-ink
    profile, components assigned by x-overlap, columns ordered RIGHT to
    LEFT (the reference's `ja_vert` reading order, Tesseract psm 5 —
    `/root/reference/src/library/engine_tesseract/main.py:32-70`)."""
    if not boxes:
        return []
    bands = _bands_1d(mask.any(axis=0))
    cols: list[list[tuple[int, int, int, int]]] = [[] for _ in bands]
    for b in boxes:
        overlaps = [max(0, min(b[2], be) - max(b[0], bs)) for bs, be in bands]
        cols[int(np.argmax(overlaps))].append(b)
    return [c for c in reversed(cols) if c]


def is_vertical(mask: np.ndarray) -> bool:
    """Orientation heuristic: vertical text stacks glyphs, so it produces
    MORE row bands than column bands (a horizontal line is one row band
    but one column band per glyph).  Ties read as horizontal."""
    return len(_bands_1d(mask.any(axis=1))) > len(_bands_1d(mask.any(axis=0)))


def _merge_x_overlaps(line: list[tuple[int, int, int, int]]) -> list[tuple[int, int, int, int]]:
    """Merge x-overlapping components of one line into glyph boxes.

    Interval-merge semantics of the reference's in-row merge
    (`detection_craft/main.py:131-166`).  Gap tolerance 2 px: glyph pieces
    broken by the resample round trip sit <= 1 px apart, while the font's
    inter-glyph gap is 2 font px (= 6 device px) minus jitter.
    """
    out: list[list[int]] = []
    for b in sorted(line, key=lambda b: b[0]):
        if out and b[0] < out[-1][2] + 3:
            m = out[-1]
            m[1], m[2], m[3] = min(m[1], b[1]), max(m[2], b[2]), max(m[3], b[3])
        else:
            out.append(list(b))
    return [tuple(m) for m in out]


def _merge_y_overlaps(col: list[tuple[int, int, int, int]]) -> list[tuple[int, int, int, int]]:
    """Vertical analog of _merge_x_overlaps: merge y-overlapping component
    pieces of one column into glyph boxes (vertical inter-glyph gap is
    >= 9 device px; resample-split pieces sit <= 1 px apart)."""
    out: list[list[int]] = []
    for b in sorted(col, key=lambda b: b[1]):
        if out and b[1] < out[-1][3] + 3:
            m = out[-1]
            m[0], m[2], m[3] = min(m[0], b[0]), max(m[2], b[2]), max(m[3], b[3])
        else:
            out.append(list(b))
    return [tuple(m) for m in out]


def _resize_mask_nn(mask: np.ndarray, h: int, w: int) -> np.ndarray:
    ys = np.minimum((np.arange(h) * mask.shape[0] / h).astype(np.int64), mask.shape[0] - 1)
    xs = np.minimum((np.arange(w) * mask.shape[1] / w).astype(np.int64), mask.shape[1] - 1)
    # two axis takes replace np.ix_'s open-mesh fancy index — same gather,
    # less per-call overhead (round 8; this sits inside the per-glyph loop)
    return mask.take(ys, axis=0).take(xs, axis=1)


_POPCNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.int32)


def _build_template_stack(
    alphabet: str = ALPHABET,
) -> tuple[np.ndarray, list[str], np.ndarray, np.ndarray]:
    """Stack of glyph templates at residual-skew variants (-2..+2 deg).

    Deskew on short single-line text can be off by ~1 deg (the projection
    profile ties); matching against lightly rotated templates absorbs it.

    Alongside the bitmaps the stack records, per variant:
      * tall flag — source bitmap's trimmed height >= 6 of 7 font rows
        (caps, digits, ascender lowercase).  Bbox normalization erases
        absolute size, so scale-ambiguous pairs (o/O, s/S, z/Z, c/C …)
        are separated by matching only templates of the size class the
        LINE CONTEXT assigns to the crop (x-height glyphs are ~5/7 the
        height of the line's tallest glyph).
      * aspect (trimmed h/w) — separates shape-degenerate punctuation
        ('.' vs '-' both normalize to solid blocks) via an aspect gate.
    """
    th, tw = GLYPH_H * SCALE, GLYPH_W * SCALE
    stack, chars, tall, aspect = [], [], [], []
    for ch in alphabet:
        bm_rows = np.nonzero(glyph_bitmap(ch).any(axis=1))[0]
        is_tall = (bm_rows.max() - bm_rows.min() + 1) >= 6
        tpl_img = glyph_template(ch)
        for deg in (-2.0, -1.0, 0.0, 1.0, 2.0):
            rot = rotate_nn(tpl_img, deg) if deg else tpl_img
            m = rot < _BIN_TH
            ys, xs = np.nonzero(m)
            m = m[ys.min() : ys.max() + 1, xs.min() : xs.max() + 1]
            stack.append(_resize_mask_nn(m, th, tw))
            chars.append(ch)
            tall.append(is_tall)
            aspect.append(m.shape[0] / m.shape[1])
    return (
        np.stack(stack),
        chars,
        np.array(tall, dtype=bool),
        np.array(aspect, dtype=np.float64),
    )


_ASPECT_GATE = np.log(1.6)  # crop/template aspect must agree within 1.6x


class _Charset:
    """Template stack + derived decode tables for one glyph inventory.

    The decoder is CHARSET-GATED by the routed language (ja/ja_vert ->
    kana, everything else -> Latin) the way the reference loads a model
    per language (`engine_tesseract/main.py:32-70` jpn/jpn_vert,
    `engine_realtime/charset_crnn.py:40,137` CH/CN charsets): glyphs of
    one set never compete with the other's, so adding kana cannot perturb
    Latin-tier decodes.
    """

    def __init__(self, stack, chars, tall, aspect):
        self.stack, self.chars, self.tall, self.aspect = stack, chars, tall, aspect
        self.packed = np.packbits(stack.reshape(len(stack), -1), axis=1)
        self.log_aspect = np.log(aspect)


_ALPHABETS = {"latin": ALPHABET, "kana": KANA_ALPHABET}


@functools.cache
def _charset(name: str) -> _Charset:
    """The decode tables of charset `name` ("latin" | "kana"), built on
    first use: importing the kernel builds no template stack."""
    return _Charset(*_build_template_stack(_ALPHABETS[name]))


# Memo for _decode_glyph: identical crops repeat heavily within a batch
# (fixed glyph set, bounded jitter) — ~50% hit rate on the bench corpus.
# Pure-function memoization; bounded so long-lived executors can't grow it
# unboundedly.
_GLYPH_CACHE: dict[tuple, tuple[str, int]] = {}
_GLYPH_CACHE_MAX = 200_000


def _decode_glyph(
    crop: np.ndarray, cls: str | None = None, charset: str = "latin"
) -> tuple[str, int]:
    """Greedy nearest-template decode (reference's argmax-per-step analog,
    `recognizer_crnn.py:42-59`); returns (char, match distance).

    The resample round trip jitters component boxes by ~1 px, so the crop
    and four 1-px-trimmed variants are all scored against the
    (glyph x residual-skew) template stack; global min wins.  One
    vectorized comparison per variant.  The distance doubles as a decode
    confidence: the shear-retry stage re-decodes only when it is poor.

    `cls` ("tall" | "short" | None) gates candidates to one size class
    (see `_build_template_stack`); within the class an aspect gate drops
    templates whose trimmed h/w disagrees with the crop's by > 1.6x.
    Both gates fall back to wider sets rather than failing, so an
    out-of-model crop still decodes to its nearest glyph.
    """
    key = (crop.shape, cls, charset, crop.tobytes())
    cached = _GLYPH_CACHE.get(key)
    if cached is not None:
        return cached
    cs = _charset(charset)
    cand = np.ones(len(cs.chars), dtype=bool)
    if cls is not None:
        cand = cs.tall if cls == "tall" else ~cs.tall
    aspect_ok = (
        np.abs(np.log(crop.shape[0] / crop.shape[1]) - cs.log_aspect)
        <= _ASPECT_GATE
    )
    gated = cand & aspect_ok
    if not gated.any():
        gated = cand if cand.any() else np.ones(len(cs.chars), dtype=bool)
    idx = np.nonzero(gated)[0]
    packed_tpl = cs.packed[idx]
    th, tw = GLYPH_H * SCALE, GLYPH_W * SCALE
    variants = [crop]
    if crop.shape[0] > 2:
        variants += [crop[1:, :], crop[:-1, :]]
    if crop.shape[1] > 2:
        variants += [crop[:, 1:], crop[:, :-1]]
    best_ch, best_d = "?", 1 << 30
    for v in variants:
        resized = _resize_mask_nn(v, th, tw)
        packed = np.packbits(resized.reshape(-1))
        dists = _POPCNT[np.bitwise_xor(packed[None, :], packed_tpl)].sum(axis=1)
        i = int(np.argmin(dists))
        if int(dists[i]) < best_d:
            best_d, best_ch = int(dists[i]), cs.chars[idx[i]]
        if best_d <= 20:
            # unambiguous: in-class glyph pairs differ by >= ~27 device px
            # (asserted by test_glyph_margin), so a <= 20 match can't be
            # beaten by another char
            break
    if len(_GLYPH_CACHE) >= _GLYPH_CACHE_MAX:
        _GLYPH_CACHE.clear()
    _GLYPH_CACHE[key] = (best_ch, best_d)
    return best_ch, best_d


def _layout_from_mask(
    mask: np.ndarray, mode: str | None = None, charset: str = "latin"
) -> tuple[list[list[tuple[tuple[int, int, int, int], str]]], int, int]:
    """Segment + decode one binary mask; returns (layout, total template
    distance, glyph count) — the distance is the decode-quality signal
    driving the shear retry.

    `mode` forces the layout direction: "vertical" | "horizontal" skip the
    auto-detect (per-document language routing, reference `language`
    request field `-|ja|ja_vert|en`, `/root/reference/src/controller/
    Ocr.ts:37-39`; ja_vert selects Tesseract psm 5 at
    `engine_tesseract/main.py:32-70`).  None = auto-detect, which reads
    SQUARE glyph grids as horizontal (band counts tie) — exactly the case
    routing exists for.
    """
    comps = connected_components(mask)
    # drop specks the median filter let through (reference min-size predicate,
    # `detection_craft/main.py:76-77`)
    comps = [b for b in comps if (b[2] - b[0]) >= 2 and (b[3] - b[1]) >= 2]
    lines_out: list[list[tuple[tuple[int, int, int, int], str]]] = []
    total_d = n_glyphs = 0
    vertical = mode == "vertical" if mode is not None else is_vertical(mask)
    if vertical:
        # vertical tier (reference ja_vert): one space-free word per
        # column, columns in right-to-left reading order.  The vertical
        # charset is the tall class (uppercase + digits) — column layout
        # has no line-height context to class x-height glyphs with, the
        # same charset restriction the reference's ja_vert mode carries.
        for column in _group_columns(mask, comps):
            glyph_boxes = _merge_y_overlaps(column)
            chars = []
            for x1, y1, x2, y2 in glyph_boxes:
                ch, d = _decode_glyph(mask[y1:y2, x1:x2], "tall", charset)
                chars.append(ch)
                total_d += d
                n_glyphs += 1
            bbox = (
                min(b[0] for b in glyph_boxes),
                min(b[1] for b in glyph_boxes),
                max(b[2] for b in glyph_boxes),
                max(b[3] for b in glyph_boxes),
            )
            lines_out.append([(bbox, "".join(chars))])
        return lines_out, total_d, n_glyphs
    # between inner gap and word gap; +2 px absorbs resample jitter on the
    # wider inner gaps narrow punctuation glyphs leave (true word spaces
    # are >= 18 px)
    space_gap = (ADVANCE - GLYPH_W + SPACE_EXTRA / 2.0) * SCALE + 2
    for line in _group_lines(mask, comps):
        glyph_boxes = _merge_x_overlaps(line)
        # size-class context: x-height lowercase is ~5/7 the height of the
        # line's tallest glyph.  Sentence-cased corpora guarantee a tall
        # anchor per line; an all-short line (no caps/digits/ascenders)
        # classes everything tall — a documented limit shared with any
        # baseline-free OCR.
        ref_h = max(b[3] - b[1] for b in glyph_boxes)
        words: list[tuple[tuple[int, int, int, int], str]] = []
        chars: list[str] = []
        wbox: list[int] | None = None
        prev_x2: int | None = None
        for x1, y1, x2, y2 in glyph_boxes:
            if prev_x2 is not None and (x1 - prev_x2) > space_gap:
                words.append((tuple(wbox), "".join(chars)))
                chars, wbox = [], None
            cls = "short" if (y2 - y1) < 0.8 * ref_h else "tall"
            ch, d = _decode_glyph(mask[y1:y2, x1:x2], cls, charset)
            if d > _CLASS_RETRY_DIST:
                # height sat on the class boundary (residual rotation
                # compresses the line's tall anchor): a misclassed glyph
                # scores garbage in its class, its true class scores well
                # — retry the opposite class, keep the better match
                ch2, d2 = _decode_glyph(
                    mask[y1:y2, x1:x2], "tall" if cls == "short" else "short", charset
                )
                if d2 < d:
                    ch, d = ch2, d2
            chars.append(ch)
            total_d += d
            n_glyphs += 1
            if wbox is None:
                wbox = [x1, y1, x2, y2]
            else:
                wbox = [min(wbox[0], x1), min(wbox[1], y1), max(wbox[2], x2), max(wbox[3], y2)]
            prev_x2 = x2
        if chars:
            words.append((tuple(wbox), "".join(chars)))
        lines_out.append(words)
    return lines_out, total_d, n_glyphs


# Per-glyph distance above which the size-class assignment itself is
# suspected wrong (clean in-class matches stay below ~45; cross-class
# confusions like e-as-8 score 100+) — triggers one opposite-class retry.
_CLASS_RETRY_DIST = 60

# Mean template distance above which the primary decode is considered
# garbled and shear candidates are tried (unsheared corpus maxes out ~42;
# shear-garbled segmentations score 80+).  The retry keeps the primary
# result unless a candidate is STRICTLY better, so a false trigger costs
# time, never correctness.
_SHEAR_RETRY_MEAN_DIST = 48.0
_SHEAR_ACCEPT_MEAN_DIST = 25.0


def decode_layout(
    img: np.ndarray, mode: str | None = None, charset: str = "latin"
) -> list[list[tuple[tuple[int, int, int, int], str]]]:
    """Full kernel returning layout: lines of (word bbox, word text).

    Boxes are (x1, y1, x2, y2) exclusive-end in the DESKEWED image space;
    words are maximal glyph runs whose inter-glyph gap stays below the
    word-space threshold.  `decode_image` is the text-only view; the table
    pipeline consumes the boxes (reference cell/text boxes,
    `engine_paddle/main.py:85-149`).

    Keystone/italic robustness (reference quad normalization,
    `engine_realtime/recognizer_crnn.py:15-40`): when the deskewed decode
    scores a poor mean template distance, the kernel re-decodes under each
    candidate x-shear correction (S(lam) composed with the rotation in ONE
    bilinear warp) and keeps the minimum-distance result.
    """
    den = median3(img)
    mask = binarize(den)
    corr = estimate_skew(mask)
    if corr != 0.0:
        # correct on the denoised grayscale with bilinear resampling —
        # antialiasing keeps strokes intact through the round trip; the
        # higher threshold (160 vs 128) compensates double-blur stroke fade
        mask = binarize(rotate_bilinear(den, corr), 160)
    layout, total_d, n = _layout_from_mask(mask, mode, charset)
    if n == 0 or total_d / n <= _SHEAR_RETRY_MEAN_DIST:
        return layout
    best_layout, best_mean = layout, total_d / n
    for lam in SHEAR_GRID:
        if lam == 0.0:
            continue
        m = np.array([[1.0, lam], [0.0, 1.0]]) @ affine_matrix(corr, 0.0)
        lay2, d2, n2 = _layout_from_mask(
            binarize(warp_bilinear(den, m), 160), mode, charset
        )
        if n2 and d2 / n2 < best_mean:
            best_layout, best_mean = lay2, d2 / n2
            if best_mean <= _SHEAR_ACCEPT_MEAN_DIST:
                break
    return best_layout


def decode_words(img: np.ndarray) -> list[tuple[int, int, int, int, str]]:
    """Flattened reading-order word boxes: (x1, y1, x2, y2, text)."""
    return [
        (b[0], b[1], b[2], b[3], t)
        for line in decode_layout(img)
        for (b, t) in line
    ]


# language -> forced kernel (mode, charset) (reference request field
# `-|ja|ja_vert|en`, `src/controller/Ocr.ts:37-39`; jpn/jpn_vert select a
# different Tesseract model + psm at `engine_tesseract/main.py:32-70`).
# Unknown/None -> auto-detect orientation with the Latin charset.
LANGUAGE_MODES = {
    "ja_vert": ("vertical", "kana"),
    "ja": ("horizontal", "kana"),
    "en": ("horizontal", "latin"),
    "-": (None, "latin"),
}


def decode_image(img: np.ndarray, language: str | None = None) -> str:
    """Full kernel: grayscale image -> recovered text (lines joined by \\n).

    `language` routes the layout mode AND the charset per the reference's
    request field (`ja_vert` forces vertical/psm-5 reading with the kana
    charset; `ja` horizontal kana; `en` forces horizontal Latin;
    `-`/None auto-detect orientation, Latin)."""
    mode, charset = LANGUAGE_MODES.get(language, (None, "latin")) if language else (None, "latin")
    return "\n".join(
        " ".join(t for _, t in line) for line in decode_layout(img, mode, charset)
    )

