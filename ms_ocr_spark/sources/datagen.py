"""Deterministic synthetic interleaved-document corpus (FIXTURES.md).

Generates the fixture tables as parquet (pyarrow, no Spark needed):

  documents         (doc_id string, spans array<struct<kind,text,media_ref,offset>>[, language])
  media_store       (media_ref string, payload binary, truth_text string)
  golden_spans      (doc_id string, spans array<struct<...>>)
  golden_media_meta (decode-independent metadata golden)
  golden_quarantine (admission/decode-scope verdicts per media span)

Everything is keyed off md5 of (seed, key) — stable across processes
(Python's builtin hash is salted, so it is never used).  The schema is the
authoritative input shape from BASELINE.json input_hint; span interleaving
mirrors FIXTURES.md §1 (1-12 spans/doc, ~2/3 text, 1/3 media, contiguous
0-based offsets).  Media payloads are real PNG bytes of known text rendered
from the fixed glyph set, with seeded rotation (deskew exercise) and
salt-and-pepper noise (binarize/denoise exercise) — so the OCR kernel's
output is exactly checkable (golden = truth_text).
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ms_ocr_spark.extraction.ocr.glyphs import ALPHABET, render_placed, render_text
from ms_ocr_spark.extraction.ocr.jpeg import (
    decode_gray_jpeg,
    encode_cmyk_jpeg,
    encode_color_jpeg,
    encode_color_jpeg_progressive,
    encode_gray_jpeg,
    encode_gray_jpeg_progressive,
    encode_lossless_stub,
    encode_progressive_stub,
    encode_ycck_jpeg,
)
from ms_ocr_spark.extraction.ocr.png import (
    encode_gray,
    encode_gray_alpha,
    encode_palette,
    encode_rgb,
    encode_rgba,
    rgb_to_gray,
)
from ms_ocr_spark.extraction.ocr.tiff import (
    encode_gray_tiff,
    encode_jpeg_in_tiff_stub,
    encode_rgb_tiff,
)

SPAN_FIELDS = [
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
]
SPAN_STRUCT = pa.struct(SPAN_FIELDS)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_STRUCT))])
MEDIA_SCHEMA = pa.schema(
    [("media_ref", pa.string()), ("payload", pa.binary()), ("truth_text", pa.string())]
)
# independent metadata golden: computed from the raw numpy image BEFORE PNG
# encoding, so it cross-checks the engine's decode+measure path end-to-end
MEDIA_META_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("ink_ratio", pa.float64()),
        ("mean_intensity", pa.float64()),
        ("format", pa.string()),
        ("dpi", pa.float64()),
        ("icc_name", pa.string()),
        ("orientation", pa.int32()),
    ]
)
# quarantine golden: straight-line derivation of the admission/decode-scope
# verdict per media span (round 4 — progressive-JPEG telemetry)
QUARANTINE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("offset", pa.int32()),
        ("media_ref", pa.string()),
        ("mime", pa.string()),
        ("n_bytes", pa.int32()),
        ("reason", pa.string()),
    ]
)

_TEXT_WORDS = (
    "stream batch shuffle partition catalyst arrow vector column predicate "
    "pushdown broadcast skew salt lineage checkpoint resume iceberg parquet "
    "document span media offset extraction boilerplate density heuristic "
    "window session cluster merge pivot grid overlap dedup fingerprint"
).split()
_NAV_WORDS = "home about contact login signup pricing blog docs careers terms".split()
_OCR_WORDS = (
    "SPARK BATCH SHUFFLE ARROW VECTOR COLUMN SALT SKEW MERGE PIVOT GRID "
    "OCR SPAN MEDIA TEXT DOC LINE GLYPH KERNEL DECODE BINARIZE DESKEW "
    "A1 B2 C3 7Z 42 GRAFT TABLE CELL ROW COL X9 Q8"
).split()

SKEW_DEGREES = np.arange(-3.0, 3.01, 0.5)

# vertical tier (reference ja_vert): one token per column, read right to left
_VERT_WORDS = [w for w in _OCR_WORDS if 3 <= len(w) <= 6]

# mixed-case tier (round 3: reference EN-36+ charsets incl. lowercase,
# `engine_realtime/charset_crnn.py:1`): lowercase words, sentence-cased per
# line so every line carries a tall anchor for the kernel's size classing
_MIXED_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu spark jump quiz flock vexed dwarf"
).split()
_PUNCT_TAILS = ("", "", ".", ",", "!", "?", ":", ";", "-", "")
_VCOL_PITCH_FPX = 9  # glyph width 5 + 4 gap (12 device px blank between columns)
_VCHAR_PITCH_FPX = 10  # glyph height 7 + 3 gap (9 device px blank between glyphs)


def _h(seed: int, *key: object) -> int:
    s = f"{seed}:" + ":".join(str(k) for k in key)
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _pick(pool: list[str], h: int, n: int, stride: int = 7) -> list[str]:
    return [pool[(h + i * stride) % len(pool)] for i in range(n)]


def _paragraph(seed: int, doc_i: int, off: int, pi: int) -> str:
    """One main-content paragraph: long, comma-rich, link-free (Arc90 keeps it)."""
    h = _h(seed, "para", doc_i, off, pi)
    n = 14 + h % 10
    words = _pick(_TEXT_WORDS, h, n)
    # two commas so the paragraph scores >= 3 on its own
    words[4] = words[4] + ","
    words[9] = words[9] + ","
    return " ".join(words) + "."


def make_text_span_html(seed: int, doc_i: int, off: int) -> tuple[str, str]:
    """Returns (html, expected_main_text) for one text span."""
    h = _h(seed, "text", doc_i, off)
    n_para = 1 + h % 3
    paras = [_paragraph(seed, doc_i, off, pi) for pi in range(n_para)]
    nav = "".join(f'<a href="#{w}">{w}</a> ' for w in _pick(_NAV_WORDS, h, 6, 3))
    farm = "".join(f'<a href="#{w}">{w} {w}</a> ' for w in _pick(_NAV_WORDS, h + 1, 8, 5))
    main = "".join(f"<p>{p}</p>" for p in paras)
    footer_w = _pick(_TEXT_WORDS, h + 2, 3)
    html = (
        "<html><body>"
        f'<div class="nav">{nav}</div>'
        f'<div class="main">{main}</div>'
        f'<div class="sidebar">{farm}</div>'
        f'<div class="footer"><p>{" ".join(footer_w)}</p><a href="#t">terms</a></div>'
        "</body></html>"
    )
    return html, "\n".join(paras)


def make_media_truth(seed: int, doc_i: int, off: int) -> str:
    """Known uppercase text (1-2 lines) for one media span."""
    h = _h(seed, "media", doc_i, off)
    n_lines = 1 + (h >> 8) % 2
    lines = []
    for li in range(n_lines):
        hw = _h(seed, "mline", doc_i, off, li)
        words = _pick(_OCR_WORDS, hw, 1 + hw % 3, 11)
        lines.append(" ".join(words))
    return "\n".join(lines)


def make_vertical_square_truth(seed: int, doc_i: int, off: int) -> str:
    """k x k KATAKANA square (k=2..3), one column per truth line, rightmost
    column first.  A SQUARE grid ties the kernel's row/column band counts,
    so orientation auto-detect reads it horizontally (wrong) — decoding it
    correctly requires the per-document `language='ja_vert'` routing
    (reference `src/controller/Ocr.ts:37-39`, psm 5 vertical at
    `engine_tesseract/main.py:32-70`).  Round 4: the glyphs are katakana
    (kana charset), so the routing column also selects the CHARSET the way
    the reference's jpn_vert mode loads a different model.  Round 6:
    samples KANA_VERT_ALPHABET — the tall-class ja inventory (bar glyphs
    like 一 are horizontal-only; vertical decode forces the tall class,
    the same restriction the reference's jpn_vert mode carries)."""
    from ms_ocr_spark.extraction.ocr.glyphs import KANA_VERT_ALPHABET as _VA

    h = _h(seed, "sqmedia", doc_i, off)
    k = 2 + h % 2
    return "\n".join(
        "".join(
            _VA[_h(seed, "sqch", doc_i, off, ci, ri) % len(_VA)]
            for ri in range(k)
        )
        for ci in range(k)
    )


def make_kana_truth(seed: int, doc_i: int, off: int) -> str:
    """Horizontal katakana text (1-2 lines of 1-3 words, 2-4 glyphs each)
    for `language='ja'` docs (reference jpn mode, horizontal psm)."""
    from ms_ocr_spark.extraction.ocr.glyphs import KANA_ALPHABET

    h = _h(seed, "jamedia", doc_i, off)
    n_lines = 1 + (h >> 8) % 2
    lines = []
    for li in range(n_lines):
        hw = _h(seed, "jaline", doc_i, off, li)
        words = []
        for wi in range(1 + hw % 3):
            hc = _h(seed, "jaword", doc_i, off, li, wi)
            words.append(
                "".join(
                    KANA_ALPHABET[
                        _h(seed, "jach", doc_i, off, li, wi, ci) % len(KANA_ALPHABET)
                    ]
                    for ci in range(2 + hc % 3)
                )
            )
        lines.append(" ".join(words))
    return "\n".join(lines)


def make_mixed_truth(seed: int, doc_i: int, off: int) -> str:
    """Sentence-cased mixed-case text (1-2 lines, lowercase words with
    punctuation tails + occasional apostrophe contraction).  The first
    word of every line is capitalized — the tall anchor the kernel's
    per-line size classing keys off (an all-x-height line is ambiguous to
    any baseline-free matcher)."""
    h = _h(seed, "mixmedia", doc_i, off)
    n_lines = 1 + (h >> 8) % 2
    lines = []
    for li in range(n_lines):
        hw = _h(seed, "mixline", doc_i, off, li)
        words = list(_pick(_MIXED_WORDS, hw, 2 + hw % 2, 13))
        words[0] = words[0].capitalize()
        out = []
        for wi, w in enumerate(words):
            hp = _h(seed, "mixp", doc_i, off, li, wi)
            if hp % 17 == 0 and len(w) > 3:
                w = w[:-2] + "'" + w[-1]
            out.append(w + _PUNCT_TAILS[hp % len(_PUNCT_TAILS)])
        lines.append(" ".join(out))
    return "\n".join(lines)


def render_sheared_image(seed: int, media_ref: str, truth: str) -> np.ndarray:
    """Rotation + nonzero x-shear in ONE composed warp (keystone tier;
    the kernel inverts both via its rotation+shear grids)."""
    from ms_ocr_spark.extraction.ocr.kernel import SHEAR_GRID, affine_matrix, warp_bilinear

    h = _h(seed, "spayload", media_ref)
    nonzero = [v for v in SHEAR_GRID if v != 0.0]
    deg = float(SKEW_DEGREES[h % len(SKEW_DEGREES)])
    lam = float(nonzero[(h >> 8) % len(nonzero)])
    img = warp_bilinear(render_text(truth), affine_matrix(deg, lam))
    return _apply_noise(img, h)


def make_vertical_truth(seed: int, doc_i: int, off: int) -> str:
    """1-2 vertical columns (3-6 chars each), '\\n'-separated in reading
    order (rightmost column first — reference ja_vert, Tesseract psm 5)."""
    h = _h(seed, "vmedia", doc_i, off)
    n_cols = 1 + (h >> 8) % 2
    return "\n".join(
        _VERT_WORDS[_h(seed, "vcol", doc_i, off, ci) % len(_VERT_WORDS)]
        for ci in range(n_cols)
    )


def render_vertical_image(seed: int, media_ref: str, truth: str) -> np.ndarray:
    """Render columns of stacked glyphs (rightmost = first line of truth),
    then the same seeded rotation + noise as the horizontal tier."""
    from ms_ocr_spark.extraction.ocr.kernel import rotate_bilinear

    cols = truth.split("\n")
    n = len(cols)
    placed = [
        ((n - 1 - li) * _VCOL_PITCH_FPX, ci * _VCHAR_PITCH_FPX, ch)
        for li, col in enumerate(cols)
        for ci, ch in enumerate(col)
    ]
    img = render_placed(placed)
    h = _h(seed, "payload", media_ref)
    img = rotate_bilinear(img, float(SKEW_DEGREES[h % len(SKEW_DEGREES)]))
    return _apply_noise(img, h)


def render_media_image(seed: int, media_ref: str, truth: str) -> np.ndarray:
    """Render truth text -> rotate (seeded grid angle) -> noise (raw image)."""
    from ms_ocr_spark.extraction.ocr.kernel import rotate_bilinear

    h = _h(seed, "payload", media_ref)
    img = render_text(truth)
    deg = float(SKEW_DEGREES[h % len(SKEW_DEGREES)])
    img = rotate_bilinear(img, deg)
    rng = np.random.default_rng(h)
    flips = rng.random(img.shape) < 0.003
    salt = rng.random(img.shape) < 0.5
    img = img.copy()
    img[flips & salt] = 255
    img[flips & ~salt] = 0
    return img


# color tier (round 4): seeded ink/background colors with luminance far
# from the binarize thresholds (Y_ink < 45, Y_bg > 240), so the kernel's
# gray-threshold decode of the BT.601 luminance stays inside the same
# margins as the pure-gray tiers
_RGB_INKS = ((0, 0, 128), (128, 0, 0), (24, 24, 96), (64, 32, 0))
_RGB_BGS = ((255, 255, 240), (235, 245, 255), (255, 235, 240), (240, 255, 240))


def colorize(img: np.ndarray, ink: tuple, bg: tuple) -> np.ndarray:
    """Gray uint8 HxW -> HxWx3 on the ink->bg color line, LUMINANCE-
    PRESERVING: each pixel is placed so its BT.601 luminance equals the
    source gray value (clipped to the [L_ink, L_bg] reachable range).
    A plain 0..255 ramp would shift the effective binarize threshold
    (ink luminance ~38, not 0 — antialiased pixels in [~109,128) flip
    from ink to background and thin rotated glyph strokes); anchoring
    luminance to the gray value gives every colorized tier EXACTLY the
    gray tiers' decode margins (round 6)."""
    w601 = np.array([0.299, 0.587, 0.114])
    ink_a = np.array(ink, dtype=np.float64)
    bg_a = np.array(bg, dtype=np.float64)
    l_ink = float(w601 @ ink_a)
    l_bg = float(w601 @ bg_a)
    v = (img.astype(np.float64) - l_ink) / (l_bg - l_ink)
    v = np.clip(v, 0.0, 1.0)[:, :, None]
    return np.clip(
        np.rint(ink_a[None, None, :] + (bg_a - ink_a)[None, None, :] * v), 0, 255
    ).astype(np.uint8)


def tint_exact_luminance(
    img: np.ndarray, dr: int = 20, db: int = -20
) -> np.ndarray:
    """Gray HxW -> HxWx3 whose BT.601 luminance rounds back to EXACTLY
    the source value per pixel (round 7, the RGB-TIFF tier): r and b
    ride fixed offsets, g solves the luminance equation — |lum - v| <=
    0.587 * 0.5 < 0.5 so rint(lum) == v wherever g stays in range;
    pixels where channel clipping breaks the identity fall back to
    neutral gray (r=g=b=v).  Lossless in luminance, so RGB variants
    share the gray tier's goldens."""
    v = img.astype(np.float64)
    r = np.clip(v + dr, 0, 255)
    b = np.clip(v + db, 0, 255)
    g = np.clip(np.rint((v - 0.299 * r - 0.114 * b) / 0.587), 0, 255)
    rgb = np.stack([r, g, b], axis=2).astype(np.uint8)
    bad = rgb_to_gray(rgb) != img
    if bad.any():
        rgb = np.where(
            bad[:, :, None], np.repeat(img[:, :, None], 3, axis=2), rgb
        )
    return rgb


def _alpha_invert(out: np.ndarray, alpha: int) -> np.ndarray:
    """Exact pre-composite channels for a constant-alpha PNG: the
    decoder's composite-over-white (`png._composite_white`) reproduces
    `out` BIT-EXACTLY — pre = rint((out - floor) * 255/alpha) gives
    |pre*alpha/255 - (out - floor)| <= alpha/510 < 0.5, so the forward
    rint lands back on `out`.  Requires every channel >= floor =
    255 - alpha (callers lift their ink colors to the floor first)."""
    floor = 255 - alpha
    if int(out.min(initial=255)) < floor:
        raise ValueError("channel below the alpha floor")
    return np.rint((out.astype(np.float64) - floor) * 255.0 / alpha).astype(
        np.uint8
    )


def _write_rgb_png(seed, i, off, ref, img, side):
    """Color-PNG payload + golden metadata measured on the BT.601
    luminance (what a correct decode-then-measure engine sees).  Round 6:
    ~1 in 3 rotates to the PALETTE layout (color type 3) — the palette is
    the colorize ramp, so indices ARE the gray values and the decoded
    luminance (hence the golden) is identical to the truecolor variant.

    Round 7 (VERDICT r6 item 5) rotates ALPHA layouts: ~1/4 RGBA (color
    type 6), ~1/4 gray+alpha (color type 4), and half the palette
    variants carry a tRNS alpha table.  All alpha variants use one
    constant alpha per image with channels pre-divided via
    `_alpha_invert`, so the decoder's composite-over-white reproduces
    the intended surface bit-exactly; ink colors are lifted to the
    255-alpha floor, which keeps the composited luminance anchored to
    the gray value (colorize is luminance-preserving) and the decode
    margins identical to the gray tiers.  The color encoders write no
    ancillary chunks, so the row carries no side values."""
    h = _h(seed, "rgbc", ref)
    ink = _RGB_INKS[h % len(_RGB_INKS)]
    bg = _RGB_BGS[(h >> 4) % len(_RGB_BGS)]
    alpha = (180, 204, 230)[(h >> 16) % 3]
    floor = 255 - alpha
    ink_eff = tuple(max(c, floor) for c in ink)
    layout = (h >> 12) % 4
    if layout == 0:  # RGBA (color type 6)
        rgb_out = colorize(img, ink_eff, bg)
        pre = np.dstack(
            [_alpha_invert(rgb_out, alpha), np.full(img.shape, alpha, np.uint8)]
        )
        payload, lum = encode_rgba(pre), rgb_to_gray(rgb_out)
    elif layout == 1:  # gray + alpha (color type 4)
        lum = np.maximum(img, np.uint8(floor))
        payload = encode_gray_alpha(
            _alpha_invert(lum, alpha), np.full(img.shape, alpha, np.uint8)
        )
    elif (h >> 8) % 3:  # truecolor (color type 2)
        rgb = colorize(img, ink, bg)
        payload, lum = encode_rgb(rgb), rgb_to_gray(rgb)
    elif (h >> 20) % 2 == 0:  # palette (color type 3) + tRNS alpha table
        ramp_eff = colorize(np.arange(256, dtype=np.uint8)[None, :], ink_eff, bg)[0]
        trns = np.full(256, alpha, np.uint8)
        payload = encode_palette(img, _alpha_invert(ramp_eff, alpha), trns)
        lum = rgb_to_gray(ramp_eff[img])
    else:  # palette (color type 3)
        ramp = colorize(np.arange(256, dtype=np.uint8)[None, :], ink, bg)[0]
        payload, lum = encode_palette(img, ramp), rgb_to_gray(colorize(img, ink, bg))
    return payload, _meta_row(ref, "png", lum), None


def media_side_values(seed: int, media_ref: str) -> dict:
    """Deterministic per-image side-values (reference S5 keeps icc/exif at
    decode, `image_processor/main.py:58-63`): dpi in a pHYs chunk, a
    synthetic ICC profile in iCCP, EXIF orientation in eXIf."""
    h = _h(seed, "side", media_ref)
    dpi = (72.0, 96.0, 150.0, 300.0)[h % 4] if h % 3 else None
    icc = None
    if (h >> 4) % 2:
        profile = hashlib.md5(f"icc:{media_ref}".encode()).digest() * 2
        icc = ("synthetic-gray", profile)
    orientation = 1 if (h >> 5) % 2 else None
    return {"dpi": dpi, "icc": icc, "orientation": orientation}


def _icc_name(side: dict) -> str | None:
    return side["icc"][0] if side["icc"] else None


def _measure(lum: np.ndarray | None) -> dict:
    """Size and ink of a gray image — the same expressions as
    operators/multimodal.image_metadata; all None for no image."""
    if lum is None:
        return dict.fromkeys(("width", "height", "ink_ratio", "mean_intensity"))
    return {
        "width": int(lum.shape[1]),
        "height": int(lum.shape[0]),
        "ink_ratio": round(float((lum < 128).mean()), 6),
        "mean_intensity": round(float(lum.mean()), 6),
    }


def _meta_row(
    ref: str, fmt: str, lum: np.ndarray | None = None, side: dict | None = None
) -> dict:
    """One golden_media_meta row, straight from generation-time values.

    `lum` is the gray image a correct decode-then-measure engine sees: the
    raw render for lossless payloads, the decoded pixels for lossy ones,
    None for a quarantined payload (no measurements).  `side` is None where
    the payload carries no side values; otherwise dpi is what the container
    stores: PNG pHYs holds integer pixels per meter, so a correct parser
    returns the integer round trip, and TIFF/JPEG hold whole dpi."""
    side = side or {"dpi": None, "icc": None, "orientation": None}
    dpi = side["dpi"]
    if dpi:
        dpi = round(round(dpi / 0.0254) * 0.0254, 4) if fmt == "png" else float(round(dpi))
    return {
        "media_ref": ref,
        **_measure(lum),
        "format": fmt,
        "dpi": dpi,
        "icc_name": _icc_name(side),
        "orientation": side["orientation"],
    }


# A payload writer takes (seed, doc index, offset, media_ref, rendered gray
# image, side values) and returns (payload, golden_media_meta row,
# quarantine reason or None).  A reason makes the golden span text NULL
# (the engine quarantines, never crashes) and adds a golden_quarantine row.


def _write_invalid(seed, i, off, ref, img, side):
    payload = b"GARBAGE-" + hashlib.md5(f"inv:{ref}".encode()).digest() * 3
    return payload, _meta_row(ref, "unknown"), "invalid"


def _header_stub(encode, fmt: str, reason: str):
    """Writer of a header-only payload of the image's size that passes
    admission but lies outside the decode scope."""

    def write(seed, i, off, ref, img, side):
        return encode(*img.shape), _meta_row(ref, fmt), reason

    return write


def _write_gray_png(seed, i, off, ref, img, side):
    # ~1 in 4 gray PNGs interlace (Adam7, round 6) — lossless, so the
    # golden is unchanged
    payload = encode_gray(
        img,
        dpi=side["dpi"],
        icc=side["icc"],
        exif_orientation=side["orientation"],
        interlace=_h(seed, "adam7", i, off) % 4 == 0,
    )
    return payload, _meta_row(ref, "png", img, side), None


def _jpeg_side(side: dict) -> dict:
    return dict(
        dpi=side["dpi"], icc_name=_icc_name(side), exif_orientation=side["orientation"]
    )


def _gray_jpeg(encode):
    """Lossy gray tier: golden metadata measures the DECODED pixels (the
    engine can only see those); flat-quant encoding keeps the round trip
    within ±1 gray level so truth text still OCRs exactly.  The progressive
    encoder carries the same coefficients to full precision over 6 scans,
    so its decode is bit-identical to the baseline tier's.  Both frame
    types rotate restart intervals (camera JPEGs use them routinely; the
    interval does not change decoded pixels, so goldens are shared)."""

    def write(seed, i, off, ref, img, side):
        ri = (None, 4, 11)[_h(seed, "jpegri", i, off) % 3]
        payload = encode(img, restart_interval=ri, **_jpeg_side(side))
        return payload, _meta_row(ref, "jpeg", decode_gray_jpeg(payload), side), None

    return write


# lossless TIFF (reference accepts tif/tiff last in its allow-list,
# env/local.env:25): (compression, bits or "rgb", tile) rotating through
# the decode scope — uncompressed, LZW, PackBits, 16-bit, (round 6) TILED,
# and (round 7) 8-bit chunky RGB.  RGB variants use the exact-luminance
# tint, so every variant is lossless in luminance -> same golden.
_TIFF_VARIANTS = (
    (1, 8, None),
    (5, 8, None),
    (32773, 8, None),
    (1, 16, None),
    (5, 16, None),
    (1, 8, (16, 16)),
    (5, 8, (32, 16)),
    (32773, 16, (16, 32)),
    (1, "rgb", None),
    (5, "rgb", None),
    (32773, "rgb", (16, 16)),
    (1, "rgb", (32, 16)),
)


def _write_tiff(seed, i, off, ref, img, side):
    comp, bits, tile = _TIFF_VARIANTS[_h(seed, "tiffvar", i, off) % len(_TIFF_VARIANTS)]
    kw = dict(
        dpi=side["dpi"],
        compression=comp,
        orientation=side["orientation"],
        icc_name=_icc_name(side),
        tile=tile,
    )
    if bits == "rgb":
        payload = encode_rgb_tiff(tint_exact_luminance(img), **kw)
    else:
        payload = encode_gray_tiff(img, bits=bits, **kw)
    return payload, _meta_row(ref, "tiff", img, side), None


# color JPEG (round 6+): (encoder, args, kwargs) rotating through the
# decode scope.  Golden metadata measures the DECODED BT.601 luminance
# (chroma subsampling is lossy; luminance error stays inside the
# kernel's binarize margin).
_COLOR_JPEG_VARIANTS = (
    (encode_color_jpeg, ("444",), {}),
    (encode_color_jpeg, ("420",), {}),
    (encode_color_jpeg, ("420",), {"restart_interval": 5}),
    (encode_color_jpeg_progressive, ("444",), {}),
    (encode_color_jpeg_progressive, ("420",), {}),
    (encode_color_jpeg, ("422",), {}),
    (encode_color_jpeg_progressive, ("422",), {}),
    (encode_cmyk_jpeg, (), {}),  # 4-component Adobe CMYK (print workflows)
    (encode_ycck_jpeg, (), {}),  # 4-component Adobe YCCK (transform 2)
    (encode_color_jpeg, ("411",), {}),  # the DV/camcorder layout
    (encode_color_jpeg_progressive, ("440",), {}),  # vertical-only chroma
)


def _write_color_jpeg(seed, i, off, ref, img, side):
    hc = _h(seed, "cjpegvar", i, off)
    rgb = colorize(
        img, _RGB_INKS[hc % len(_RGB_INKS)], _RGB_BGS[(hc >> 4) % len(_RGB_BGS)]
    )
    encode, args, kw = _COLOR_JPEG_VARIANTS[hc % len(_COLOR_JPEG_VARIANTS)]
    payload = encode(rgb, *args, **kw, **_jpeg_side(side))
    return payload, _meta_row(ref, "jpeg", decode_gray_jpeg(payload), side), None


# Payload tiers, (percentage keyword, hash salt, writer).  A media span
# takes the FIRST row whose draw `_h(seed, salt, doc, offset) % 1000` falls
# under `pct * 1000`; no match is a gray PNG.  The undecodable tiers come
# first, so they win over every decodable one.
_PAYLOAD_TIERS = (
    ("invalid_pct", "isinvalid", _write_invalid),
    # a header-only SOF2 (no scan): a transfer-truncated progressive JPEG
    # (the "isprog" salt predates the complete progressive tier)
    (
        "truncated_jpeg_pct",
        "isprog",
        _header_stub(encode_progressive_stub, "jpeg", "truncated_jpeg"),
    ),
    # lossless (SOF3) header: the frame class outside the decode scope
    (
        "unsupported_jpeg_pct",
        "isujpeg",
        _header_stub(encode_lossless_stub, "jpeg", "unsupported_jpeg_layout"),
    ),
    # JPEG-in-TIFF (Compression 7) header: the TIFF class outside the scope
    (
        "unsupported_tiff_pct",
        "isutiff",
        _header_stub(encode_jpeg_in_tiff_stub, "tiff", "unsupported_tiff_layout"),
    ),
    ("jpeg_pct", "isjpeg", _gray_jpeg(encode_gray_jpeg)),
    ("prog_jpeg_pct", "isprogjpeg", _gray_jpeg(encode_gray_jpeg_progressive)),
    ("tiff_pct", "istiff", _write_tiff),
    # color tier: PNG layouts decoded via BT.601 luminance
    ("rgb_pct", "isrgb", _write_rgb_png),
    ("color_jpeg_pct", "iscjpeg", _write_color_jpeg),
)

# Render tiers, (percentage keyword, hash salt, (truth, render)), first
# match as above; no match is uppercase horizontal text.  A document
# routed `ja` or `ja_vert` renders kana instead, whatever its tier.
_RENDER_TIERS = (
    # a document routed `en` skips this row: 'en' forces horizontal decode
    # (LANGUAGE_MODES), so a vertical render could never match its golden
    ("vertical_pct", "isvert", (make_vertical_truth, render_vertical_image)),
    ("shear_pct", "isshear", (make_media_truth, render_sheared_image)),
    ("mixed_pct", "ismixed", (make_mixed_truth, render_media_image)),
)
_LANGUAGE_RENDER = {
    "ja_vert": (make_vertical_square_truth, render_vertical_image),
    "ja": (make_kana_truth, render_media_image),
}
_TIER_KEYS = tuple(key for key, _, _ in _PAYLOAD_TIERS + _RENDER_TIERS)


def _first_match(tiers: tuple, pct: dict, seed: int, i: int, off: int):
    """The value of the first tier row whose hash draw falls under its
    percentage, or None."""
    for key, salt, value in tiers:
        if pct[key] > 0 and _h(seed, salt, i, off) % 1000 < pct[key] * 1000:
            return value
    return None


def _spans_for_doc(seed: int, doc_i: int, span_mult: int = 1) -> list[dict]:
    h = _h(seed, "doc", doc_i)
    n = (1 + h % 12) * span_mult
    spans = []
    for off in range(n):
        kind = "media" if _h(seed, "kind", doc_i, off) % 3 == 0 else "text"
        spans.append({"kind": kind, "offset": off})
    return spans


def _gen_chunk(
    lo: int, hi: int, n_docs: int, seed: int,
    skew_doc_pct: float, skew_mult: int, routed_pct: float, pct: dict,
) -> tuple[list, list, list, list, list]:
    """Generate one contiguous doc range (deterministic per doc index, so
    chunking never changes the corpus)."""
    doc_rows, media_rows, golden_rows, meta_rows, quarantine_rows = [], [], [], [], []
    n_skewed = int(n_docs * skew_doc_pct)
    for i in range(lo, hi):
        doc_id = f"doc-{i:08d}"
        mult = skew_mult if (n_skewed and i % max(1, n_docs // n_skewed) == 0) else 1
        language = None
        if routed_pct > 0:
            # per-document language routing (reference Ocr.ts:37-39):
            # routed docs split ja (horizontal katakana) / ja_vert
            # (katakana square grids that ONLY decode correctly via the
            # routing column — orientation auto-detect ties on squares,
            # and both need the kana charset the routing selects)
            hl = _h(seed, "doclang", i)
            language = (
                ("ja_vert", "ja")[(hl >> 10) % 2]
                if hl % 1000 < routed_pct * 1000
                else ("-", "en")[hl % 2]
            )
        render_pct = dict(pct, vertical_pct=0.0) if language == "en" else pct
        in_spans, out_spans = [], []
        for s in _spans_for_doc(seed, i, mult):
            off = s["offset"]
            if s["kind"] == "text":
                html, main = make_text_span_html(seed, i, off)
                in_spans.append(
                    {"kind": "text", "text": html, "media_ref": None, "offset": off}
                )
                out_spans.append(
                    {"kind": "text", "text": main, "media_ref": None, "offset": off}
                )
                continue
            ref = f"img-{doc_id}-{off}"
            make_truth, render = (
                _LANGUAGE_RENDER.get(language)
                or _first_match(_RENDER_TIERS, render_pct, seed, i, off)
                or (make_media_truth, render_media_image)
            )
            truth = make_truth(seed, i, off)
            img = render(seed, ref, truth)
            write = _first_match(_PAYLOAD_TIERS, pct, seed, i, off) or _write_gray_png
            payload, meta, reason = write(seed, i, off, ref, img, media_side_values(seed, ref))
            meta_rows.append(meta)
            if reason:
                quarantine_rows.append(
                    {
                        "doc_id": doc_id,
                        "offset": off,
                        "media_ref": ref,
                        "mime": meta["format"],
                        "n_bytes": len(payload),
                        "reason": reason,
                    }
                )
            media_rows.append({"media_ref": ref, "payload": payload, "truth_text": truth})
            in_spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
            out_spans.append(
                {"kind": "media", "text": None if reason else truth, "media_ref": ref, "offset": off}
            )
        drow = {"doc_id": doc_id, "spans": in_spans}
        if routed_pct > 0:
            drow["language"] = language
        doc_rows.append(drow)
        golden_rows.append({"doc_id": doc_id, "spans": out_spans})
    return doc_rows, media_rows, golden_rows, meta_rows, quarantine_rows


def gen_corpus(
    n_docs: int,
    seed: int = 42,
    skew_doc_pct: float = 0.0,
    skew_mult: int = 50,
    routed_pct: float = 0.0,
    processes: int | None = None,
    **tier_pct: float,
) -> tuple[pa.Table, pa.Table, pa.Table, pa.Table, pa.Table]:
    """Build (documents, media_store, golden_spans, golden_media_meta,
    golden_quarantine) arrow tables.

    `tier_pct` takes the percentage keywords of `_PAYLOAD_TIERS` and
    `_RENDER_TIERS` (each defaults to 0; any other keyword is a TypeError).
    First match decides: a media span's payload is the writer of the FIRST
    `_PAYLOAD_TIERS` row whose draw `_h(seed, salt, doc, offset) % 1000`
    falls under `pct * 1000` (gray PNG if none), and its render likewise
    the first matching `_RENDER_TIERS` row.  An earlier row wins over a
    later one (the undecodable tiers over every decodable one, `jpeg_pct`
    over `tiff_pct`), so a tier's share of the spans is at most its
    percentage.  `routed_pct` gives that fraction of docs a `ja`/`ja_vert`
    language, whose media render kana whatever their render tier.
    skew_doc_pct > 0 gives that fraction of docs `skew_mult`x the span count
    (FIXTURES.md bench tier: exercises salted repartitioning / AQE skew).
    Media rendering dominates, so doc ranges fan out over a process pool;
    per-doc determinism makes the result identical at any process count.
    """
    unknown = sorted(tier_pct.keys() - set(_TIER_KEYS))
    if unknown:
        raise TypeError(f"gen_corpus() got unexpected keyword arguments {unknown}")
    pct = {key: tier_pct.get(key, 0.0) for key in _TIER_KEYS}
    if processes is None:
        processes = min(os.cpu_count() or 1, 16) if n_docs >= 500 else 1
    step = max(1, n_docs // (processes * 4) + 1)
    chunks = [
        (lo, min(lo + step, n_docs), n_docs, seed, skew_doc_pct, skew_mult, routed_pct, pct)
        for lo in range(0, n_docs, step)
    ]
    if processes > 1:
        from multiprocessing import Pool

        with Pool(processes) as pool:
            parts = pool.starmap(_gen_chunk, chunks)
    else:
        parts = [_gen_chunk(*c) for c in chunks]
    docs_schema = (
        DOCS_SCHEMA.append(pa.field("language", pa.string()))
        if routed_pct > 0
        else DOCS_SCHEMA
    )
    schemas = (docs_schema, MEDIA_SCHEMA, DOCS_SCHEMA, MEDIA_META_SCHEMA, QUARANTINE_SCHEMA)
    return tuple(
        pa.Table.from_pylist([r for p in parts for r in p[k]], schema=schema)
        for k, schema in enumerate(schemas)
    )


def write_corpus(out_dir: str, n_docs: int, seed: int = 42, **kw) -> dict[str, str]:
    """Write the five tables as parquet; returns {name: path}.

    Idempotent on the FULL parameter set: a params.json sidecar records
    (n_docs, seed, kw); the cache is reused only when all files exist AND
    the recorded params match, so changing e.g. skew settings between runs
    regenerates instead of silently serving mislabeled data.
    """
    import json

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in (
            "documents",
            "media_store",
            "golden_spans",
            "golden_media_meta",
            "golden_quarantine",
        )
    }
    # fmt bumps when generation output changes for identical params
    # (e.g. new ancillary PNG chunks) — stale caches regenerate
    # fmt 3: routed tiers render katakana (ja/ja_vert charsets)
    # fmt 4: tiff tier rotates compression/bit-depth variants (LZW/
    #        PackBits/16-bit)
    # fmt 5: progressive JPEGs decode — quarantine reasons reclassified
    #        (truncated_jpeg / unsupported_jpeg_layout), prog tier added
    # fmt 6: JPEG/TIFF tiers embed ICC + EXIF-orientation side-values
    # fmt 7: kana charset widened with hiragana + voiced (dakuten/
    #        handakuten multi-component) glyphs — ja tiers regenerate
    # fmt 8: baseline-JPEG tier rotates restart intervals (None/4/11)
    # fmt 9: kana charset adds 8 common kanji — ja tiers regenerate
    # fmt 10: color (3-component YCbCr) JPEGs decode — quarantine
    #         unsupported_jpeg_layout fixture becomes lossless SOF3,
    #         color_jpeg_pct tier added
    # fmt 11: colorize is luminance-preserving (BT.601 anchored to the
    #         gray value) — rgb/color tiers regenerate
    # fmt 12: ja charset expands to kyoiku grade-1 kanji (79 of 80;
    #         ~61% of uniform ja text is kanji) — ja tiers regenerate;
    #         vertical tiers sample KANA_VERT_ALPHABET (no bar glyphs)
    # fmt 13: tiled TIFFs decode — tiff tier rotates 3 tiled variants,
    #         unsupported_tiff fixture becomes JPEG-in-TIFF (comp 7)
    # fmt 14: ~25% of gray PNGs are Adam7-interlaced (lossless)
    # fmt 15: rgb tier rotates palette (ctype 3) PNGs; color-JPEG tier
    #         adds 4:2:2 variants (baseline + progressive)
    # fmt 16: color tier adds Adobe APP14 CMYK (4-component) variant
    # fmt 17: progressive tiers rotate restart intervals too (DRI now
    #         decodes in SOF2 frames)
    # fmt 18: color tier adds YCCK (Adobe transform 2) variant
    # fmt 19: tiff tier rotates 8-bit chunky RGB variants (exact-
    #         luminance tint — goldens shared); rgb tier rotates
    #         RGBA / gray+alpha / palette+tRNS layouts (constant-alpha
    #         pre-divide — composite-over-white is bit-exact)
    # fmt 20: ja charset expands to kyoiku grade-2 kanji (159 of 160;
    #         charset 289) — ja/ja_vert tiers regenerate
    # fmt 21: color-JPEG tier adds 4:1:1 (baseline) and 4:4:0
    #         (progressive) variants — sampling factor 4 decodes
    params = {
        "fmt": 21,
        "n_docs": n_docs,
        "seed": seed,
        **{k: kw[k] for k in sorted(kw) if k != "processes"},
    }
    params_path = os.path.join(out_dir, "params.json")
    if all(os.path.exists(p) for p in paths.values()) and os.path.exists(params_path):
        with open(params_path) as f:
            if json.load(f) == json.loads(json.dumps(params)):
                return paths
    docs, media, golden, meta, quarantine = gen_corpus(n_docs, seed=seed, **kw)
    # small row groups keep the files splittable (parquet splits on row-
    # group boundaries; a single-group file caps scan parallelism at 1)
    pq.write_table(docs, paths["documents"], row_group_size=1000)
    pq.write_table(media, paths["media_store"], row_group_size=2000)
    pq.write_table(golden, paths["golden_spans"], row_group_size=1000)
    pq.write_table(meta, paths["golden_media_meta"], row_group_size=2000)
    pq.write_table(quarantine, paths["golden_quarantine"])
    with open(params_path, "w") as f:
        json.dump(params, f)
    return paths


# ---------------------------------------------------------------------------
# Audio tier (round 4): deterministic WAV payloads + independent feature
# golden.  Golden features are computed from the raw int16 samples BEFORE
# encoding, so they cross-check the engine's decode+measure path end to end
# (same contract as golden_media_meta for images).
# ---------------------------------------------------------------------------

AUDIO_MEDIA_SCHEMA = pa.schema([("media_ref", pa.string()), ("payload", pa.binary())])
AUDIO_GOLDEN_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("sample_rate", pa.int32()),
        ("n_channels", pa.int32()),
        ("n_frames", pa.int64()),
        ("duration_s", pa.float64()),
        ("rms", pa.float64()),
        ("zero_crossings", pa.int64()),
    ]
)

_AUDIO_RATES = (8000, 16000, 22050)


def _audio_samples(seed: int, ai: int) -> tuple[np.ndarray, int, int]:
    """Deterministic int16 waveform: 1-2 sine tones + seeded noise."""
    h = _h(seed, "wav", ai)
    rate = _AUDIO_RATES[h % len(_AUDIO_RATES)]
    nch = 1 + (h >> 4) % 2
    n_frames = 500 + (h >> 8) % 2000
    t = np.arange(n_frames, dtype=np.float64) / rate
    f0 = 100.0 + (h >> 12) % 900
    x = 0.5 * np.sin(2 * np.pi * f0 * t)
    if (h >> 20) % 2:
        x += 0.25 * np.sin(2 * np.pi * (f0 * 2.1) * t)
    rng = np.random.default_rng(h)
    x += 0.02 * rng.standard_normal(n_frames)
    mono = np.clip(np.rint(x * 20000), -32768, 32767).astype(np.int16)
    if nch == 2:
        right = np.clip(np.rint(x * 12000), -32768, 32767).astype(np.int16)
        inter = np.empty(n_frames * 2, dtype=np.int16)
        inter[0::2], inter[1::2] = mono, right
        return inter, rate, nch
    return mono, rate, nch


def _encode_wav(samples: np.ndarray, rate: int, nch: int) -> bytes:
    import io
    import wave

    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return bio.getvalue()


def write_audio_corpus(out_dir: str, n_clips: int, seed: int = 42) -> dict[str, str]:
    """Write (audio_media, golden_audio_features) parquet."""
    import json

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in ("audio_media", "golden_audio_features")
    }
    params = {"n_clips": n_clips, "seed": seed}
    params_path = os.path.join(out_dir, "params.json")
    if all(os.path.exists(p) for p in paths.values()) and os.path.exists(params_path):
        with open(params_path) as f:
            if json.load(f) == params:
                return paths
    media_rows, golden_rows = [], []
    for ai in range(n_clips):
        ref = f"wav-{ai:06d}"
        samples, rate, nch = _audio_samples(seed, ai)
        n_frames = len(samples) // nch
        xf = samples.astype(np.float64)
        ch0 = xf[::nch]
        media_rows.append({"media_ref": ref, "payload": _encode_wav(samples, rate, nch)})
        golden_rows.append(
            {
                "media_ref": ref,
                "sample_rate": rate,
                "n_channels": nch,
                "n_frames": n_frames,
                "duration_s": round(n_frames / rate, 6),
                "rms": round(float(np.sqrt(np.mean((xf / 32768.0) ** 2))), 6),
                "zero_crossings": int(np.count_nonzero(np.diff(np.signbit(ch0)))),
            }
        )
    pq.write_table(
        pa.Table.from_pylist(media_rows, schema=AUDIO_MEDIA_SCHEMA),
        paths["audio_media"],
        row_group_size=500,
    )
    pq.write_table(
        pa.Table.from_pylist(golden_rows, schema=AUDIO_GOLDEN_SCHEMA),
        paths["golden_audio_features"],
    )
    with open(params_path, "w") as f:
        json.dump(params, f)
    return paths


# ---------------------------------------------------------------------------
# Table tier: rendered table images + independent grid/merge/html goldens
# (reference flagship path, `engine_paddle/main.py:203-294` +
# `data_to_table/main.py:177-244`).
# ---------------------------------------------------------------------------

TABLE_MEDIA_SCHEMA = pa.schema([("media_ref", pa.string()), ("payload", pa.binary())])
TABLE_CELLS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("row_idx", pa.int64()),
        ("col_idx", pa.int64()),
        ("cell_text", pa.string()),
        ("row_span", pa.int64()),
        ("col_span", pa.int64()),
        ("n_texts", pa.int64()),
    ]
)
TABLE_HTML_SCHEMA = pa.schema([("doc_id", pa.string()), ("html", pa.string())])

# single-token cell texts (ALPHABET chars only, no spaces)
_TABLE_SHORT = "A1 B2 C3 X9 Q8 7Z 42 ROW COL OCR DOC GRID CELL SPAN TEXT".split()
_TABLE_LONG = "BINARIZE DESKEWED CATALYST8 SHUFFLE42 PARTITION BROADCAST".split()
# grid pitch in font px: col pitch 40 fpx (=120 device px at SCALE 3) and
# row pitch 12 fpx keep normal tokens (<=4 chars, <=26 fpx) well inside
# their cluster while long merge tokens (8-9 chars, >=54 fpx) pass the next
# column position + tolX with >=24 px margin against OCR jitter
_TBL_COL_PITCH_FPX = 40
_TBL_ROW_PITCH_FPX = 12


def _table_layout(seed: int, ti: int) -> dict:
    """Deterministic table spec: dims, colspan-2 merges, cell tokens."""
    h = _h(seed, "table", ti)
    n_rows = 3 + h % 2
    n_cols = 3 + (h >> 4) % 2
    merges: dict[tuple[int, int], tuple[int, int]] = {}
    if h % 3:
        r = (h >> 8) % n_rows
        merges[(r, (h >> 12) % (n_cols - 1))] = (1, 2)
        r2 = (r + 1 + (h >> 16) % (n_rows - 1)) % n_rows
        if (h >> 20) % 2 and r2 != r:
            merges[(r2, (h >> 24) % (n_cols - 1))] = (1, 2)
    covered = {
        (r, c + k)
        for (r, c), (_, cs) in merges.items()
        for k in range(1, cs)
    }
    tokens: dict[tuple[int, int], str] = {}
    for r in range(n_rows):
        for c in range(n_cols):
            if (r, c) in covered:
                continue
            hc = _h(seed, "cell", ti, r, c)
            pool = _TABLE_LONG if (r, c) in merges else _TABLE_SHORT
            tokens[(r, c)] = pool[hc % len(pool)]
    return {"n_rows": n_rows, "n_cols": n_cols, "merges": merges, "covered": covered, "tokens": tokens}


def _apply_noise(img: np.ndarray, h: int) -> np.ndarray:
    rng = np.random.default_rng(h)
    flips = rng.random(img.shape) < 0.003
    salt = rng.random(img.shape) < 0.5
    img = img.copy()
    img[flips & salt] = 255
    img[flips & ~salt] = 0
    return img


def render_table_image(seed: int, ti: int) -> np.ndarray:
    """Render the table layout -> seeded grid rotation -> noise."""
    from ms_ocr_spark.extraction.ocr.kernel import rotate_bilinear

    lay = _table_layout(seed, ti)
    placed = [
        (c * _TBL_COL_PITCH_FPX, r * _TBL_ROW_PITCH_FPX, tok)
        for (r, c), tok in sorted(lay["tokens"].items())
    ]
    img = render_placed(placed)
    h = _h(seed, "tpayload", ti)
    img = rotate_bilinear(img, float(SKEW_DEGREES[h % len(SKEW_DEGREES)]))
    return _apply_noise(img, h)


def _table_goldens(ref: str, lay: dict) -> tuple[list[dict], str]:
    """Straight-line golden derivation from the KNOWN layout (independent
    of the OCR/grid code under test).  HTML emission mirrors the reference
    `_html` structure (`data_to_table/main.py:35-98`): covered positions
    emit no td, spans always written."""
    cells = []
    tr_list = []
    for r in range(lay["n_rows"]):
        tds = []
        for c in range(lay["n_cols"]):
            if (r, c) in lay["covered"]:
                continue
            rs, cs = lay["merges"].get((r, c), (1, 1))
            tok = lay["tokens"][(r, c)]
            cells.append(
                {
                    "doc_id": ref,
                    "row_idx": r,
                    "col_idx": c,
                    "cell_text": tok,
                    "row_span": rs,
                    "col_span": cs,
                    "n_texts": 1,
                }
            )
            tds.append(f'<td rowspan="{rs}" colspan="{cs}">{tok}</td>')
        tr_list.append("<tr>\n" + "\n".join(tds) + "\n</tr>")
    html = "<table>\n" + "\n".join(tr_list) + "\n</table>"
    return cells, html


def write_table_corpus(out_dir: str, n_tables: int, seed: int = 42) -> dict[str, str]:
    """Write (tables_media, golden_table_cells, golden_table_html) parquet."""
    import json

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in ("tables_media", "golden_table_cells", "golden_table_html")
    }
    params = {"n_tables": n_tables, "seed": seed}
    params_path = os.path.join(out_dir, "params.json")
    if all(os.path.exists(p) for p in paths.values()) and os.path.exists(params_path):
        with open(params_path) as f:
            if json.load(f) == params:
                return paths
    media_rows, cell_rows, html_rows = [], [], []
    for ti in range(n_tables):
        ref = f"tbl-{ti:06d}"
        lay = _table_layout(seed, ti)
        img = render_table_image(seed, ti)
        media_rows.append({"media_ref": ref, "payload": encode_gray(img)})
        cells, html = _table_goldens(ref, lay)
        cell_rows.extend(cells)
        html_rows.append({"doc_id": ref, "html": html})
    pq.write_table(
        pa.Table.from_pylist(media_rows, schema=TABLE_MEDIA_SCHEMA),
        paths["tables_media"],
        row_group_size=500,
    )
    pq.write_table(
        pa.Table.from_pylist(cell_rows, schema=TABLE_CELLS_SCHEMA),
        paths["golden_table_cells"],
    )
    pq.write_table(
        pa.Table.from_pylist(html_rows, schema=TABLE_HTML_SCHEMA),
        paths["golden_table_html"],
    )
    with open(params_path, "w") as f:
        json.dump(params, f)
    return paths


# ---------------------------------------------------------------------------
# Video tier (round 5 — the last stub closed): deterministic MJPEG-in-AVI
# payloads + independent frame golden.  Golden features hash the DECODED
# frame pixels (the baseline-JPEG round trip, same contract as the lossy
# jpeg image tier), derived straight-line here — independent of the
# engine's RIFF walker and sampling operator.
# ---------------------------------------------------------------------------

VIDEO_MEDIA_SCHEMA = pa.schema([("media_ref", pa.string()), ("payload", pa.binary())])
VIDEO_GOLDEN_SCHEMA = pa.schema(
    [
        ("media_ref", pa.string()),
        ("frame_idx", pa.int32()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("ink_ratio", pa.float64()),
        ("mean_intensity", pa.float64()),
        ("frame_sha", pa.string()),
    ]
)


def _video_frames(seed: int, vi: int) -> list[np.ndarray]:
    """Deterministic clip: a dark block sweeping across a light field,
    plus per-frame seeded pepper noise (size/count vary per clip)."""
    h = _h(seed, "avi", vi)
    fh, fw = 24 + (h % 4) * 8, 40 + ((h >> 3) % 4) * 8
    n_frames = 6 + (h >> 6) % 18
    frames = []
    for t in range(n_frames):
        f = np.full((fh, fw), 235, dtype=np.uint8)
        x0 = (3 + t * 5) % max(1, fw - 10)
        y0 = (2 + t * 3) % max(1, fh - 8)
        f[y0 : y0 + 8, x0 : x0 + 10] = 20
        rng = np.random.default_rng(_h(seed, "avinoise", vi, t))
        ys = rng.integers(0, fh, 12)
        xs = rng.integers(0, fw, 12)
        f[ys, xs] = 0
        frames.append(f)
    return frames


def write_video_corpus(
    out_dir: str, n_clips: int, seed: int = 42, every_n: int = 3
) -> dict[str, str]:
    """Write (video_media, golden_video_frames) parquet.  ~1 in 8 clips
    is a garbage payload (golden: single all-null row — the operator's
    quarantine contract); the rest are real MJPEG AVIs with golden rows
    for every `every_n`-th frame."""
    import hashlib as _hl
    import json

    from ms_ocr_spark.extraction.ocr.avi import encode_mjpeg_avi
    from ms_ocr_spark.extraction.ocr.jpeg import decode_gray_jpeg, encode_gray_jpeg

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in ("video_media", "golden_video_frames")
    }
    params = {"n_clips": n_clips, "seed": seed, "every_n": every_n, "fmt": 1}
    params_path = os.path.join(out_dir, "params.json")
    if all(os.path.exists(p) for p in paths.values()) and os.path.exists(params_path):
        with open(params_path) as f:
            if json.load(f) == params:
                return paths
    media_rows, golden_rows = [], []
    for vi in range(n_clips):
        ref = f"avi-{vi:06d}"
        if _h(seed, "avibad", vi) % 8 == 0:
            payload = b"NOT-AN-AVI" + _hl.md5(f"bad:{ref}".encode()).digest()
            media_rows.append({"media_ref": ref, "payload": payload})
            golden_rows.append(
                {
                    "media_ref": ref,
                    "frame_idx": None,
                    **_measure(None),
                    "frame_sha": None,
                }
            )
            continue
        frames = _video_frames(seed, vi)
        media_rows.append(
            {"media_ref": ref, "payload": encode_mjpeg_avi(frames, fps=10)}
        )
        for idx in range(0, len(frames), every_n):
            dec = decode_gray_jpeg(encode_gray_jpeg(frames[idx]))
            golden_rows.append(
                {
                    "media_ref": ref,
                    "frame_idx": idx,
                    **_measure(dec),
                    "frame_sha": _hl.md5(dec.tobytes()).hexdigest(),
                }
            )
    pq.write_table(
        pa.Table.from_pylist(media_rows, schema=VIDEO_MEDIA_SCHEMA),
        paths["video_media"],
        row_group_size=500,
    )
    pq.write_table(
        pa.Table.from_pylist(golden_rows, schema=VIDEO_GOLDEN_SCHEMA),
        paths["golden_video_frames"],
    )
    with open(params_path, "w") as f:
        json.dump(params, f)
    return paths


# ---------------------------------------------------------------------------
# PDF tier (round 5 — north_rule "PDF/layout parse" as a SOURCE):
# deterministic positioned-text PDFs (`pdf_from_boxes`, plus the modern
# and custom-encoding layouts below) + an independent straight-line golden of the spans a correct
# parser recovers.  ~1 in 9 payloads is garbage (single all-null golden
# row — the quarantine contract).
# ---------------------------------------------------------------------------

PDF_MEDIA_SCHEMA = pa.schema([("doc_id", pa.string()), ("artifact", pa.binary())])
PDF_GOLDEN_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("page", pa.int32()),
        ("x", pa.float64()),
        ("y", pa.float64()),
        ("text", pa.string()),
    ]
)

_PDF_TAILS = ("", "", " (v2)", " [a]", " 50%", " \\x", ")(")


def pdf_from_boxes(boxes: list[dict], page_w: int = 612, page_h: int = 792) -> bytes:
    """Minimal one-page PDF: each box's text drawn at its (x1, y1) with
    the PDF y-axis flip (reference white-canvas overlay).  Deterministic
    object ordering; Flate-compressed content stream."""
    parts = ["BT /F1 10 Tf"]
    for b in sorted(boxes, key=lambda b: (b["y1"], b["x1"])):
        x = float(b["x1"])
        y = page_h - float(b["y1"]) - 10
        text = (
            str(b["text"]).replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        )
        parts.append(f"1 0 0 1 {x:.1f} {y:.1f} Tm ({text}) Tj")
    parts.append("ET")
    stream = zlib.compress("\n".join(parts).encode("latin-1", "replace"))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [3 0 R] /Count 1 >>".encode(),
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w} {page_h}] "
            "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"
        ).encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        (f"<< /Length {len(stream)} /Filter /FlateDecode >>\nstream\n").encode()
        + stream
        + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def pdf_modern_bytes(
    boxes: list[dict], column: list[dict], page_w: int = 612, page_h: int = 792
) -> bytes:
    """Modern-layout PDF fixture (round 6 — exercises the parser scope of
    VERDICT r5 item 5): catalog/pages/page/font packed in a compressed
    /ObjStm, TWO /Contents streams per page (stream 1 = Tm/Tj dialect
    with an INDIRECT /Length; stream 2 = a text column via TL + T* + '),
    a cross-reference STREAM (/W [1 2 1], PNG /Predictor 12 Up, /Index)
    with type-2 entries for the ObjStm members, and an incremental
    update appending a DECOY superseded `5 0 obj` body whose text is
    wrong — only a parser that resolves objects through the xref chain
    (not last-scan-wins) extracts the correct spans.

    `boxes` draw via stream 1 at absolute positions (sink dialect);
    `column` rows draw via stream 2 top-down at a fixed x with constant
    leading (the TL/T*/' dialect)."""
    import zlib as _z

    def _esc(t: str) -> str:
        return t.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    # ---- content stream 1: absolute Tm positions (sink dialect)
    parts = ["BT /F1 10 Tf"]
    for b in sorted(boxes, key=lambda b: (b["y1"], b["x1"])):
        x, y = float(b["x1"]), page_h - float(b["y1"]) - 10
        parts.append(f"1 0 0 1 {x:.1f} {y:.1f} Tm ({_esc(str(b['text']))}) Tj")
    parts.append("ET")
    s1 = _z.compress("\n".join(parts).encode("latin-1", "replace"))
    # ---- content stream 2: TL/T*/' column; every other line is a HEX
    # string (ISO 32000-1 7.3.4.3) so the fixture also exercises the
    # <...> tokenizer path
    cx, cy0, lead = 72.0, 700.0, 18.0
    parts2 = ["BT /F1 10 Tf", f"{lead:.1f} TL", f"1 0 0 1 {cx:.1f} {cy0:.1f} Tm"]
    for i, c in enumerate(column):
        if i % 2:
            t = "<" + str(c["text"]).encode("latin-1", "replace").hex() + ">"
        else:
            t = "(" + _esc(str(c["text"])) + ")"
        parts2.append(f"{t} Tj" if i == 0 else f"{t} '")
    parts2.append("ET")
    s2 = _z.compress("\n".join(parts2).encode("latin-1", "replace"))

    # ---- ObjStm containing objects 1-4 (catalog, pages, page, font)
    members = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (
            3,
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w} {page_h}] "
                "/Resources << /Font << /F1 4 0 R >> >> "
                "/Contents [5 0 R 6 0 R] >>"
            ).encode(),
        ),
        (4, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    header, payload, off = [], b"", 0
    for num, body in members:
        header.append(f"{num} {off}")
        payload += body + b"\n"
        off = len(payload)
    hdr = (" ".join(header) + "\n").encode()
    objstm_content = _z.compress(hdr + payload)
    objstm = (
        f"<< /Type /ObjStm /N {len(members)} /First {len(hdr)} "
        f"/Length {len(objstm_content)} /Filter /FlateDecode >>\nstream\n"
    ).encode() + objstm_content + b"\nendstream"

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def _emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode() + body + b"\nendobj\n")

    # stream 1 carries an INDIRECT /Length (8 0 R)
    _emit(5, b"<< /Length 8 0 R /Filter /FlateDecode >>\nstream\n" + s1 + b"\nendstream")
    _emit(6, (f"<< /Length {len(s2)} /Filter /FlateDecode >>\nstream\n").encode()
            + s2 + b"\nendstream")
    _emit(7, objstm)
    _emit(8, str(len(s1)).encode())

    # ---- xref STREAM (obj 9): W [1 w1 1], Predictor 12 (Up), objects
    # 0-9.  The middle (offset) field width is computed from the largest
    # value so PDFs beyond 64 KiB pack correctly instead of raising
    # OverflowError (ADVICE r6).
    def _xref_field_w(entries: list[tuple[int, int, int]]) -> int:
        return max(2, (max(v for _, v, _ in entries).bit_length() + 7) // 8)

    def _xref_rows(entries: list[tuple[int, int, int]], w1: int) -> bytes:
        rows = b"".join(
            bytes([t]) + v.to_bytes(w1, "big") + bytes([x]) for t, v, x in entries
        )
        # PNG Up filter, columns = full row width
        cols = 1 + w1 + 1
        filtered, prev = bytearray(), bytes(cols)
        for r in range(0, len(rows), cols):
            row = rows[r : r + cols]
            filtered.append(2)
            filtered.extend((row[i] - prev[i]) & 0xFF for i in range(cols))
            prev = row
        return _z.compress(bytes(filtered))

    xref_at = len(out)
    entries = [
        (0, 0, 255),        # 0: free
        (2, 7, 0), (2, 7, 1), (2, 7, 2), (2, 7, 3),  # 1-4 in ObjStm 7
        (1, offsets[5], 0), (1, offsets[6], 0),
        (1, offsets[7], 0), (1, offsets[8], 0),
        (1, xref_at, 0),    # 9: this xref stream
    ]
    w1 = _xref_field_w(entries)
    xdata = _xref_rows(entries, w1)
    _emit(9, (
        f"<< /Type /XRef /Size 10 /W [1 {w1} 1] /Index [0 10] "
        f"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns {1 + w1 + 1} >> "
        f"/Root 1 0 R /Length {len(xdata)} >>\nstream\n"
    ).encode() + xdata + b"\nendstream")
    out.extend(f"startxref\n{xref_at}\n%%EOF\n".encode())

    # ---- incremental update: decoy superseded object 5 (wrong text) +
    # a second xref stream chaining back via /Prev.  The decoy sits
    # LATER in the file, so a last-scan-wins parser would read it; the
    # xref chain keeps pointing at the live body.
    decoy = _z.compress(b"BT /F1 10 Tf 1 0 0 1 9.0 9.0 Tm (DECOY SUPERSEDED) Tj ET")
    decoy_at = len(out)
    out.extend(
        f"5 0 obj\n<< /Length {len(decoy)} /Filter /FlateDecode >>\nstream\n".encode()
        + decoy + b"\nendstream\nendobj\n"
    )
    xref2_at = len(out)
    entries2 = [(1, offsets[5], 0), (1, xref2_at, 0)]
    w2 = _xref_field_w(entries2)
    xdata2 = _xref_rows(entries2, w2)
    out.extend(f"10 0 obj\n".encode() + (
        f"<< /Type /XRef /Size 11 /W [1 {w2} 1] /Index [5 1 10 1] "
        f"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns {1 + w2 + 1} >> "
        f"/Root 1 0 R /Prev {xref_at} /Length {len(xdata2)} >>\nstream\n"
    ).encode() + xdata2 + b"\nendstream\nendobj\n")
    out.extend(f"startxref\n{xref2_at}\n%%EOF\n".encode())
    return bytes(out)


def pdf_modern_golden(
    boxes: list[dict], column: list[dict], page_h: int = 792
) -> list[dict]:
    """Golden spans for `pdf_modern_bytes`, in drawing order: stream-1
    boxes sorted by (y1, x1) with the PDF y-flip, then the stream-2
    column top-down at (72, 700 - i*18)."""
    rows = [
        {
            "page": 0,
            "x": round(float(b["x1"]), 1),
            "y": round(float(page_h - b["y1"] - 10), 1),
            "text": str(b["text"]),
        }
        for b in sorted(boxes, key=lambda b: (b["y1"], b["x1"]))
    ]
    rows += [
        {
            "page": 0,
            "x": 72.0,
            "y": round(700.0 - i * 18.0, 1),
            "text": str(c["text"]),
        }
        for i, c in enumerate(column)
    ]
    return rows


# the character set the custom-encoding PDF fixture can carry: every
# char the _OCR_WORDS/_PDF_TAILS corpus emits, with its AGL glyph name
_PDF_ENC_ALPHABET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 ()[]%\\"
)
_AGL_NAMES = {
    " ": "space", "(": "parenleft", ")": "parenright",
    "[": "bracketleft", "]": "bracketright", "%": "percent",
    "\\": "backslash", "0": "zero", "1": "one", "2": "two",
    "3": "three", "4": "four", "5": "five", "6": "six", "7": "seven",
    "8": "eight", "9": "nine",
}


def pdf_custom_encoding_bytes(
    boxes: list[dict], column: list[dict], page_w: int = 612, page_h: int = 792
) -> bytes:
    """One-page PDF whose string bytes are NOT the text (round 7,
    VERDICT r6 item 7) — the layout real typesetters emit with subset
    fonts:

      * /F1 carries an /Encoding /Differences table remapping codes
        0xA0.. to the fixture alphabet's glyph names; box texts are
        written as those high bytes.
      * /F2 carries a /ToUnicode CMap (a bfrange for A-Z plus bfchar
        entries for everything else); column lines are written as HEX
        strings of 1-byte codes starting at 0x01.

    A parser that ignores the font maps extracts garbage code points —
    exactly the VERDICT-described failure this fixture pins."""
    alpha = _PDF_ENC_ALPHABET

    def _f1_bytes(text: str) -> bytes:
        return bytes(0xA0 + alpha.index(c) for c in text)

    def _f2_hex(text: str) -> str:
        return "".join(f"{1 + alpha.index(c):02X}" for c in text)

    parts = ["BT /F1 10 Tf"]
    for b in sorted(boxes, key=lambda b: (b["y1"], b["x1"])):
        x = float(b["x1"])
        y = page_h - float(b["y1"]) - 10
        enc = _f1_bytes(str(b["text"])).decode("latin-1")
        parts.append(f"1 0 0 1 {x:.1f} {y:.1f} Tm ({enc}) Tj")
    parts.append("/F2 10 Tf")
    for i, c in enumerate(column):
        parts.append(
            f"1 0 0 1 72.0 {700.0 - i * 18.0:.1f} Tm <{_f2_hex(str(c['text']))}> Tj"
        )
    parts.append("ET")
    stream = zlib.compress("\n".join(parts).encode("latin-1"))

    diffs = " ".join(
        _AGL_NAMES.get(c, c) for c in alpha
    )
    # ToUnicode: A-Z as one bfrange (codes 0x01-0x1A from U+0041), the
    # rest as bfchar pairs — exercises BOTH section kinds
    bfchars = "\n".join(
        f"<{1 + i:02X}> <{ord(c):04X}>"
        for i, c in enumerate(alpha)
        if not ("A" <= c <= "Z")
    )
    n_chars = sum(1 for c in alpha if not ("A" <= c <= "Z"))
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "begincmap\n"
        "1 begincodespacerange <00> <FF> endcodespacerange\n"
        "1 beginbfrange\n<01> <1A> <0041>\nendbfrange\n"
        f"{n_chars} beginbfchar\n{bfchars}\nendbfchar\n"
        "endcmap end"
    ).encode("latin-1")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w} {page_h}] "
            "/Resources << /Font << /F1 4 0 R /F2 5 0 R >> >> /Contents 6 0 R >>"
        ).encode(),
        (
            "<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+Helvetica "
            f"/Encoding << /Type /Encoding /Differences [ 160 /{diffs.replace(' ', ' /')} ] >> >>"
        ).encode(),
        b"<< /Type /Font /Subtype /Type0 /BaseFont /GHIJKL+Custom /ToUnicode 7 0 R >>",
        (f"<< /Length {len(stream)} /Filter /FlateDecode >>\nstream\n").encode()
        + stream
        + b"\nendstream",
        (f"<< /Length {len(cmap)} >>\nstream\n").encode() + cmap + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def pdf_custom_encoding_golden(
    boxes: list[dict], column: list[dict], page_h: int = 792
) -> list[dict]:
    """Golden spans for `pdf_custom_encoding_bytes`: boxes sorted by
    (y1, x1) with the y-flip, then the column top-down — the DECODED
    text, independent of the byte obfuscation."""
    rows = [
        {
            "page": 0,
            "x": round(float(b["x1"]), 1),
            "y": round(float(page_h - b["y1"] - 10), 1),
            "text": str(b["text"]),
        }
        for b in sorted(boxes, key=lambda b: (b["y1"], b["x1"]))
    ]
    rows += [
        {"page": 0, "x": 72.0, "y": round(700.0 - i * 18.0, 1), "text": str(c["text"])}
        for i, c in enumerate(column)
    ]
    return rows


def write_pdf_corpus(out_dir: str, n_docs: int, seed: int = 42) -> dict[str, str]:
    import json

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        name: os.path.join(out_dir, f"{name}.parquet")
        for name in ("pdf_media", "golden_pdf_spans")
    }
    # fmt 2 (round 6): ~40% of good docs use the MODERN layout
    # (pdf_modern_bytes: ObjStm + xref stream w/ Predictor-12 + two
    # /Contents streams + TL/T*/' + indirect /Length + incremental-
    # update decoy) — the parser scope of VERDICT r5 item 5
    # fmt 3: modern stream 2 renders every other line as a HEX string
    # fmt 4 (round 7): ~20% rotate to the CUSTOM-ENCODING layout
    # (pdf_custom_encoding_bytes: /Encoding /Differences + /ToUnicode
    # CMap — string bytes are not the text, VERDICT r6 item 7)
    params = {"n_docs": n_docs, "seed": seed, "fmt": 4}
    params_path = os.path.join(out_dir, "params.json")
    if all(os.path.exists(p) for p in paths.values()) and os.path.exists(params_path):
        with open(params_path) as f:
            if json.load(f) == params:
                return paths
    page_h = 792
    media_rows, golden_rows = [], []
    for di in range(n_docs):
        doc_id = f"pdf-{di:06d}"
        if _h(seed, "pdfbad", di) % 9 == 0:
            payload = b"%FDP not-a-pdf" + hashlib.md5(doc_id.encode()).digest()
            media_rows.append({"doc_id": doc_id, "artifact": payload})
            golden_rows.append(
                {"doc_id": doc_id, "page": None, "x": None, "y": None, "text": None}
            )
            continue
        boxes = []
        n_boxes = 2 + _h(seed, "pdfn", di) % 5
        for bi in range(n_boxes):
            hb = _h(seed, "pdfbox", di, bi)
            x1 = 20 + (hb % 26) * 20
            y1 = 30 + ((hb >> 8) % 24) * 30
            word = _OCR_WORDS[(hb >> 16) % len(_OCR_WORDS)]
            tail = _PDF_TAILS[(hb >> 24) % len(_PDF_TAILS)]
            boxes.append(
                {"x1": x1, "y1": y1, "x2": x1 + 60, "y2": y1 + 14, "text": word + tail}
            )
        hm = _h(seed, "pdfmodern", di) % 5
        if hm < 3:  # modern (xref stream) or custom-encoding layout
            n_col = 2 + _h(seed, "pdfcol", di) % 3
            column = [
                {
                    "text": _OCR_WORDS[
                        _h(seed, "pdfcolw", di, ci) % len(_OCR_WORDS)
                    ]
                    + _PDF_TAILS[
                        (_h(seed, "pdfcolw", di, ci) >> 16) % len(_PDF_TAILS)
                    ]
                }
                for ci in range(n_col)
            ]
            build, golden_fn = (
                (pdf_modern_bytes, pdf_modern_golden)
                if hm < 2
                else (pdf_custom_encoding_bytes, pdf_custom_encoding_golden)
            )
            media_rows.append(
                {"doc_id": doc_id, "artifact": build(boxes, column)}
            )
            for r in golden_fn(boxes, column, page_h=page_h):
                golden_rows.append({"doc_id": doc_id, **r})
            continue
        media_rows.append(
            {"doc_id": doc_id, "artifact": pdf_from_boxes(boxes)}
        )
        # golden = the spans a correct parser recovers, in drawing order
        # (the sink sorts by (y1, x1) and flips y: y = page_h - y1 - 10)
        for b in sorted(boxes, key=lambda b: (b["y1"], b["x1"])):
            golden_rows.append(
                {
                    "doc_id": doc_id,
                    "page": 0,
                    "x": round(float(b["x1"]), 1),
                    "y": round(float(page_h - b["y1"] - 10), 1),
                    "text": b["text"],
                }
            )
    pq.write_table(
        pa.Table.from_pylist(media_rows, schema=PDF_MEDIA_SCHEMA),
        paths["pdf_media"],
        row_group_size=500,
    )
    pq.write_table(
        pa.Table.from_pylist(golden_rows, schema=PDF_GOLDEN_SCHEMA),
        paths["golden_pdf_spans"],
    )
    with open(params_path, "w") as f:
        json.dump(params, f)
    return paths
