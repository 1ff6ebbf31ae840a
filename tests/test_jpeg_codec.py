"""Baseline JPEG codec unit tests (extraction/ocr/jpeg.py) + the mixed
PNG/JPEG extraction tier (reference allow-list jpg/png/tif,
/root/reference/env/local.env:25)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ms_ocr_spark.extraction.ocr import ScopeError, decode_image, decode_media
from ms_ocr_spark.extraction.ocr.jpeg import (
    decode_gray_jpeg,
    encode_gray_jpeg,
    jpeg_side_values,
)
from ms_ocr_spark.extraction.pipeline import media_status


def _rejected_as(b: bytes) -> str:
    """The quarantine reason of the ScopeError the decoder raises on `b`."""
    with pytest.raises(ScopeError) as e:
        decode_gray_jpeg(b)
    return e.value.args[0]


def test_round_trip_flat_quant_error_bound():
    rng = np.random.default_rng(7)
    for shape in [(8, 8), (53, 201), (40, 64), (17, 9)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        dec = decode_gray_jpeg(encode_gray_jpeg(img))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_round_trip_text_like_image():
    img = np.full((45, 180), 255, dtype=np.uint8)
    img[10:17, 20:150:3] = 0
    dec = decode_gray_jpeg(encode_gray_jpeg(img))
    # binarized content identical (the property OCR actually needs)
    assert np.array_equal(dec < 128, img < 128)


def test_jfif_density_round_trip():
    img = np.zeros((16, 16), dtype=np.uint8)
    assert jpeg_side_values(encode_gray_jpeg(img, dpi=300.0))["dpi"] == 300.0
    assert jpeg_side_values(encode_gray_jpeg(img))["dpi"] is None


def test_lossy_quant_table_decodes():
    """A non-flat quant table (real-world quality levels) still decodes;
    tables are read from the stream, not assumed."""
    rng = np.random.default_rng(3)
    img = rng.integers(100, 156, (24, 32), dtype=np.uint8)  # low contrast
    q = np.ones(64, dtype=np.int64) * 4
    dec = decode_gray_jpeg(encode_gray_jpeg(img, quant=q))
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8


def test_decode_media_dispatch():
    from ms_ocr_spark.extraction.ocr import encode_gray

    img = np.full((20, 30), 200, dtype=np.uint8)
    assert np.array_equal(decode_media(encode_gray(img)), img)
    assert np.abs(
        decode_media(encode_gray_jpeg(img)).astype(int) - img.astype(int)
    ).max() <= 2
    from ms_ocr_spark.extraction.ocr import encode_gray_tiff

    assert np.array_equal(decode_media(encode_gray_tiff(img)), img)
    with pytest.raises(ValueError):
        decode_media(b"II*\x00 truncated-garbage-tiff")
    with pytest.raises(ValueError):
        decode_media(b"garbage")


def test_truncated_jpeg_raises():
    img = np.full((24, 24), 128, dtype=np.uint8)
    data = encode_gray_jpeg(img)
    with pytest.raises(Exception):
        decode_gray_jpeg(data[:20])


def test_jpeg_tier_ocr_exact():
    """Every JPEG payload in the mixed tier decodes to its exact truth
    text through the full kernel (the hash-green property the driver
    checks at corpus level)."""
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, meta, _ = gen_corpus(16, seed=45, jpeg_pct=0.6, processes=1)
    n_jpeg = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if buf[:3] == b"\xff\xd8\xff":
            n_jpeg += 1
        assert decode_image(decode_media(buf)) == row["truth_text"]
    assert n_jpeg > 0
    fmts = {r["format"] for r in meta.to_pylist()}
    assert fmts == {"png", "jpeg"}


# ---------------------------------------------------------------- progressive
from ms_ocr_spark.extraction.ocr.jpeg import (  # noqa: E402
    _SOF_MARKERS,
    _segments,
    encode_gray_jpeg_progressive,
    encode_progressive_stub,
)
from codec_stubs import encode_multicomponent_stub  # noqa: E402


def _sof(b: bytes) -> tuple[int | None, bytes]:
    """(marker, payload) of a JPEG's frame header as the codec's segment
    reader finds it; (None, b"") for a stream without one."""
    if b[:3] != b"\xff\xd8\xff":
        return None, b""
    return next(((m, p) for m, p in _segments(b) if m in _SOF_MARKERS), (None, b""))


def _image_zoo() -> list[np.ndarray]:
    rng = np.random.default_rng(11)
    zoo = [
        rng.integers(0, 256, (40, 72), dtype=np.uint8),  # noise
        np.full((5, 6), 200, dtype=np.uint8),  # sub-block tiny
    ]
    # mostly-white sparse image: nearly all AC-empty blocks, so the
    # encoder MUST accumulate cross-block EOB runs (> 1) and the decoder
    # MUST replay them (the round-4 decode-scope gap's hardest path)
    a = np.full((64, 128), 255, dtype=np.uint8)
    a[30:33, 60:63] = 0
    zoo.append(a)
    # high-frequency checkerboard: dense AC bands incl. ZRL runs
    c = np.zeros((48, 48), dtype=np.uint8)
    c[::2, ::2] = 255
    c[1::2, 1::2] = 255
    zoo.append(c)
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    zoo.append(render_text("PROGRESSIVE JPEG\nSCAN 123"))
    return zoo


def test_progressive_decode_bit_identical_to_baseline():
    """The 6-scan script carries the quantized coefficients to full
    precision, so progressive decode == baseline decode EXACTLY."""
    for img in _image_zoo():
        pb = encode_gray_jpeg_progressive(img)
        assert _sof(pb)[0] == 0xC2
        assert np.array_equal(
            decode_gray_jpeg(pb), decode_gray_jpeg(encode_gray_jpeg(img))
        )


def test_progressive_eob_runs_actually_accumulate():
    """Guard against the encoder silently degrading to EOBRUN<=1 (which
    would leave the decoder's multi-block EOB-run path untested): the
    sparse image's AC-first scan must contain an EOBn symbol with n>0,
    i.e. the scan must be shorter than one EOB code per block."""
    from ms_ocr_spark.extraction.ocr.jpeg import _enc_ac_first, _quantize_blocks

    # all-white image: every block's AC band is empty, so the whole scan
    # must be ONE EOBn symbol covering all 128 blocks (9-bit code + 7
    # run-length bits = 2 bytes) — an EOBRUN<=1 encoder would emit 128
    # symbols (~144 bytes)
    zz = _quantize_blocks(np.full((64, 128), 255, dtype=np.uint8),
                          np.ones(64, dtype=np.int64))
    assert zz.shape[0] == 128
    scan = _enc_ac_first(zz, 6, 63, 1)
    assert len(scan) <= 4, len(scan)
    # and the sparse dotted image (two dense blocks mid-run) still
    # round-trips exactly -> the decoder replays multi-block EOB runs
    a = np.full((64, 128), 255, dtype=np.uint8)
    a[30:33, 60:63] = 0
    assert np.array_equal(
        decode_gray_jpeg(encode_gray_jpeg_progressive(a)),
        decode_gray_jpeg(encode_gray_jpeg(a)),
    )


def test_progressive_decode_with_fill_bytes_and_dispatch():
    img = (np.arange(40 * 72).reshape(40, 72) % 256).astype(np.uint8)
    pb = encode_gray_jpeg_progressive(img)
    i = pb.find(b"\xff\xc2")
    padded = pb[:i] + b"\xff\xff" + pb[i:]
    j = padded.find(b"\xff\xda", padded.find(b"\xff\xda") + 2)
    padded = padded[:j] + b"\xff" + padded[j:]
    assert np.array_equal(
        decode_media(padded), decode_gray_jpeg(encode_gray_jpeg(img))
    )


def test_progressive_jfif_density():
    img = np.zeros((16, 16), dtype=np.uint8)
    assert jpeg_side_values(encode_gray_jpeg_progressive(img, dpi=144.0))["dpi"] == 144.0


def test_jpeg_scope_reasons():
    img = np.full((24, 24), 128, dtype=np.uint8)
    assert media_status(encode_gray_jpeg(img), None)[1] == "ok"
    assert media_status(encode_gray_jpeg_progressive(img), None)[1] == "ok"
    assert media_status(encode_progressive_stub(), None) == (None, "truncated_jpeg")
    # round 6: 3-component (color) frames are IN scope — the header-only
    # stub now reads as a transfer-cut color JPEG; the layout-quarantine
    # fixture is the lossless (SOF3) stub
    assert _rejected_as(encode_multicomponent_stub()) == "truncated_jpeg"
    from ms_ocr_spark.extraction.ocr.jpeg import encode_lossless_stub

    assert _rejected_as(encode_lossless_stub()) == "unsupported_jpeg_layout"
    # cut mid-markers -> truncated
    assert _rejected_as(encode_gray_jpeg(img)[:12]) == "truncated_jpeg"


def test_progressive_tier_ocr_exact():
    """Every progressive payload in the mixed tier decodes to its exact
    truth text through the full kernel."""
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, _, _ = gen_corpus(
        16, seed=52, jpeg_pct=0.15, prog_jpeg_pct=0.45, processes=1
    )
    n_prog = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if _sof(buf)[0] == 0xC2:
            n_prog += 1
        assert decode_image(decode_media(buf)) == row["truth_text"]
    assert n_prog > 0


def test_jpeg_side_values_round_trip():
    """APP1 EXIF orientation + APP2 ICC name + JFIF dpi parse back from
    both baseline and progressive encodings (S5 side-value parity)."""
    from ms_ocr_spark.extraction.ocr.jpeg import jpeg_side_values

    img = np.full((24, 40), 180, dtype=np.uint8)
    for enc in (encode_gray_jpeg, encode_gray_jpeg_progressive):
        b = enc(img, dpi=150.0, icc_name="synthetic-gray", exif_orientation=1)
        assert jpeg_side_values(b) == {
            "dpi": 150.0,
            "icc_name": "synthetic-gray",
            "orientation": 1,
        }
        # side segments never perturb pixel decode
        assert np.array_equal(decode_gray_jpeg(b), decode_gray_jpeg(enc(img)))
        assert jpeg_side_values(enc(img)) == {
            "dpi": None,
            "icc_name": None,
            "orientation": None,
        }
    assert jpeg_side_values(b"garbage") == {
        "dpi": None,
        "icc_name": None,
        "orientation": None,
    }


def test_icc_profile_name_rejects_garbage():
    from ms_ocr_spark.extraction.ocr.icc import icc_profile, icc_profile_name

    assert icc_profile_name(icc_profile("abc")) == "abc"
    assert icc_profile_name(b"\x00" * 200) is None
    assert icc_profile_name(b"short") is None
    assert icc_profile_name(None) is None


def test_restart_interval_round_trip():
    """DRI/RSTn (T.81 B.2.1.2, round 5): restart-marked streams decode
    bit-identically to their unrestarted encoding at any interval —
    DC-predictor resets and byte re-alignment replay exactly; side-value
    segments compose."""
    from ms_ocr_spark.extraction.ocr.jpeg import jpeg_side_values

    rng = np.random.default_rng(5)
    imgs = [
        rng.integers(0, 256, (53, 201), dtype=np.uint8),
        np.full((64, 128), 255, dtype=np.uint8),
    ]
    for img in imgs:
        ref = decode_gray_jpeg(encode_gray_jpeg(img))
        for ri in (1, 3, 8, 10000):
            b = encode_gray_jpeg(img, restart_interval=ri)
            assert np.array_equal(decode_gray_jpeg(b), ref), ri
        b = encode_gray_jpeg(
            img, dpi=72.0, icc_name="x", exif_orientation=1, restart_interval=5
        )
        assert np.array_equal(decode_gray_jpeg(b), ref)
        assert jpeg_side_values(b)["icc_name"] == "x"


def test_restart_interval_missing_segment_raises():
    img = np.random.default_rng(5).integers(0, 256, (53, 201), dtype=np.uint8)
    b = encode_gray_jpeg(img, restart_interval=8)
    i = b.find(b"\xff\xd0")
    with pytest.raises(Exception):
        decode_gray_jpeg(b[:i] + b[i + 2 :][:-50])


def test_dri_in_scope_for_baseline_and_progressive():
    """Round 6: DRI decodes in BOTH frame types.  A stream that DECLARES
    an interval but carries no RSTn markers is malformed per T.81
    (markers SHALL appear every Ri MCUs) and still raises."""
    img = np.random.default_rng(5).integers(0, 256, (40, 48), dtype=np.uint8)
    base = decode_gray_jpeg(encode_gray_jpeg(img))
    assert np.array_equal(decode_gray_jpeg(encode_gray_jpeg(img, restart_interval=4)), base)
    for ri in (1, 4, 11):
        pb = encode_gray_jpeg_progressive(img, restart_interval=ri)
        assert _sof(pb)[0] == 0xC2
        assert np.array_equal(decode_gray_jpeg(pb), base), ri
    # declared-but-absent restarts: malformed, quarantined at decode
    pb = encode_gray_jpeg_progressive(img)
    i = pb.find(b"\xff\xda")
    with_dri = pb[:i] + b"\xff\xdd\x00\x04\x00\x04" + pb[i:]
    with pytest.raises(ValueError):
        decode_gray_jpeg(with_dri)


def test_color_progressive_restart_intervals():
    """Interleaved-DC and per-component-AC restart chunking: DRI color
    progressive decodes bit-identically to the no-DRI encoding."""
    rgb = _color_zoo()[1]
    for samp in ("444", "420"):
        base = decode_jpeg(encode_color_jpeg_progressive(rgb, samp))
        for ri in (1, 3):
            b = encode_color_jpeg_progressive(rgb, samp, restart_interval=ri)
            assert np.array_equal(decode_jpeg(b), base), (samp, ri)


# ------------------------------------------------------------------- color
from ms_ocr_spark.extraction.ocr.jpeg import (  # noqa: E402
    _box_downsample,
    decode_jpeg,
    encode_color_jpeg,
    encode_color_jpeg_progressive,
    rgb_to_ycbcr,
    ycbcr_to_rgb,
)


def _color_zoo() -> list[np.ndarray]:
    rng = np.random.default_rng(61)
    zoo = [rng.integers(0, 256, (40, 72, 3), dtype=np.uint8)]  # noise
    g = np.zeros((33, 41, 3), np.uint8)  # odd dims, steep gradients
    g[..., 0] = np.linspace(0, 255, 41, dtype=np.uint8)[None, :]
    g[..., 1] = np.linspace(255, 0, 33, dtype=np.uint8)[:, None]
    g[..., 2] = 77
    zoo.append(g)
    zoo.append(np.full((8, 8, 3), 200, np.uint8))  # single MCU-sub block
    t = np.full((64, 128, 3), 245, np.uint8)  # sparse ink (EOB runs)
    t[30:33, 60:63] = (180, 30, 30)
    zoo.append(t)
    return zoo


def _ideal_420(rgb: np.ndarray) -> np.ndarray:
    """Chroma 2x2 box-downsample + replicate-upsample roundtrip — the
    information genuinely discarded by 4:2:0; the codec must stay
    within DCT-rounding distance of THIS, not of the original."""
    h, w = rgb.shape[:2]
    y, cb, cr = rgb_to_ycbcr(rgb)
    up = lambda p: np.repeat(np.repeat(_box_downsample(p, 2, 2), 2, 0), 2, 1)[
        :h, :w
    ]
    return ycbcr_to_rgb(y, up(cb), up(cr))


def test_color_roundtrip_within_subsampling_loss():
    for rgb in _color_zoo():
        for samp in ("444", "420"):
            ref = rgb if samp == "444" else _ideal_420(rgb)
            for enc in (encode_color_jpeg, encode_color_jpeg_progressive):
                out = decode_jpeg(enc(rgb, samp))
                assert out.shape == rgb.shape
                err = np.abs(out.astype(int) - ref.astype(int)).max()
                assert err <= 8, (samp, enc.__name__, err)


def test_color_luminance_invariant_under_chroma_subsampling():
    """BT.601 gray of the decoded RGB matches the gray of the source to
    within rounding even at 4:2:0 — the property the OCR path relies on:
    chroma error cancels out of the re-derived luminance AS LONG AS the
    reconstructed RGB doesn't clip (out-of-gamut YCbCr breaks the
    cancellation: random-noise colors hit it hard, and saturated corpus
    inks like (0,0,128) clip a few STROKE-EDGE pixels — the error lands
    next to the ink level, ~100 gray levels from the binarize
    threshold).  So the load-bearing assertion is binarized equality —
    exactly what the OCR kernel consumes — plus a loose absolute
    bound."""
    from ms_ocr_spark.extraction.ocr.glyphs import render_text
    from ms_ocr_spark.extraction.ocr.png import rgb_to_gray
    from ms_ocr_spark.sources.datagen import _RGB_BGS, _RGB_INKS, colorize

    gray = render_text("COLOR JPEG\nLUMA 42")
    for ink, bg in zip(_RGB_INKS, _RGB_BGS):
        rgb = colorize(gray, ink, bg)
        src = rgb_to_gray(rgb)
        for samp in ("444", "420"):
            for enc in (encode_color_jpeg, encode_color_jpeg_progressive):
                got = rgb_to_gray(decode_jpeg(enc(rgb, samp)))
                assert np.array_equal(got < 128, src < 128), (ink, samp)
                err = np.abs(got.astype(int) - src.astype(int)).max()
                assert err <= 32, (ink, samp, enc.__name__, err)


def test_color_gray_dispatch_and_scope():
    rgb = _color_zoo()[1]
    for samp in ("444", "420"):
        b = encode_color_jpeg(rgb, samp)
        p = encode_color_jpeg_progressive(rgb, samp)
        assert _sof(p)[0] == 0xC2 and _sof(b)[0] != 0xC2
        # decode_gray_jpeg dispatches 3-component frames through the
        # color core -> BT.601 gray
        for g in (decode_gray_jpeg(b), decode_gray_jpeg(p)):
            assert g.shape == rgb.shape[:2] and g.dtype == np.uint8


def test_color_restart_intervals():
    rgb = _color_zoo()[0]
    plain = decode_jpeg(encode_color_jpeg(rgb, "420"))
    for ri in (1, 3, 7):
        b = encode_color_jpeg(rgb, "420", restart_interval=ri)
        assert np.array_equal(decode_jpeg(b), plain), ri


def test_color_side_values():
    from ms_ocr_spark.extraction.ocr.jpeg import jpeg_side_values

    rgb = np.full((16, 24, 3), 120, np.uint8)
    b = encode_color_jpeg(rgb, "420", dpi=200.0, icc_name="sRGB", exif_orientation=6)
    sv = jpeg_side_values(b)
    assert sv == {"dpi": 200.0, "icc_name": "sRGB", "orientation": 6}
    p = encode_color_jpeg_progressive(
        rgb, "444", dpi=150.0, icc_name="AdobeRGB", exif_orientation=3
    )
    sv = jpeg_side_values(p)
    assert sv == {"dpi": 150.0, "icc_name": "AdobeRGB", "orientation": 3}


def test_colorize_is_luminance_preserving():
    """lum(colorize(g)) == clip(g, L_ink, L_bg) +/- 1 — the datagen
    invariant that gives colorized tiers the gray tiers' exact decode
    margins (a plain 0..255 ramp shifted the binarize threshold and
    thinned rotated glyph strokes)."""
    from ms_ocr_spark.extraction.ocr.png import rgb_to_gray
    from ms_ocr_spark.sources.datagen import _RGB_BGS, _RGB_INKS, colorize

    g = np.random.default_rng(9).integers(0, 256, (30, 40), dtype=np.uint8)
    w = np.array([0.299, 0.587, 0.114])
    for ink in _RGB_INKS:
        for bg in _RGB_BGS:
            lum = rgb_to_gray(colorize(g, ink, bg))
            lo, hi = w @ np.array(ink), w @ np.array(bg)
            tgt = np.clip(g, np.ceil(lo), np.floor(hi))
            assert np.abs(lum.astype(float) - tgt).max() <= 1.0, (ink, bg)


def test_color_tier_ocr_exact():
    """Every color-JPEG payload in the tier (rotating baseline 4:4:4 /
    4:2:0 / 4:2:0+RSTn / progressive 4:4:4 / 4:2:0) decodes to its
    exact truth text through the full kernel."""
    from ms_ocr_spark.extraction.ocr import decode_media
    from ms_ocr_spark.extraction.ocr.kernel import decode_image
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, meta, _ = gen_corpus(20, seed=53, color_jpeg_pct=0.6, processes=1)
    n_color = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if buf[:3] == b"\xff\xd8\xff":
            n_color += 1
        assert decode_image(decode_media(buf)) == row["truth_text"], row[
            "media_ref"
        ]
    assert n_color >= 5


# ------------------------------------------------------------------- adam7
def test_adam7_round_trip_and_foreign_filters():
    """Adam7 interlaced grayscale: exact roundtrip at awkward dims
    (sub-pass-empty shapes included), plus a hand-built stream whose
    sub-images use the Up filter — per-pass filter context resets."""
    import struct
    import zlib

    from ms_ocr_spark.extraction.ocr.png import (
        _ADAM7,
        _SIGNATURE,
        _adam7_dims,
        _chunk,
        decode_gray,
        encode_gray,
        side_values,
    )

    rng = np.random.default_rng(8)
    for shape in [(32, 64), (33, 41), (7, 5), (1, 1), (8, 8), (100, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_gray(encode_gray(img, interlace=True)), img)
    img = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    raw = bytearray()
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(56, 40)):
        if not pw or not ph:
            continue
        prev = np.zeros(pw, dtype=np.int64)
        for r in range(ph):
            line = img[y0 + r * dy, x0::dx].astype(np.int64)
            raw.append(2)  # Up
            raw.extend(((line - prev) & 0xFF).astype(np.uint8).tobytes())
            prev = line
    ihdr = struct.pack(">IIBBBBB", 56, 40, 8, 0, 0, 0, 1)
    b = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_gray(b), img)
    # ancillary side-values ride along unchanged
    sv = side_values(encode_gray(img, exif_orientation=3, interlace=True))
    assert sv["orientation"] == 3


def test_adam7_tier_ocr_exact():
    """Interlaced PNGs appear in the mixed tier (~25% of gray PNGs) and
    decode to exact truth text; non-interlaced outputs byte-identical."""
    from ms_ocr_spark.extraction.ocr import decode_media
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, _, _ = gen_corpus(16, seed=61, processes=1)
    n_interlaced = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if buf[:8] == b"\x89PNG\r\n\x1a\n":
            ihdr_at = buf.index(b"IHDR") + 4
            n_interlaced += buf[ihdr_at + 12] == 1
        assert decode_image(decode_media(buf)) == row["truth_text"]
    assert n_interlaced >= 2


def test_color_422_roundtrip():
    """4:2:2 (horizontal-only chroma subsample) — the general MCU
    machinery handles (2,1) factors; decode stays within DCT-rounding
    distance of the ideal 1x2 box-downsample roundtrip."""
    from ms_ocr_spark.extraction.ocr.jpeg import (
        _box_downsample,
        rgb_to_ycbcr,
        ycbcr_to_rgb,
    )

    def ideal(rgb):
        h, w, _ = rgb.shape
        y, cb, cr = rgb_to_ycbcr(rgb)
        up = lambda p: np.repeat(_box_downsample(p, 1, 2), 2, 1)[:, :w]
        return ycbcr_to_rgb(y, up(cb), up(cr))

    for rgb in _color_zoo()[1:3]:
        ref = ideal(rgb)
        for enc in (encode_color_jpeg, encode_color_jpeg_progressive):
            b = enc(rgb, "422")
            err = np.abs(decode_jpeg(b).astype(int) - ref.astype(int)).max()
            assert err <= 8, (enc.__name__, err)


def test_palette_png_round_trip():
    """Indexed-color PNG (type 3): PLTE mapping -> BT.601 equals the
    truecolor path exactly when the palette is the colorize ramp."""
    from ms_ocr_spark.extraction.ocr.png import (
        decode_gray as png_decode_gray,
        encode_palette,
        rgb_to_gray,
    )
    from ms_ocr_spark.sources.datagen import _RGB_BGS, _RGB_INKS, colorize

    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (33, 47), dtype=np.uint8)
    ink, bg = _RGB_INKS[0], _RGB_BGS[0]
    ramp = colorize(np.arange(256, dtype=np.uint8)[None, :], ink, bg)[0]
    out = png_decode_gray(encode_palette(img, ramp))
    assert np.array_equal(out, rgb_to_gray(colorize(img, ink, bg)))
    with pytest.raises(ValueError):
        encode_palette(img, ramp[:4])  # index out of palette range


# -------------------------------------------------------------------- cmyk
def test_cmyk_adobe_round_trip():
    """4-component Adobe APP14 CMYK (transform 0, samples stored
    inverted): decode undoes the inversion and composites to RGB within
    DCT-rounding of the CMYK-model roundtrip; gray dispatch matches the
    source luminance."""
    from ms_ocr_spark.extraction.ocr.jpeg import (
        adobe_app14_transform,
        cmyk_to_rgb,
        decode_jpeg,
        encode_cmyk_jpeg,
        jpeg_side_values,
        rgb_to_cmyk,
    )
    from ms_ocr_spark.extraction.ocr.png import rgb_to_gray

    for rgb in _color_zoo()[1:]:
        b = encode_cmyk_jpeg(rgb)
        assert adobe_app14_transform(b) == 0
        ideal = cmyk_to_rgb(*rgb_to_cmyk(rgb))
        err = np.abs(
            decode_jpeg(b).astype(int) - ideal.astype(int)
        ).max()
        assert err <= 4, err
        g = decode_gray_jpeg(b)
        gerr = np.abs(g.astype(int) - rgb_to_gray(rgb).astype(int)).max()
        assert gerr <= 6, gerr
    b = encode_cmyk_jpeg(
        np.full((16, 24, 3), 120, np.uint8),
        dpi=200.0,
        icc_name="sRGB",
        exif_orientation=6,
    )
    assert jpeg_side_values(b) == {
        "dpi": 200.0,
        "icc_name": "sRGB",
        "orientation": 6,
    }


def test_ycck_round_trip():
    """YCCK (Adobe transform 2, round 6): the inverted CMY channels ride
    the standard YCbCr transform with K scalar; decode composites back
    within rounding of the CMYK-model roundtrip."""
    from ms_ocr_spark.extraction.ocr.jpeg import (
        adobe_app14_transform,
        cmyk_to_rgb,
        decode_jpeg,
        encode_ycck_jpeg,
        rgb_to_cmyk,
    )
    from ms_ocr_spark.extraction.ocr.png import rgb_to_gray

    for rgb in _color_zoo()[1:3]:
        b = encode_ycck_jpeg(rgb)
        assert adobe_app14_transform(b) == 2
        ideal = cmyk_to_rgb(*rgb_to_cmyk(rgb))
        err = np.abs(
            decode_jpeg(b).astype(int) - ideal.astype(int)
        ).max()
        assert err <= 6, err
        g = decode_gray_jpeg(b)
        gerr = np.abs(g.astype(int) - rgb_to_gray(rgb).astype(int)).max()
        assert gerr <= 6, gerr


def test_cmyk_untagged_and_unknown_transform_quarantine():
    """4-component frames with an unknown transform byte or no Adobe
    APP14 at all stay out of scope: the decoder raises the scope reason."""
    from ms_ocr_spark.extraction.ocr.jpeg import encode_cmyk_jpeg

    rgb = np.full((16, 16, 3), 150, np.uint8)
    b = encode_cmyk_jpeg(rgb)
    i = b.find(b"Adobe")
    # corrupt the transform byte to 1 (YCbCr — invalid for 4 components)
    bad = b[: i + 11] + b"\x01" + b[i + 12 :]
    assert _rejected_as(bad) == "unsupported_jpeg_layout"
    # strip the APP14 segment entirely -> untagged 4-comp
    j = b.find(b"\xff\xee")
    import struct as _s

    (seg_len,) = _s.unpack(">H", b[j + 2 : j + 4])
    untagged = b[:j] + b[j + 2 + seg_len :]
    assert _rejected_as(untagged) == "unsupported_jpeg_layout"


def test_cmyk_tier_ocr_exact():
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, _, _ = gen_corpus(40, seed=53, color_jpeg_pct=0.55, processes=1)
    n_cmyk = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if _sof(buf)[1][5:6] == b"\x04":
            n_cmyk += 1
        assert decode_image(decode_media(buf)) == row["truth_text"]
    assert n_cmyk >= 3


def test_png_16bit_gray_decode():
    """Depth-16 grayscale PNGs collapse to the high byte (the 8-bit
    pipeline's view, same convention as the TIFF codec) — plain,
    filtered, and Adam7-interlaced layouts."""
    import struct
    import zlib

    from ms_ocr_spark.extraction.ocr.png import (
        _ADAM7,
        _SIGNATURE,
        _adam7_dims,
        _chunk,
        decode_gray as png_decode_gray,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (21, 33), dtype=np.uint8)
    wide = (img.astype(">u2") * 257).astype(">u2")
    ihdr = struct.pack(">IIBBBBB", 33, 21, 16, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + wide[r].tobytes() for r in range(21))
    b = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode_gray(b), img)
    # Up-filtered scanlines
    raw2 = bytearray()
    prev = np.zeros(66, dtype=np.int64)
    for r in range(21):
        line = np.frombuffer(wide[r].tobytes(), dtype=np.uint8).astype(np.int64)
        raw2.append(2)
        raw2.extend(((line - prev) & 0xFF).astype(np.uint8).tobytes())
        prev = line
    b2 = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw2)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode_gray(b2), img)
    # Adam7-interlaced 16-bit
    raw3 = bytearray()
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(33, 21)):
        if not pw or not ph:
            continue
        for r in range(ph):
            raw3.append(0)
            raw3.extend(wide[y0 + r * dy, x0::dx].tobytes())
    ihdr3 = struct.pack(">IIBBBBB", 33, 21, 16, 0, 0, 0, 1)
    b3 = (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr3)
        + _chunk(b"IDAT", zlib.compress(bytes(raw3)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode_gray(b3), img)


def test_png_16bit_filtered_sub_avg_paeth():
    """ADVICE r6 (medium): PNG filtering at depth 16 references the left
    pixel bpp=2 bytes back (spec 4.5.3).  Encode each filter type with
    the spec-correct 2-byte offset and require exact decode — the old
    1-byte-offset defilter produced silently wrong pixels."""
    import struct
    import zlib

    from ms_ocr_spark.extraction.ocr.png import (
        _SIGNATURE,
        _chunk,
        _paeth,
        decode_gray as png_decode_gray,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (9, 17), dtype=np.uint8)
    wide = (img.astype(">u2") * 257).astype(">u2")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    bpp = 2
    for ftype in (1, 3, 4):
        raw = bytearray()
        prev = np.zeros(w * bpp, dtype=np.int64)
        for r in range(h):
            line = np.frombuffer(wide[r].tobytes(), dtype=np.uint8).astype(np.int64)
            enc = np.zeros_like(line)
            for x in range(w * bpp):
                left = line[x - bpp] if x >= bpp else 0
                ul = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + prev[x]) // 2
                else:
                    pred = _paeth(int(left), int(prev[x]), int(ul))
                enc[x] = (line[x] - pred) & 0xFF
            raw.append(ftype)
            raw.extend(enc.astype(np.uint8).tobytes())
            prev = line
        b = (
            _SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        assert np.array_equal(png_decode_gray(b), img), f"filter {ftype}"
    # the ADVICE repro: adjacent samples 0x1234, 0x1235 Sub-filtered must
    # decode high bytes [18, 18], not [18, 70]
    w2 = np.array([[0x1234, 0x1235]], dtype=">u2")
    line = np.frombuffer(w2.tobytes(), dtype=np.uint8).astype(np.int64)
    enc = line.copy()
    enc[2:] = (line[2:] - line[:-2]) & 0xFF
    b2 = (
        _SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b"\x01" + enc.astype(np.uint8).tobytes()))
        + _chunk(b"IEND", b"")
    )
    assert png_decode_gray(b2).tolist() == [[0x12, 0x12]]


def test_png_alpha_layouts_decode():
    """Round 7 (VERDICT r6 item 5): RGBA (ctype 6), gray+alpha (ctype
    4), palette+tRNS, and truecolor filtered scanlines all decode;
    alpha composites over white before BT.601."""
    from ms_ocr_spark.extraction.ocr.png import (
        _composite_white,
        decode_gray as png_decode_gray,
        encode_gray_alpha,
        encode_palette,
        encode_rgba,
        rgb_to_gray,
    )

    rng = np.random.default_rng(12)
    rgba = rng.integers(0, 256, (19, 23, 4), dtype=np.uint8)
    exp = rgb_to_gray(_composite_white(rgba[:, :, :3], rgba[:, :, 3]))
    assert np.array_equal(png_decode_gray(encode_rgba(rgba)), exp)

    gray = rng.integers(0, 256, (19, 23), dtype=np.uint8)
    alpha = rng.integers(0, 256, (19, 23), dtype=np.uint8)
    expga = _composite_white(gray[:, :, None], alpha)[:, :, 0]
    assert np.array_equal(png_decode_gray(encode_gray_alpha(gray, alpha)), expga)

    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (19, 23), dtype=np.uint8)
    trns = rng.integers(0, 256, 16, dtype=np.uint8)
    tab = np.full(256, 255, np.uint8)
    tab[:16] = trns
    expp = rgb_to_gray(_composite_white(pal[idx], tab[idx]))
    assert np.array_equal(png_decode_gray(encode_palette(idx, pal, trns)), expp)
    # fully opaque alpha == the plain path, byte-identical
    opaque = np.full((19, 23, 4), 0, np.uint8)
    opaque[:, :, :3] = rgba[:, :, :3]
    opaque[:, :, 3] = 255
    assert np.array_equal(
        png_decode_gray(encode_rgba(opaque)), rgb_to_gray(rgba[:, :, :3])
    )


def test_png_lowdepth_gray_decode():
    """Bit depths 1/2/4 (fax/scan layouts) decode to full-range 8-bit."""
    from codec_stubs import encode_gray_lowdepth
    from ms_ocr_spark.extraction.ocr.png import decode_gray as png_decode_gray

    rng = np.random.default_rng(13)
    for depth in (1, 2, 4):
        scale = 255 // ((1 << depth) - 1)
        img = (rng.integers(0, 1 << depth, (13, 29), dtype=np.uint8) * scale).astype(
            np.uint8
        )
        assert np.array_equal(
            png_decode_gray(encode_gray_lowdepth(img, depth)), img
        ), depth


def test_app14_probe_skips_fill_bytes():
    """ADVICE r6: 0xFF fill bytes before a marker (T.81 B.1.1.2) must
    not derail the APP14 transform walk."""
    from ms_ocr_spark.extraction.ocr.jpeg import (
        adobe_app14_transform,
        encode_cmyk_jpeg,
    )

    rgb = np.full((16, 16, 3), 150, np.uint8)
    b = encode_cmyk_jpeg(rgb)
    assert adobe_app14_transform(b) == 0
    padded = b[:2] + b"\xff\xff\xff" + b[2:]
    assert adobe_app14_transform(padded) == 0
    assert np.array_equal(decode_gray_jpeg(padded), decode_gray_jpeg(b))


def test_color_jpeg_411_440_round_trip():
    """Round 7: sampling factors up to 4 with integer ratios decode —
    4:1:1 (DV/camcorder) and 4:4:0 (vertical-only) in BOTH frame types;
    luminance is bit-identical between baseline and progressive."""
    from ms_ocr_spark.extraction.ocr.jpeg import (
        decode_gray_jpeg,
        encode_color_jpeg,
        encode_color_jpeg_progressive,
    )

    rng = np.random.default_rng(29)
    rgb = rng.integers(0, 256, (41, 67, 3), dtype=np.uint8)
    for sub in ("411", "440"):
        b = encode_color_jpeg(rgb, subsampling=sub)
        p = encode_color_jpeg_progressive(rgb, subsampling=sub)
        gb, gp = decode_gray_jpeg(b), decode_gray_jpeg(p)
        assert gb.shape == (41, 67)
        assert np.array_equal(gb, gp), sub


def test_fractional_sampling_ratio_quarantines():
    """Factors that don't divide the max (e.g. Y 3x2 with Cb 2x1) are a
    fractional upsampling ratio — distinct scope reason, decode raises."""
    import struct

    from ms_ocr_spark.extraction.ocr.jpeg import (
        decode_gray_jpeg,
        encode_color_jpeg,
    )

    rgb = np.full((24, 24, 3), 128, np.uint8)
    b = bytearray(encode_color_jpeg(rgb, subsampling="420"))
    i = b.find(b"\xff\xc0")
    b[i + 2 + 8 + 1] = (3 << 4) | 2  # Y -> 3x2
    b[i + 2 + 8 + 4] = (2 << 4) | 1  # Cb -> 2x1 (3 % 2 != 0)
    assert _rejected_as(bytes(b)) == "unsupported_jpeg_layout"


def test_color_tier_rotates_411_and_440():
    """The color tier rotates the new layouts and every payload still
    OCRs exactly (goldens measure decoded luminance)."""
    from ms_ocr_spark.extraction.ocr import decode_media
    from ms_ocr_spark.extraction.ocr.kernel import decode_image as kdecode
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, _, _ = gen_corpus(24, seed=67, color_jpeg_pct=0.8, processes=1)
    subs = set()
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if buf[:2] == b"\xff\xd8":
            i = buf.find(b"\xff\xc0")
            i = i if i != -1 else buf.find(b"\xff\xc2")
            if i != -1 and buf[i + 9] == 3:
                subs.add(buf[i + 2 + 8 + 1])  # first comp factors byte
        assert kdecode(decode_media(buf)) == row["truth_text"]
    assert 0x41 in subs, subs  # 4x1 (4:1:1)
    assert 0x12 in subs, subs  # 1x2 (4:4:0)


def _cut_last_scan(b: bytes) -> bytes:
    """Headers kept, payload cut at the midpoint of the last scan's entropy
    data (0xFFDA cannot occur inside entropy data: every 0xFF there is
    stuffed or starts an RSTn marker)."""
    sos = b.rfind(b"\xff\xda")
    start = sos + 2 + int.from_bytes(b[sos + 2 : sos + 4], "big")
    return b[: (start + len(b) - 2) // 2]


def test_truncated_entropy_data_raises():
    """A stream cut inside its last scan must raise, with or without a
    closing EOI: the decoder may not fill the missing tail with zero bits."""
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    gray = render_text("TRUNCATED ENTROPY\nDATA 0123")
    rgb = np.stack([gray, 255 - (255 - gray) // 2, gray], axis=2)
    streams = {
        "baseline gray": encode_gray_jpeg(gray),
        "baseline color 420": encode_color_jpeg(rgb, "420"),
        "progressive color": encode_color_jpeg_progressive(rgb, "420"),
        "baseline gray dri": encode_gray_jpeg(gray, restart_interval=4),
    }
    for name, b in streams.items():
        assert decode_media(b).shape == gray.shape, name
        cut = _cut_last_scan(b)
        for tail in (b"", b"\xff\xd9"):
            with pytest.raises(Exception):
                decode_media(cut + tail)


# ------------------------------------------------------------ scope reasons
def _segment_span(b: bytes, marker: int) -> tuple[int, int]:
    """(start, end) of the first segment with `marker` in an encoder's
    header (the encoders write no 0xFF pair before their first SOS)."""
    i = b.find(bytes([0xFF, marker]))
    return i, i + 2 + int.from_bytes(b[i + 2 : i + 4], "big")


def _with_marker(b: bytes, old: int, new: int) -> bytes:
    i, _ = _segment_span(b, old)
    return b[: i + 1] + bytes([new]) + b[i + 2 :]


def _with_payload(b: bytes, marker: int, payload: bytes) -> bytes:
    """`b` with the payload of its first `marker` segment replaced."""
    from ms_ocr_spark.extraction.ocr.jpeg import _seg

    i, j = _segment_span(b, marker)
    return b[:i] + _seg(0xFF00 | marker, payload) + b[j:]


def _with_sof(b: bytes, edit) -> bytes:
    """`b` with its frame header payload replaced by `edit(payload)`."""
    marker = 0xC0 if b.find(b"\xff\xc0") != -1 else 0xC2
    i, j = _segment_span(b, marker)
    return _with_payload(b, marker, edit(bytearray(b[i + 4 : j])))


def _without(b: bytes, marker: int) -> bytes:
    """`b` without its `marker` segments."""
    while b.find(bytes([0xFF, marker])) != -1:
        i, j = _segment_span(b, marker)
        b = b[:i] + b[j:]
    return b


def _cut_inside_late_dht(b: bytes) -> bytes:
    """`b` up to its second SOS, then half a copy of its DHT segment: a
    stream cut off after its first scan."""
    sos2 = b.find(b"\xff\xda", b.find(b"\xff\xda") + 2)
    i, j = _segment_span(b, 0xC4)
    return b[:sos2] + b[i : (i + j) // 2]


def _sos_before_sof(b: bytes) -> bytes:
    i, j = _segment_span(b, 0xC0)
    return b[:i] + b[j:-2] + b[i:j] + b[-2:]


def _precision(bits: int):
    def edit(p: bytearray) -> bytes:
        p[0] = bits
        return bytes(p)

    return edit


def _two_components(p: bytearray) -> bytes:
    p[5] = 2
    return bytes(p[: 6 + 2 * 3])


def _reason_rows() -> dict:
    from ms_ocr_spark.extraction.ocr.jpeg import encode_cmyk_jpeg

    img = (np.arange(24 * 40).reshape(24, 40) % 251).astype(np.uint8)
    rgb = np.stack([img, 255 - img, img // 2], axis=2)
    g = encode_gray_jpeg(img)
    c = encode_color_jpeg(rgb, "444")
    dqt = _segment_span(g, 0xDB)
    dqt_16bit = b"\x10" + b"\x00\x01" * 64
    # name -> (stream, quarantine reason)
    return {
        "sos_before_sof": (_sos_before_sof(g), "truncated_jpeg"),
        "sof_payload_5_bytes": (_with_sof(g, lambda p: bytes(p[:5])), "truncated_jpeg"),
        "precision_12_gray": (_with_sof(g, _precision(12)), "unsupported_jpeg_layout"),
        "precision_12_color": (_with_sof(c, _precision(12)), "unsupported_jpeg_layout"),
        "precision_12_progressive": (
            _with_sof(encode_gray_jpeg_progressive(img), _precision(12)),
            "unsupported_jpeg_layout",
        ),
        "sof1": (_with_marker(g, 0xC0, 0xC1), "unsupported_jpeg_layout"),
        "sof9": (_with_marker(g, 0xC0, 0xC9), "unsupported_jpeg_layout"),
        "sof1_color": (_with_marker(c, 0xC0, 0xC1), "unsupported_jpeg_layout"),
        "two_components": (_with_sof(c, _two_components), "unsupported_jpeg_layout"),
        "progressive_cmyk": (
            _with_marker(encode_cmyk_jpeg(rgb), 0xC0, 0xC2),
            "unsupported_jpeg_layout",
        ),
        "ends_inside_dqt": (g[: (dqt[0] + dqt[1]) // 2], "truncated_jpeg"),
        "ends_inside_sof": (g[: _segment_span(g, 0xC0)[0] + 7], "truncated_jpeg"),
        "ends_inside_dht": (g[: _segment_span(g, 0xC4)[0] + 30], "truncated_jpeg"),
        "dqt_16bit_precision_12": (
            _with_sof(_with_payload(g, 0xDB, dqt_16bit), _precision(12)),
            "unsupported_jpeg_layout",
        ),
        "progressive_ends_inside_late_dht": (
            _cut_inside_late_dht(encode_gray_jpeg_progressive(img)),
            "truncated_jpeg",
        ),
    }


@pytest.mark.parametrize("row", sorted(_reason_rows()))
def test_scope_reason_table(row):
    """Streams out of decode scope or cut off: `media_status` reports the
    quarantine reason."""
    b, reason = _reason_rows()[row]
    assert media_status(b, None) == (None, reason)


@pytest.mark.parametrize("row", sorted(_reason_rows()))
def test_decoder_raises_the_probe_reason(row):
    """The decoder rejects every stream in the reason table: it raises
    ScopeError with the row's quarantine reason as its first argument."""
    b, reason = _reason_rows()[row]
    assert _rejected_as(b) == reason


def _header_faults(b: bytes) -> dict[str, tuple[bytes, str]]:
    """name -> (`b` with a header segment its scans need missing or cut
    short, the segment)."""
    i, j = _segment_span(b, 0xDA)
    dht, dqt = _segment_span(b, 0xC4), _segment_span(b, 0xDB)
    return {
        "no_dht": (_without(b, 0xC4), "DHT"),
        "no_dqt": (_without(b, 0xDB), "DQT"),
        "dht_short": (_with_payload(b, 0xC4, b[dht[0] + 4 : dht[0] + 24]), "DHT"),
        "dqt_short": (_with_payload(b, 0xDB, b[dqt[0] + 4 : dqt[0] + 34]), "DQT"),
        "dri_1_byte": (_with_payload(b, 0xDD, b"\x00"), "DRI"),
        "sos_short": (_with_payload(b, 0xDA, b[i + 4 : i + 7]), "SOS"),
    }


@pytest.mark.parametrize("encoder", ["encode_gray_jpeg", "encode_gray_jpeg_progressive"])
@pytest.mark.parametrize(
    "fault", ["no_dht", "no_dqt", "dht_short", "dqt_short", "dri_1_byte", "sos_short"]
)
def test_missing_or_short_header_segment_is_a_value_error(fault, encoder):
    """A header segment the scans need, missing or shorter than its
    content, fails as a ValueError naming the segment, so one fault class
    reads as one status, `decode_error:ValueError`."""
    from ms_ocr_spark.extraction.ocr import jpeg

    img = (np.arange(24 * 40).reshape(24, 40) % 251).astype(np.uint8)
    bad, segment = _header_faults(getattr(jpeg, encoder)(img, restart_interval=4))[fault]
    with pytest.raises(ValueError, match=segment):
        decode_gray_jpeg(bad)
    assert media_status(bad, None) == (None, "decode_error:ValueError")


# -------------------------------------------------------------- fill bytes
def _pad_after_soi(b: bytes) -> bytes:
    """One T.81 B.1.1.2 fill byte (0xFF) before the first marker after SOI."""
    return b[:2] + b"\xff" + b[2:]


@pytest.mark.parametrize(
    "encoder",
    ["encode_gray_jpeg", "encode_gray_jpeg_progressive", "encode_color_jpeg", "encode_cmyk_jpeg"],
)
def test_fill_byte_after_soi_decodes(encoder):
    """A fill byte after SOI leaves every frame kind in scope and decoding
    to the unpadded pixels."""
    from ms_ocr_spark.extraction.ocr import jpeg
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    gray = render_text("FILL 0xFF\nAFTER SOI")
    img = gray if "gray" in encoder else np.stack([gray, 255 - gray // 2, gray], axis=2)
    b = getattr(jpeg, encoder)(img)
    padded = _pad_after_soi(b)
    assert np.array_equal(decode_media(padded), decode_media(b))
    assert media_status(padded, None)[1] == "ok"


def test_corpus_jpegs_in_scope_decode_plain_and_padded():
    """Every cached-corpus JPEG in decode scope decodes to the same pixels
    as the same stream with a fill byte after SOI."""
    import pyarrow.parquet as pq

    from ms_ocr_spark import queries as Q

    corpora = [Q._tier_paths(name) for name in Q._TIERS] + [Q._corpus_paths_quarantine()]
    n = 0
    for paths in corpora:
        media = pq.read_table(paths["media_store"], columns=["media_ref", "payload"])
        for ref, buf in zip(*(media.column(c).to_pylist() for c in ("media_ref", "payload"))):
            if buf is None or buf[:3] != b"\xff\xd8\xff":
                continue
            try:
                img = decode_media(buf)
            except ScopeError:
                continue
            n += 1
            assert np.array_equal(decode_media(_pad_after_soi(buf)), img), ref
    assert n == 172, n  # 95 gray baseline; 77 progressive, color or CMYK


@pytest.mark.parametrize(
    "encoder",
    ["encode_gray_jpeg", "encode_gray_jpeg_progressive", "encode_color_jpeg",
     "encode_color_jpeg_progressive", "encode_cmyk_jpeg"],
)
def test_stream_without_eoi_decodes(encoder):
    """A stream that stops right after its last scan, with no EOI, decodes
    to the full stream's pixels: the last scan's data runs to the end."""
    from ms_ocr_spark.extraction.ocr import jpeg
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    gray = render_text("NO EOI\nMARKER 0123")
    img = gray if "gray" in encoder else np.stack([gray, 255 - gray // 2, gray], axis=2)
    b = getattr(jpeg, encoder)(img)
    assert b[-2:] == b"\xff\xd9"
    assert np.array_equal(decode_gray_jpeg(b[:-2]), decode_gray_jpeg(b))


@pytest.mark.parametrize("tail", [b"", b"\x00"], ids=["to_end", "then_zero"])
@pytest.mark.parametrize("encoder", ["encode_gray_jpeg", "encode_gray_jpeg_progressive"])
def test_long_ff_run_after_last_scan_is_linear(encoder, tail):
    """1 MB of 0xFF after the last scan (an erased-flash tail), running to
    the end of the data or ending in 0x00, decodes to the stream's pixels
    in well under a second: finding the scan end and the restart markers
    is one pass over the run, not one pass per 0xFF of it."""
    import time

    from ms_ocr_spark.extraction.ocr import jpeg
    img = (np.arange(24 * 40).reshape(24, 40) % 251).astype(np.uint8)
    b = getattr(jpeg, encoder)(img, restart_interval=1)
    corrupt = b[:-2] + b"\xff" * (1 << 20) + tail
    t0 = time.perf_counter()
    assert np.array_equal(decode_gray_jpeg(corrupt), decode_gray_jpeg(b))
    assert media_status(corrupt, None)[1] == "ok"
    assert time.perf_counter() - t0 < 2.0


def test_scan_of_an_absent_component_is_a_value_error():
    """An SOS naming a component the frame lacks fails as ValueError, not
    as a StopIteration leaking out of the component lookup."""
    b = encode_gray_jpeg(np.full((16, 16), 200, np.uint8))
    i = b.find(b"\xff\xda")
    bad = b[: i + 5] + b"\x07" + b[i + 6 :]  # component id 1 -> 7
    assert media_status(bad, None) == (None, "decode_error:ValueError")


# ------------------------------------------------------------- byte pin
ENCODER_BYTES_N = 489
ENCODER_BYTES_SHA256 = "2bbb90dabae6fc4bebb2d9888e2a3ea7d1f262356449b79536b772642bfbf241"


def _encoder_byte_grid():
    """(label, bytes) for every public encoder over a fixed grid: gray
    and color at odd and sub-block sizes, every subsampling, restart
    intervals none/1/3/…, the dpi/ICC/EXIF side values, a non-flat gray
    quant table, and CMYK/YCCK."""
    from ms_ocr_spark.extraction.ocr import jpeg
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    rng = np.random.default_rng(151)
    side = {"dpi": 300.0, "icc_name": "sRGB", "exif_orientation": 6}
    grays = [rng.integers(0, 256, s, dtype=np.uint8) for s in ((1, 1), (17, 23), (33, 9), (64, 64))]
    grays.append(render_text("PIN 0123\nJPEG"))
    for gi, img in enumerate(grays):
        for enc in ("encode_gray_jpeg", "encode_gray_jpeg_progressive"):
            for ri in (None, 1, 3, 8, 11):
                for kw in ({}, side):
                    yield (enc, gi, ri, bool(kw)), getattr(jpeg, enc)(img, restart_interval=ri, **kw)
    q = np.arange(1, 65, dtype=np.int64) % 7 + 1
    for gi, img in enumerate(grays):
        yield ("quant", gi), jpeg.encode_gray_jpeg(img, quant=q)
    rgbs = [
        rng.integers(0, 256, (*s, 3), dtype=np.uint8)
        for s in ((1, 1), (9, 17), (17, 23), (33, 9), (24, 40), (40, 72))
    ]
    for ci, rgb in enumerate(rgbs):
        for samp in ("444", "422", "420", "411", "440"):
            for enc in ("encode_color_jpeg", "encode_color_jpeg_progressive"):
                for ri in (None, 1, 3, 5, 7):
                    yield (enc, ci, samp, ri), getattr(jpeg, enc)(rgb, samp, restart_interval=ri)
                yield (enc, ci, samp, "side"), getattr(jpeg, enc)(rgb, samp, **side)
    for ci, rgb in enumerate(rgbs):
        for enc in ("encode_cmyk_jpeg", "encode_ycck_jpeg"):
            for kw in ({}, side):
                yield (enc, ci, bool(kw)), getattr(jpeg, enc)(rgb, **kw)


def test_encoder_bytes_are_pinned():
    """The sha256 of the bytes every public encoder writes over a fixed
    grid.  The decode pins hash decoded pixels, so an encoder change that
    moves a byte but decodes to the same pixels passes them; this pin
    does not."""
    h = hashlib.sha256()
    n = 0
    for _, b in _encoder_byte_grid():
        h.update(len(b).to_bytes(8, "big"))
        h.update(b)
        n += 1
    assert (n, h.hexdigest()) == (ENCODER_BYTES_N, ENCODER_BYTES_SHA256)
