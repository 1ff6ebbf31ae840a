"""Baseline TIFF codec unit tests (extraction/ocr/tiff.py) + the
three-codec extraction tier covering the reference's full upload
allow-list (jpg/jpeg/png/tif/tiff, /root/reference/env/local.env:25)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ms_ocr_spark.extraction.ocr import ScopeError, decode_image, decode_media
from ms_ocr_spark.extraction.ocr.tiff import (
    decode_gray_tiff,
    encode_gray_tiff,
    tiff_side_values,
)


def _scope_error(buf: bytes) -> tuple:
    """The args (reason, detail) of the ScopeError the decoder raises."""
    with pytest.raises(ScopeError) as e:
        decode_gray_tiff(buf)
    return e.value.args


def test_round_trip_lossless():
    rng = np.random.default_rng(11)
    for shape in [(8, 8), (53, 201), (64, 64), (1, 1), (200, 33)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_gray_tiff(encode_gray_tiff(img)), img)


def test_multi_strip_layout():
    """rows_per_strip < height forces several strips; the decoder must
    reassemble them in order (incl. a short final strip)."""
    img = np.arange(130 * 7, dtype=np.uint64).astype(np.uint8).reshape(130, 7)
    buf = encode_gray_tiff(img, rows_per_strip=48)  # 48+48+34
    assert np.array_equal(decode_gray_tiff(buf), img)


def test_dpi_round_trip():
    img = np.zeros((16, 16), dtype=np.uint8)
    assert tiff_side_values(encode_gray_tiff(img, dpi=300))["dpi"] == 300.0
    assert tiff_side_values(encode_gray_tiff(img))["dpi"] is None


def _hand_built(img: np.ndarray, endian: str, photometric: int) -> bytes:
    """Hand-assembled single-strip TIFF in either endianness — the decoder
    must not assume the encoder's LE layout."""
    h, w = img.shape
    pix = (255 - img if photometric == 0 else img).tobytes()
    e = "<" if endian == "II" else ">"
    magic = struct.pack(e + "2sHI", endian.encode(), 42, 8 + len(pix))
    tags = [
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, 1, 8),
        (259, 3, 1, 1),
        (262, 3, 1, photometric),
        (273, 4, 1, 8),
        (277, 3, 1, 1),
        (278, 4, 1, h),
        (279, 4, 1, len(pix)),
    ]
    ifd = struct.pack(e + "H", len(tags))
    for tag, typ, count, value in tags:
        if typ == 3:  # SHORT values sit left-justified in the 4-byte slot
            slot = struct.pack(e + "HH", value, 0)
            ifd += struct.pack(e + "HHI", tag, typ, count) + slot
        else:
            ifd += struct.pack(e + "HHII", tag, typ, count, value)
    ifd += struct.pack(e + "I", 0)
    return magic + pix + ifd


def test_big_endian_and_white_is_zero():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    for endian in ("II", "MM"):
        for photometric in (0, 1):
            buf = _hand_built(img, endian, photometric)
            assert np.array_equal(decode_gray_tiff(buf), img), (endian, photometric)


def test_unsupported_layouts_raise():
    img = np.zeros((8, 8), dtype=np.uint8)
    good = encode_gray_tiff(img)
    with pytest.raises(ValueError):
        decode_gray_tiff(b"II*\0" + good[4:20])  # truncated IFD offset target
    jpg = bytearray(good)
    # patch Compression (tag 259) value to 7 (JPEG-in-TIFF, out of scope)
    idx = jpg.find(struct.pack("<HH", 259, 3))
    jpg[idx + 8 : idx + 10] = struct.pack("<H", 7)
    assert _scope_error(bytes(jpg)) == ("unsupported_tiff_layout", "compression 7")


@pytest.mark.parametrize("comp", [1, 5, 32773], ids=["none", "lzw", "packbits"])
@pytest.mark.parametrize("bits", [8, 16])
def test_variant_round_trip_lossless(comp, bits):
    """Round 4 decode-scope widening: LZW (TIFF 6.0 §13 early change),
    PackBits and 16-bit samples all round-trip losslessly (16-bit writes
    v*257, decode takes the high byte — exact inverse)."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (77, 41), dtype=np.uint8)
    buf = encode_gray_tiff(img, dpi=200, compression=comp, bits=bits)
    assert np.array_equal(decode_gray_tiff(buf), img)
    assert tiff_side_values(buf)["dpi"] == 200.0


def test_lzw_compresses_rendered_text():
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    img = render_text("HELLO WORLD COMPRESS")
    assert len(encode_gray_tiff(img, compression=5)) < len(encode_gray_tiff(img)) / 4


def test_tiff_tier_ocr_exact():
    """Every TIFF payload in the three-codec tier decodes to its exact
    truth text through the full kernel."""
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, meta, _ = gen_corpus(
        16, seed=48, jpeg_pct=0.3, tiff_pct=0.45, processes=1
    )
    formats = {m["media_ref"]: m["format"] for m in meta.to_pylist()}
    n_tiff = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if formats[row["media_ref"]] == "tiff":
            assert buf[:4] == b"II*\0"
            n_tiff += 1
        assert decode_image(decode_media(buf)) == row["truth_text"]
    assert n_tiff >= 3, f"tier produced too few TIFFs ({n_tiff})"


def test_tiff_side_values_round_trip():
    """Orientation tag 274 + ICC tag 34675 + XResolution dpi parse back
    across every compression/bit-depth variant (S5 side-value parity);
    extra tags never perturb pixel decode."""
    import numpy as np

    from ms_ocr_spark.extraction.ocr.tiff import (
        decode_gray_tiff,
        encode_gray_tiff,
        tiff_side_values,
    )

    img = np.full((30, 44), 90, dtype=np.uint8)
    img[5:9, 10:30] = 0
    for comp in (1, 5, 32773):
        for bits in (8, 16):
            b = encode_gray_tiff(
                img,
                dpi=200.0,
                compression=comp,
                bits=bits,
                orientation=1,
                icc_name="synthetic-gray",
            )
            assert np.array_equal(decode_gray_tiff(b), img)
            assert tiff_side_values(b) == {
                "dpi": 200.0,
                "icc_name": "synthetic-gray",
                "orientation": 1,
            }
    assert tiff_side_values(encode_gray_tiff(img)) == {
        "dpi": None,
        "icc_name": None,
        "orientation": None,
    }


# ------------------------------------------------------------------- tiled
def test_tiled_round_trip_all_variants():
    """Tiled layout (tags 322-325): exact roundtrip across compressions,
    bit depths, tile geometries, and non-tile-aligned image dims (edge
    tiles padded per TIFF 6.0 §15, pads cropped on decode)."""
    import numpy as np

    from ms_ocr_spark.extraction.ocr.tiff import (
        decode_gray_tiff,
        encode_gray_tiff,
    )

    rng = np.random.default_rng(4)
    for shape in [(32, 64), (33, 41), (16, 16), (100, 37)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for comp in (1, 5, 32773):
            for bits in (8, 16):
                for tile in ((16, 16), (32, 16), (48, 32)):
                    b = encode_gray_tiff(img, compression=comp, bits=bits, tile=tile)
                    assert np.array_equal(decode_gray_tiff(b), img), (
                        shape,
                        comp,
                        bits,
                        tile,
                    )


def test_tiled_side_values_and_scope():
    import numpy as np
    import pytest as _pytest

    from ms_ocr_spark.extraction.ocr.tiff import (
        decode_gray_tiff,
        encode_gray_tiff,
        encode_jpeg_in_tiff_stub,
        tiff_side_values,
    )
    from ms_ocr_spark.extraction.pipeline import media_status
    from codec_stubs import encode_tiled_tiff_stub

    img = np.random.default_rng(9).integers(0, 256, (40, 50), dtype=np.uint8)
    b = encode_gray_tiff(img, tile=(16, 16), dpi=300.0, icc_name="sRGB", orientation=6)
    assert tiff_side_values(b) == {"dpi": 300.0, "icc_name": "sRGB", "orientation": 6}
    # round 6: tiled is IN scope — the layout-quarantine fixture is
    # JPEG-in-TIFF (Compression 7), which has no strip tags either: the
    # layout check comes first, so it reads as out of scope, while the
    # header-only tiled stub fails as malformed (missing tile offsets)
    stub = encode_jpeg_in_tiff_stub()
    assert _scope_error(stub) == ("unsupported_tiff_layout", "compression 7")
    assert media_status(stub, None) == (None, "unsupported_tiff_layout")
    with _pytest.raises(ValueError) as e:
        decode_gray_tiff(encode_tiled_tiff_stub())
    assert not isinstance(e.value, ScopeError)
    # tile dims must be multiples of 16
    with _pytest.raises(ValueError):
        encode_gray_tiff(img, tile=(20, 16))


def test_tiff_tier_includes_tiled_and_decodes_exactly():
    from ms_ocr_spark.extraction.ocr import decode_media
    from ms_ocr_spark.extraction.ocr.kernel import decode_image
    from ms_ocr_spark.sources.datagen import gen_corpus

    from ms_ocr_spark.extraction.ocr.tiff import _T_TILE_WIDTH, _parse

    _, media, _, meta, _ = gen_corpus(20, seed=59, tiff_pct=0.7, processes=1)
    n_tiled = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if buf[:2] in (b"II", b"MM"):
            tags, _e = _parse(buf)
            n_tiled += _T_TILE_WIDTH in tags
        assert decode_image(decode_media(buf)) == row["truth_text"]
    assert n_tiled >= 2


def test_rgb_tiff_round_trip_all_variants():
    """Round 7 (VERDICT r6 item 4): 8-bit chunky RGB (Photometric 2,
    SamplesPerPixel 3, PlanarConfiguration 1) decodes to BT.601
    luminance across all three compressions, strips and tiles, with
    side-values intact."""
    from ms_ocr_spark.extraction.ocr.png import rgb_to_gray
    from ms_ocr_spark.extraction.ocr.tiff import (
        encode_rgb_tiff,
        tiff_side_values,
    )

    rng = np.random.default_rng(17)
    rgb = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
    exp = rgb_to_gray(rgb)
    for comp in (1, 5, 32773):
        for tile in (None, (16, 16), (32, 16)):
            buf = encode_rgb_tiff(
                rgb,
                compression=comp,
                tile=tile,
                dpi=150.0,
                orientation=1,
                icc_name="synthetic-gray",
            )
            assert np.array_equal(decode_gray_tiff(buf), exp), (comp, tile)
            sv = tiff_side_values(buf)
            assert sv["dpi"] == 150.0 and sv["orientation"] == 1
            assert sv["icc_name"] == "synthetic-gray"


def test_rgb_tiff_out_of_scope_layouts():
    """Planar RGB (PlanarConfiguration 2) stays quarantined: the decoder
    raises the scope reason with a detail naming the field."""
    from ms_ocr_spark.extraction.ocr.tiff import (
        _T_PLANAR,
        encode_rgb_tiff,
    )

    rgb = np.zeros((16, 16, 3), dtype=np.uint8)
    buf = bytearray(encode_rgb_tiff(rgb))
    idx = buf.find(struct.pack("<HH", _T_PLANAR, 3))
    buf[idx + 8 : idx + 10] = struct.pack("<H", 2)  # planar
    assert _scope_error(bytes(buf)) == ("unsupported_tiff_layout", "planar 2")


def test_tint_exact_luminance_identity():
    """The RGB-TIFF tier's tint: BT.601 luminance of the tinted image is
    bit-exactly the source gray image, including the 0/255 extremes."""
    from ms_ocr_spark.extraction.ocr.png import rgb_to_gray
    from ms_ocr_spark.sources.datagen import tint_exact_luminance

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (64, 64), dtype=np.uint8)
    img[0, :3] = (0, 1, 255)  # clip extremes
    rgb = tint_exact_luminance(img)
    assert np.array_equal(rgb_to_gray(rgb), img)
    # the tint is a real 3-channel signal, not gray-as-RGB
    assert (rgb[:, :, 0] != rgb[:, :, 2]).mean() > 0.5


def test_tiff_tier_includes_rgb_and_decodes_exactly():
    """The tiff tier rotates RGB variants; every payload still OCRs to
    its exact truth text and sample_layout_8bit_x3 never quarantines."""
    from ms_ocr_spark.extraction.ocr.kernel import decode_image as kdecode
    from ms_ocr_spark.extraction.ocr.tiff import _T_SAMPLES, _parse
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, _, _ = gen_corpus(20, seed=61, tiff_pct=0.7, processes=1)
    n_rgb = 0
    for row in media.to_pylist():
        buf = bytes(row["payload"])
        if buf[:2] in (b"II", b"MM"):
            tags, _e = _parse(buf)
            n_rgb += tags.get(_T_SAMPLES, [1])[0] == 3
        assert kdecode(decode_media(buf)) == row["truth_text"]
    assert n_rgb >= 2, f"tier produced too few RGB TIFFs ({n_rgb})"


def _zero_count(buf: bytes, tag: int) -> bytes:
    """`buf` with the count of `tag`'s IFD entry set to 0."""
    b = bytearray(buf)
    (off,) = struct.unpack_from("<I", b, 4)
    (n,) = struct.unpack_from("<H", b, off)
    (at,) = [p for p in range(off + 2, off + 2 + 12 * n, 12) if struct.unpack_from("<H", b, p)[0] == tag]
    struct.pack_into("<I", b, at + 4, 0)
    return bytes(b)


@pytest.mark.parametrize(
    "tag",
    [256, 257, 258, 277, 278],
    ids=["ImageWidth", "ImageLength", "BitsPerSample", "SamplesPerPixel", "RowsPerStrip"],
)
def test_zero_count_tag_is_a_value_error(tag):
    """A layout or size tag whose IFD entry has count 0 fails as a
    ValueError naming the tag, so the payload reads
    `decode_error:ValueError` like the other malformed-IFD faults."""
    from ms_ocr_spark.extraction.pipeline import media_status

    img = np.random.default_rng(4).integers(0, 256, (20, 30), dtype=np.uint8)
    b = _zero_count(encode_gray_tiff(img, rows_per_strip=8), tag)
    with pytest.raises(ValueError, match=f"tag {tag}") as e:
        decode_gray_tiff(b)
    assert not isinstance(e.value, ScopeError)
    assert media_status(b, None) == (None, "decode_error:ValueError")


@pytest.mark.parametrize("tag", [282, 296], ids=["XResolution", "ResolutionUnit"])
def test_zero_count_resolution_tag_leaves_dpi_null(tag):
    """A count-0 XResolution or ResolutionUnit entry does not stop the
    decode; the side values read dpi as null and keep the ICC profile
    name and orientation."""
    img = np.random.default_rng(4).integers(0, 256, (20, 30), dtype=np.uint8)
    b = _zero_count(encode_gray_tiff(img, dpi=300, orientation=1, icc_name="synthetic-gray"), tag)
    assert np.array_equal(decode_gray_tiff(b), img)
    assert tiff_side_values(b) == {"dpi": None, "icc_name": "synthetic-gray", "orientation": 1}
