"""Test-data encoders for decoder checks: layouts the product never writes."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ms_ocr_spark.extraction.ocr import tiff
from ms_ocr_spark.extraction.ocr.jpeg import _seg
from ms_ocr_spark.extraction.ocr.png import _SIGNATURE, _chunk


def encode_gray_lowdepth(img: np.ndarray, depth: int) -> bytes:
    """uint8 HxW array (values already quantized to the depth's levels)
    -> PNG bytes (color type 0, bit depth 1/2/4, filter 0) — the
    fax/scan layouts.  Input values are FULL-RANGE 8-bit and must be
    exact multiples of 255/(2^depth - 1)."""
    if depth not in (1, 2, 4):
        raise ValueError("depth must be 1, 2 or 4")
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray_lowdepth expects a 2-D uint8 array")
    scale = 255 // ((1 << depth) - 1)
    if (img % scale).any():
        raise ValueError("pixel values must be multiples of the depth scale")
    q = (img // scale).astype(np.uint8)
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
    rows = []
    for r in range(h):
        bits = np.unpackbits(q[r][:, None], axis=1, count=8)[:, 8 - depth :]
        packed = np.packbits(bits.reshape(-1))
        rows.append(b"\x00" + packed.tobytes())
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(rows), 6))
        + _chunk(b"IEND", b"")
    )


def encode_multicomponent_stub(h: int = 32, w: int = 64) -> bytes:
    """Minimal syntactically-valid THREE-component baseline header (SOI +
    SOF0(YCbCr) + EOI, no scan).  Color frames are in scope, so this
    stream classifies as `truncated_jpeg` (EOI before any SOS — the shape
    of a transfer-cut color JPEG); the `unsupported_jpeg_layout`
    telemetry fixture is `jpeg.encode_lossless_stub`."""
    sof0 = (
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x22, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1])
    )
    return b"\xff\xd8" + _seg(0xFFC0, sof0) + b"\xff\xd9"


def encode_tiled_tiff_stub(h: int = 32, w: int = 64) -> bytes:
    """Minimal syntactically-valid TILED-TIFF header (no tile data).
    The tiled layout is in scope, so this stream fails on its missing
    tile offsets (decode ValueError, class `invalid`) — the out-of-scope
    telemetry fixture is `tiff.encode_jpeg_in_tiff_stub`."""
    tags = [
        (tiff._T_WIDTH, 4, 1, w),
        (tiff._T_HEIGHT, 4, 1, h),
        (tiff._T_BITS, 3, 1, 8),
        (tiff._T_COMPRESSION, 3, 1, 1),
        (tiff._T_PHOTOMETRIC, 3, 1, 1),
        (tiff._T_TILE_WIDTH, 4, 1, 16),
    ]
    ifd = [struct.pack("<H", len(tags))]
    for tag, typ, count, value in sorted(tags):
        ifd.append(struct.pack("<HHII", tag, typ, count, value))
    ifd.append(struct.pack("<I", 0))
    return struct.pack("<2sHI", b"II", 42, 8) + b"".join(ifd)
