"""Minimal deterministic PNG codec (8-bit grayscale), stdlib only.

The reference accepts jpg/png/tif uploads and decodes them with PIL
(`/root/reference/src/library/image_processor/main.py:58-63`).  This
sandbox has no PIL/OpenCV, so media payloads in the synthetic corpus are
real PNG bytes produced/consumed by this ~120-line pure-Python codec
(zlib + struct).  Encode always writes filter type 0; decode handles all
five standard filter types so any conforming grayscale-8 PNG is readable.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .tiff import tiff_side_values

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
# (PNG spec 4.5.2 — round 6, VERDICT r5 item 8)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _adam7_dims(w: int, h: int) -> list[tuple[int, int]]:
    """(pass_w, pass_h) for each of the 7 passes; empty passes are
    (0, _) or (_, 0) and contribute no scanlines."""
    return [
        ((w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)
        for x0, y0, dx, dy in _ADAM7
    ]


def encode_gray(
    img: np.ndarray,
    dpi: float | None = None,
    icc: tuple[str, bytes] | None = None,
    exif_orientation: int | None = None,
    interlace: bool = False,
) -> bytes:
    """uint8 HxW array -> PNG bytes (color type 0, bit depth 8;
    `interlace=True` writes the seven Adam7 sub-images, round 6).

    Optional ancillary side-values mirror what the reference keeps at
    decode (`image_processor/main.py:58-63` returns (ndarray, icc, exif)):
    `dpi` -> pHYs, `icc` = (profile name, profile bytes) -> iCCP,
    `exif_orientation` -> eXIf with a minimal little-endian TIFF IFD.
    """
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray expects a 2-D uint8 array")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1 if interlace else 0)
    side = b""
    if icc is not None:
        name, profile = icc
        side += _chunk(b"iCCP", name.encode("latin-1") + b"\x00\x00" + zlib.compress(profile))
    if dpi is not None:
        ppm = round(dpi / 0.0254)
        side += _chunk(b"pHYs", struct.pack(">IIB", ppm, ppm, 1))
    if exif_orientation is not None:
        # minimal valid TIFF: LE header -> one IFD with the Orientation
        # (0x0112) SHORT tag, zero next-IFD pointer
        tiff = (
            b"II*\x00\x08\x00\x00\x00"
            + struct.pack("<H", 1)
            + struct.pack("<HHI", 0x0112, 3, 1)
            + struct.pack("<HH", exif_orientation, 0)
            + struct.pack("<I", 0)
        )
        side += _chunk(b"eXIf", tiff)
    if interlace:
        # seven filter-0 sub-images, in pass order, empty passes skipped
        raw = b"".join(
            b"\x00" + img[y0 + r * dy, x0::dx].tobytes()
            for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(w, h))
            if pw and ph
            for r in range(ph)
        )
    else:
        # filter byte 0 per scanline
        raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + side
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def side_values(data: bytes) -> dict:
    """The decode side values of a PNG (the reference keeps icc/exif, S5):
    pHYs dpi, the iCCP profile name and the eXIf orientation, which
    `tiff_side_values` reads since an EXIF blob is a TIFF structure.  An
    absent or malformed chunk leaves its field None; this never raises."""
    out: dict = {"dpi": None, "icc_name": None, "orientation": None}
    if data[:8] != _SIGNATURE:
        return out
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"pHYs" and len(payload) == 9:
            ppm_x, _, unit = struct.unpack(">IIB", payload)
            if unit == 1:
                out["dpi"] = round(ppm_x * 0.0254, 4)
        elif tag == b"iCCP":
            name, nul, _ = payload.partition(b"\x00")
            out["icc_name"] = name.decode("latin-1") if nul else None
        elif tag == b"eXIf":
            out["orientation"] = tiff_side_values(payload)["orientation"]
        elif tag == b"IEND":
            break
    return out


def encode_palette(
    img: np.ndarray, palette: np.ndarray, trns: np.ndarray | None = None
) -> bytes:
    """uint8 HxW index array + (<=256)x3 palette -> PNG bytes (color
    type 3, bit depth 8, PLTE chunk, filter 0) — the indexed-color
    layout common in web corpora (round 6).  `trns` (round 7) is an
    optional per-index uint8 alpha table written as a tRNS chunk."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_palette expects a 2-D uint8 index array")
    palette = np.asarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3 or len(palette) > 256:
        raise ValueError("palette must be (<=256)x3 uint8")
    if img.max(initial=0) >= len(palette):
        raise ValueError("index out of palette range")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    side = b""
    if trns is not None:
        trns = np.asarray(trns, dtype=np.uint8)
        if trns.ndim != 1 or len(trns) > len(palette):
            raise ValueError("trns must be a 1-D alpha table <= palette length")
        side = _chunk(b"tRNS", trns.tobytes())
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", palette.tobytes())
        + side
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def encode_gray_alpha(img: np.ndarray, alpha: np.ndarray) -> bytes:
    """uint8 HxW gray + HxW alpha -> PNG bytes (color type 4, bit depth
    8, filter 0) — round 7, VERDICT r6 item 5."""
    if img.dtype != np.uint8 or img.ndim != 2 or img.shape != alpha.shape:
        raise ValueError("encode_gray_alpha expects matching 2-D uint8 arrays")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0)
    inter = np.stack([img, alpha.astype(np.uint8)], axis=2)
    raw = b"".join(b"\x00" + inter[r].tobytes() for r in range(h))
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def encode_rgba(img: np.ndarray) -> bytes:
    """uint8 HxWx4 array -> PNG bytes (color type 6, bit depth 8,
    filter 0) — the dominant web-corpus layout (round 7)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 4:
        raise ValueError("encode_rgba expects an HxWx4 uint8 array")
    h, w, _ = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_rgb(img: np.ndarray) -> bytes:
    """uint8 HxWx3 array -> PNG bytes (color type 2, bit depth 8, filter
    0) — the color-corpus layout."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_rgb expects an HxWx3 uint8 array")
    h, w, _ = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(h))
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def rgb_to_gray(img: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 luminance: Y = 0.299 R + 0.587 G + 0.114 B, rounded.

    The K3 gray-conversion direction the reference gets from PIL/OpenCV
    (`image_processor/main.py:58-63` decodes to RGB; the engines gray it
    before detection).  Deterministic float64 math so the datagen golden
    (which measures the same conversion) is bit-identical.
    """
    y = (
        0.299 * img[:, :, 0].astype(np.float64)
        + 0.587 * img[:, :, 1].astype(np.float64)
        + 0.114 * img[:, :, 2].astype(np.float64)
    )
    return np.clip(np.rint(y), 0, 255).astype(np.uint8)


def _defilter(raw: bytes, height: int, row_bytes: int, bpp: int = 1) -> np.ndarray:
    """Undo PNG scanline filtering for one (sub-)image: raw is
    height x (1 + row_bytes) bytes; all five standard filters.

    `bpp` is the filter unit in BYTES (PNG spec 4.5.3: the left
    reference for Sub/Average/Paeth is the corresponding byte of the
    pixel `bpp` bytes back — 2 for gray-16, 3 for RGB-8, 4 for RGBA-8,
    1 for sub-byte depths)."""
    stride = row_bytes + 1
    flat = np.frombuffer(raw[: height * stride], dtype=np.uint8).reshape(
        height, stride
    )
    if not flat[:, 0].any():
        # fast path: every scanline uses filter 0 (what the encoders
        # write) — one reshape, no per-row Python loop or int64 widening
        return flat[:, 1:].copy()
    out = np.zeros((height, row_bytes), dtype=np.uint8)
    prev = np.zeros(row_bytes, dtype=np.int64)
    for r in range(height):
        ftype = int(flat[r, 0])
        line = flat[r, 1:].astype(np.int64)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, row_bytes):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(row_bytes):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(row_bytes):
                left = int(cur[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                cur[x] = (cur[x] + _paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"bad filter {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out


# samples per pixel by PNG color type (spec 4.1.1)
_CTYPE_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# legal bit depths by color type (spec table 11.1)
_CTYPE_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def _composite_white(channels: np.ndarray, alpha: np.ndarray) -> np.ndarray:
    """Alpha-composite (H, W, C) channels over an opaque white page:
    out = round(c * a/255 + 255 * (1 - a/255)), float64 for determinism
    (the datagen golden derivation runs the identical expression).  The
    OCR kernel binarizes downstream, so white is the only sensible
    backdrop — it matches the paper the reference's scanners assume."""
    a = alpha.astype(np.float64)[..., None] / 255.0
    comp = channels.astype(np.float64) * a + 255.0 * (1.0 - a)
    return np.clip(np.rint(comp), 0, 255).astype(np.uint8)


def decode_gray(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 HxW luminance array.

    Round-7 scope = every legal IHDR layout: color types 0 (gray), 2
    (truecolor), 3 (palette), 4 (gray+alpha), 6 (RGBA); bit depths
    1/2/4/8/16 where the spec allows them; interlace 0 or Adam7; all
    five scanline filters with spec-correct bpp offsets (4.5.3).
    Color converts via BT.601 `rgb_to_gray`; alpha (including a tRNS
    chunk on types 0/2/3) composites over white before graying; 16-bit
    samples collapse to the high byte (the 8-bit pipeline's view, same
    convention as the TIFF codec); sub-byte depths scale to full range
    (gray) or stay as indices (palette).  The reference reaches the
    same layouts through PIL (`image_processor/main.py:58-63`).
    """
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    interlace = 0
    ctype = 0
    depth = 8
    plte: np.ndarray | None = None
    trns: bytes | None = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", payload[:10])
            interlace = payload[12] if len(payload) >= 13 else 0
            if ctype not in _CTYPE_SAMPLES or depth not in _CTYPE_DEPTHS[ctype]:
                raise ValueError(f"unsupported PNG: depth={depth} ctype={ctype}")
            if interlace not in (0, 1):
                raise ValueError(f"unsupported PNG interlace {interlace}")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = bytes(payload)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    samples = _CTYPE_SAMPLES[ctype]
    bps = 2 if depth == 16 else 1  # bytes per sample
    fbpp = samples * bps if depth >= 8 else 1  # filter unit, spec 4.5.3

    def _row_bytes(cols: int) -> int:
        return cols * samples * bps if depth >= 8 else (cols * depth + 7) // 8

    def _plane(buf: bytes, rows: int, cols: int) -> np.ndarray:
        """-> (rows, cols, samples) uint8 (high byte of 16-bit samples;
        raw sub-byte sample values for depth < 8)."""
        sub = _defilter(buf, rows, _row_bytes(cols), fbpp)
        if depth == 16:
            # network byte order: high byte first — collapse to it
            return sub.reshape(rows, cols, samples, 2)[:, :, :, 0].copy()
        if depth == 8:
            return sub.reshape(rows, cols, samples)
        bits = np.unpackbits(sub, axis=1)[:, : cols * depth]
        weights = 1 << np.arange(depth - 1, -1, -1, dtype=np.int64)
        vals = (bits.reshape(rows, cols, depth) * weights).sum(axis=2)
        return vals.astype(np.uint8)[:, :, None]

    if interlace == 1:
        out = np.zeros((height, width, samples), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy), (pw, ph) in zip(
            _ADAM7, _adam7_dims(width, height)
        ):
            if not pw or not ph:
                continue
            n = ph * (_row_bytes(pw) + 1)
            out[y0::dy, x0::dx] = _plane(raw[off : off + n], ph, pw)
            off += n
        if off != len(raw):
            raise ValueError("Adam7 data length mismatch")
    else:
        out = _plane(raw, height, width)

    if ctype == 3:
        # indexed color: the plane holds palette INDICES — map through
        # PLTE (+ tRNS alpha table if present), then BT.601
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        idx = out[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha_tab = np.full(256, 255, dtype=np.uint8)
            alpha_tab[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            rgb = _composite_white(rgb, alpha_tab[idx])
        return rgb_to_gray(rgb)
    scale = 255 // ((1 << depth) - 1) if depth < 8 else 1
    if ctype == 0:
        g = (out[:, :, 0] * np.uint8(scale)) if scale != 1 else out[:, :, 0]
        if trns is not None and len(trns) >= 2:
            # gray color-key: the keyed sample value is fully transparent
            # (compared in the collapsed/scaled 8-bit domain)
            (key,) = struct.unpack(">H", trns[:2])
            key8 = (key >> 8) if depth == 16 else (key & 0xFF) * scale
            g = np.where(g == np.uint8(key8), np.uint8(255), g)
        return np.ascontiguousarray(g)
    if ctype == 4:
        return _composite_white(out[:, :, :1], out[:, :, 1])[:, :, 0]
    if ctype == 6:
        return rgb_to_gray(_composite_white(out[:, :, :3], out[:, :, 3]))
    # ctype == 2 (truecolor)
    rgb = out
    if trns is not None and len(trns) >= 6:
        kr, kg, kb = struct.unpack(">HHH", trns[:6])
        if depth == 16:
            key = (kr >> 8, kg >> 8, kb >> 8)
        else:
            key = (kr & 0xFF, kg & 0xFF, kb & 0xFF)
        mask = np.all(rgb == np.array(key, dtype=np.uint8), axis=2)
        rgb = np.where(mask[..., None], np.uint8(255), rgb)
    return rgb_to_gray(rgb)
