"""Decode and OCR-text pins over every cached extraction corpus.

Digest 1 covers `decode_media` output — `shape<TAB>dtype<NL>` plus the
pixel bytes — for every payload of the eleven extraction tiers and the
quarantine corpus, in media-store order, followed by the JPEG encodings
the codec tests build (restart-interval baseline gray and color,
restart-interval progressive color, Adobe CMYK and YCCK).  A payload
that raises contributes `error`.  Digest 2 covers the `decode_image`
text of every decoded corpus image, read with the `language` of the
document that references it (NULL where the corpus has no `language`
column).  Digest 3 covers the `media_status` status of every corpus
payload whose magic bytes name an image format, in the same order.  Any
codec or kernel change that moves one pixel or one character changes a
digest 1 or 2, and any change to what a payload is quarantined for
changes digest 3.  No Spark session is needed.
"""

from __future__ import annotations

import functools
import hashlib
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from ms_ocr_spark import queries as Q
from ms_ocr_spark.extraction.ocr import decode_image, decode_media
from ms_ocr_spark.extraction.ocr.glyphs import render_text
from ms_ocr_spark.extraction.ocr.jpeg import (
    encode_cmyk_jpeg,
    encode_color_jpeg,
    encode_color_jpeg_progressive,
    encode_gray_jpeg,
    encode_ycck_jpeg,
)
from ms_ocr_spark.extraction.pipeline import media_status

N_PAYLOADS = 1082
PIXELS_SHA256 = "327845cf973fa8b70ad3db2b348385c6a99f3ec2a75d3029c91d6460c311a4e0"
TEXT_SHA256 = "d81561dfe56a381044b65b2e0c0d60288aff300e350de101776965bc1ce64c3d"
STATUS_SHA256 = "29337446da8b793304fcbe6eb17808200dac1e85b6aff7f8e28c47cfe0245f80"
STATUS_COUNTS = {
    ("jpeg", "ok"): 172,
    ("jpeg", "truncated_jpeg"): 3,
    ("jpeg", "unsupported_jpeg_layout"): 5,
    ("png", "ok"): 857,
    ("tiff", "ok"): 30,
    ("tiff", "unsupported_tiff_layout"): 6,
}
_MAGIC = (
    (b"\x89PNG\r\n\x1a\n", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"II*\0", "tiff"),
    (b"MM\0*", "tiff"),
)


def _corpus_paths() -> list[dict[str, str]]:
    return [Q._tier_paths(name) for name in Q._TIERS] + [Q._corpus_paths_quarantine()]


def _mime(buf: bytes) -> str:
    """The JVM-side magic-byte sniff (`multimodal.mime_col`)."""
    return next((m for magic, m in _MAGIC if buf.startswith(magic)), "unknown")


def _languages(paths: dict[str, str]) -> dict[str, str | None]:
    """media_ref -> `language` of the document that references it."""
    docs = pq.read_table(paths["documents"])
    langs = docs.column("language").to_pylist() if "language" in docs.column_names else None
    lang_of = {}
    for i, spans in enumerate(docs.column("spans").to_pylist()):
        for s in spans or []:
            if s and s["media_ref"]:
                lang_of[s["media_ref"]] = langs[i] if langs else None
    return lang_of


def _corpus_media():
    """(media_ref, payload, language) over the corpora, in media-store order."""
    for paths in _corpus_paths():
        lang_of = _languages(paths)
        media = pq.read_table(paths["media_store"], columns=["media_ref", "payload"])
        for ref, buf in zip(media.column("media_ref").to_pylist(), media.column("payload").to_pylist()):
            yield ref, buf, lang_of.get(ref)


def _codec_test_encodings() -> list[bytes]:
    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, (53, 201), dtype=np.uint8)
    rgb = rng.integers(0, 256, (40, 72, 3), dtype=np.uint8)
    g = np.zeros((33, 41, 3), np.uint8)  # odd dims, steep gradients
    g[..., 0] = np.linspace(0, 255, 41, dtype=np.uint8)[None, :]
    g[..., 1] = np.linspace(255, 0, 33, dtype=np.uint8)[:, None]
    g[..., 2] = 77
    text = np.repeat(render_text("PIN 0123\nJPEG")[..., None], 3, axis=2)
    out = [encode_gray_jpeg(gray, restart_interval=ri) for ri in (1, 3, 8)]
    out += [encode_color_jpeg(rgb, "420", restart_interval=ri) for ri in (1, 3, 7)]
    out += [
        encode_color_jpeg_progressive(img, samp, restart_interval=ri)
        for img in (g, text)
        for samp in ("444", "420")
        for ri in (1, 3)
    ]
    out += [enc(img) for enc in (encode_cmyk_jpeg, encode_ycck_jpeg) for img in (g, text)]
    return out


@functools.lru_cache(maxsize=1)
def _decoded() -> tuple[list, list]:
    """([(image or None, language)] over the corpora, [image or None] over
    the codec-test encodings)."""
    corpus = [(_try_decode(buf), lang) for _, buf, lang in _corpus_media()]
    return corpus, [_try_decode(b) for b in _codec_test_encodings()]


def _try_decode(buf: bytes):
    try:
        return decode_media(bytes(buf))
    except Exception:
        return None


def _pixel_digest(images) -> str:
    h = hashlib.sha256()
    for img in images:
        if img is None:
            h.update(b"error\n")
        else:
            h.update(f"{img.shape}\t{img.dtype}\n".encode())
            h.update(np.ascontiguousarray(img).tobytes())
    return h.hexdigest()


def test_decode_media_output_is_pinned():
    corpus, encodings = _decoded()
    assert len(corpus) == N_PAYLOADS
    assert all(img is not None for img in encodings)
    assert _pixel_digest([img for img, _ in corpus] + encodings) == PIXELS_SHA256


def test_decode_image_text_is_pinned():
    corpus, _ = _decoded()
    h = hashlib.sha256()
    for img, lang in corpus:
        if img is None:
            continue
        try:
            text = decode_image(img, lang)
        except Exception:
            text = "error"
        h.update(f"{text}\x00".encode())
    assert h.hexdigest() == TEXT_SHA256


def test_media_status_is_pinned():
    """What each admitted corpus payload is quarantined for, or `ok`."""
    h = hashlib.sha256()
    counts: Counter = Counter()
    for _, buf, lang in _corpus_media():
        mime = "unknown" if buf is None else _mime(bytes(buf))
        if mime == "unknown":
            continue
        _, status = media_status(bytes(buf), lang)
        counts[(mime, status)] += 1
        h.update(f"{status}\n".encode())
    assert dict(counts) == STATUS_COUNTS
    assert h.hexdigest() == STATUS_SHA256
