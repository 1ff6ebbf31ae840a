"""Decode and OCR-text pins over every cached extraction corpus.

Digest 1 covers `decode_media` output — `shape<TAB>dtype<NL>` plus the
pixel bytes — for every payload of the eleven extraction tiers and the
quarantine corpus, in media-store order, followed by the JPEG encodings
the codec tests build (restart-interval baseline gray and color,
restart-interval progressive color, Adobe CMYK and YCCK).  A payload
that raises contributes `error`.  Digest 2 covers the `decode_image`
text of every decoded corpus image, read with the `language` of the
document that references it (NULL where the corpus has no `language`
column).  Any codec or kernel change that moves one pixel or one
character changes a digest.  No Spark session is needed.
"""

from __future__ import annotations

import functools
import hashlib

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

N_PAYLOADS = 1082
PIXELS_SHA256 = "327845cf973fa8b70ad3db2b348385c6a99f3ec2a75d3029c91d6460c311a4e0"
TEXT_SHA256 = "d81561dfe56a381044b65b2e0c0d60288aff300e350de101776965bc1ce64c3d"


def _corpus_paths() -> list[dict[str, str]]:
    return [Q._tier_paths(name) for name in Q._TIERS] + [Q._corpus_paths_quarantine()]


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
    corpus = []
    for paths in _corpus_paths():
        docs = pq.read_table(paths["documents"])
        langs = docs.column("language").to_pylist() if "language" in docs.column_names else None
        lang_of = {}
        for i, spans in enumerate(docs.column("spans").to_pylist()):
            for s in spans or []:
                if s and s["media_ref"]:
                    lang_of[s["media_ref"]] = langs[i] if langs else None
        media = pq.read_table(paths["media_store"], columns=["media_ref", "payload"])
        for ref, buf in zip(media.column("media_ref").to_pylist(), media.column("payload").to_pylist()):
            corpus.append((_try_decode(buf), lang_of.get(ref)))
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
