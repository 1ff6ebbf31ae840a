"""Multimodal column operators: opaque binary payloads + typed metadata.

Everything here is REAL decode — no stubs remain (round 5):
  * images: the engine's own PNG/JPEG(baseline+progressive)/TIFF codecs,
    declared once in `IMAGE_FORMATS`: the magic-byte sniff on both sides
    of the Arrow boundary (`media_format` in Python, `mime_col` on the
    JVM) and the decode entry every image operator calls
    (`extraction.ocr.decode_media`) read that one table
  * audio (round 4): RIFF/WAVE PCM-16 via the stdlib `wave` module
  * video (round 5): MJPEG-in-AVI — the engine's own RIFF walker + its
    own baseline-JPEG decoder (`extraction/ocr/avi.py`), zero external
    codecs

Every media operator (these three, `tables.ocr_boxes` and
`pdf.pdf_extract_spans_df`) is a per-payload reader run by `map_payloads`,
the one executor loop.  Fault rule: a payload its reader cannot read
(junk, cut or NULL) comes out as exactly one row of its id with NULL
fields, never as a task failure or a partial set of rows.

Pattern notes (100 TB): mapInArrow streams Arrow record batches through
one Python worker per core, and each reader's rows go straight back into
one record batch (`rows_batch`) — payload bytes never round-trip the
driver, and no pandas frame is built per batch; metadata-only queries
never deserialize payloads (column pruning).
"""

from __future__ import annotations

import hashlib
import io
import wave
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ink_ratio", T.DoubleType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("format", T.StringType()),
        # side-values the reference keeps at decode (S5, image_processor/
        # main.py:58-63): pHYs dpi, iCCP profile name, eXIf orientation
        T.StructField("dpi", T.DoubleType()),
        T.StructField("icc_name", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
    ]
)


def rows_batch(rows: list[tuple], schema: T.StructType) -> pa.RecordBatch:
    """Row tuples (None for NULL) -> one Arrow record batch of `schema`'s
    exact column types, as mapInArrow requires."""
    arrow = to_arrow_schema(schema)
    cols = zip(*rows) if rows else [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def map_payloads(
    df: DataFrame,
    schema: T.StructType,
    rows_of: Callable[[bytes | None], Iterable[tuple]],
    id_col: str = "media_ref",
    payload_col: str = "payload",
) -> DataFrame:
    """The one executor loop of every media operator: one `mapInArrow`
    over (id cast to `schema`'s first field, payload) that emits
    `(id, *row)` for each row `rows_of(payload)` returns.  A payload whose
    `rows_of` raises (junk, cut, NULL) gives exactly one `(id, NULL, ...)`
    row and none of its other rows — a fault is a row to report, never a
    task failure."""
    from pyspark.sql import functions as F

    fault = (None,) * (len(schema) - 1)

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for ref, buf in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                try:
                    rows += [(ref, *row) for row in rows_of(buf)]
                except Exception:
                    rows.append((ref, *fault))
            yield rows_batch(rows, schema)

    ref = F.col(id_col).cast(schema.fields[0].dataType)
    return df.select(ref, payload_col).mapInArrow(_run, schema=schema)


# The image formats the engine decodes (reference allow-list jpg/png/tif,
# `env/local.env:25`), in sniff order: each row is a format's name and the
# magic prefixes that mark it (reference S2, `HelperSrc.ts:184-406`).
# Both sniffs, `media_format` and `mime_col`, match the whole prefixes, and
# `extraction.ocr.CODECS` maps each name to its decoder and side-value
# reader.
IMAGE_FORMATS = (
    ("png", (b"\x89PNG\r\n\x1a\n",)),
    ("jpeg", (b"\xff\xd8\xff",)),
    ("tiff", (b"II*\x00", b"MM\x00*")),
)


def media_format(buf: bytes | None) -> str:
    """The name of the `IMAGE_FORMATS` row whose magic prefix `buf` starts
    with, or "unknown" (also for None)."""
    return next(
        (name for name, prefixes in IMAGE_FORMATS if buf and buf.startswith(prefixes)),
        "unknown",
    )


MAX_MEDIA_BYTES = 30 * 1024 * 1024  # reference size cap, env/local.env:26


def magic_col(payload_col: str = "payload"):
    """Hex of a payload's first bytes, as many as the longest
    `IMAGE_FORMATS` prefix: the input of `mime_col`."""
    from pyspark.sql import functions as F

    n = max(len(p) for _, prefixes in IMAGE_FORMATS for p in prefixes)
    return F.hex(F.substring(F.col(payload_col), 1, n))


def mime_col(magic: str = "magic"):
    """JVM-side magic-byte MIME sniff Column (reference S2) over the column
    `magic`, a projected `magic_col`: one `when` branch per `IMAGE_FORMATS`
    row, so the sniff reads a projected column, evaluated once per row."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    head = F.col(magic)
    sniff = F  # F.when opens the chain, Column.when extends it
    for name, prefixes in IMAGE_FORMATS:
        hit = reduce(or_, [head.startswith(p.hex().upper()) for p in prefixes])
        sniff = sniff.when(hit, name)
    return sniff.otherwise("unknown")


def image_metadata(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode payloads -> per-image metadata rows: the decoded image's
    features, its `media_format` name, and the side values the reference
    keeps at decode (S5): dpi, ICC profile name, EXIF orientation."""

    def _meta(buf: bytes | None) -> list[tuple]:
        from ms_ocr_spark.extraction.ocr import CODECS

        fmt = media_format(buf)
        try:
            decode, side_values = CODECS[fmt]
            img = decode(buf)
        except Exception:
            # an unknown format or a failed decode (out-of-scope layout,
            # truncated file) keeps the sniffed format in its null row
            return [(None, None, None, None, fmt, None, None, None)]
        # the side-value readers never raise: a malformed chunk nulls its
        # own field and keeps the decoded ones
        sv = side_values(buf)
        # rounded to 6dp with Python round(): bit-identical to the datagen
        # golden (same expressions on the same round-tripped pixels —
        # datagen measures the DECODED image for lossy formats)
        h, w = img.shape
        ink, mean = round(float((img < 128).mean()), 6), round(float(img.mean()), 6)
        return [(w, h, ink, mean, fmt, sv["dpi"], sv["icc_name"], sv["orientation"])]

    return map_payloads(media, IMAGE_META_SCHEMA, _meta, payload_col=payload_col)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ink_ratio", T.DoubleType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def video_frame_sample(
    media: DataFrame, every_n: int = 3, payload_col: str = "payload"
) -> DataFrame:
    """REAL video frame sampling (round 5 — the last stub closed): MJPEG
    AVI payloads are parsed by the engine's own RIFF walker and each
    sampled frame decoded by its own baseline-JPEG codec
    (`extraction/ocr/avi.py`) — zero external codecs.  One input row
    fans out to one row per sampled frame (index, size, ink/intensity
    features, md5 of the decoded pixels); an undecodable payload gives
    `map_payloads`' single all-null fault row."""

    def _frames(buf: bytes | None) -> list[tuple]:
        from ms_ocr_spark.extraction.ocr.avi import avi_frames

        return [
            (
                idx,
                int(f.shape[1]),
                int(f.shape[0]),
                round(float((f < 128).mean()), 6),
                round(float(f.mean()), 6),
                hashlib.md5(f.tobytes()).hexdigest(),
            )
            for idx, f in enumerate(avi_frames(buf))
            if idx % every_n == 0
        ]

    return map_payloads(media, FRAME_SCHEMA, _frames, payload_col=payload_col)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def wav_features(buf: bytes) -> tuple:
    """Decode one RIFF/WAVE PCM-16 payload -> feature tuple.  Raises on
    bytes that are not a whole PCM-16 WAV (the operator's fault row).

    Stdlib-only (wave + numpy), deterministic float64 math:
      * duration_s = frames / rate, 6 dp
      * rms of all samples normalized to [-1, 1] (int16 / 32768), 6 dp
      * zero crossings of channel 0 (signbit transitions)
    """
    with wave.open(io.BytesIO(buf)) as w:
        if w.getsampwidth() != 2 or w.getcomptype() != "NONE":
            raise ValueError("not a PCM-16 WAV")
        rate, nch, nframes = w.getframerate(), w.getnchannels(), w.getnframes()
        raw = w.readframes(nframes)
    if len(raw) < nframes * nch * 2:
        raise ValueError("WAV data shorter than its header's frame count")
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if len(x) == 0:
        return (rate, nch, 0, 0.0, 0.0, 0)
    rms = round(float(np.sqrt(np.mean((x / 32768.0) ** 2))), 6)
    ch0 = x[::nch]
    zc = int(np.count_nonzero(np.diff(np.signbit(ch0))))
    return (rate, nch, nframes, round(nframes / rate, 6), rms, zc)


def audio_features(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Audio feature extraction over binary WAV payloads (round 4 — the
    last stub closed): RIFF/WAVE PCM-16 parsed with the stdlib `wave`
    module (no external codec needed); compressed, cut or non-WAV
    payloads give `map_payloads`' all-null fault row.  Same 100-TB shape
    as the image path: payloads stream through Arrow batches, never the
    driver."""
    return map_payloads(
        media, AUDIO_SCHEMA, lambda buf: [wav_features(buf)], payload_col=payload_col
    )
