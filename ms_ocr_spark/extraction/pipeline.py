"""Flagship batch extraction job: interleaved text+media documents -> spans.

Plan shape (SURVEY.md §7 step 3, north_rule):

    documents ──posexplode(spans)──┬── kind='text'  ── arc90 pandas UDF ──┐
                                   │                                      ├─ unionByName
                                   └── kind='media' ─ join media_store ───┘
                                       (forced broadcast by default) ocr UDF
    ── groupBy(doc_id) ── array_sort(collect_list(struct(offset,…))) ── spans

A doc whose `spans` is empty or NULL keeps one placeholder row through the
(outer) explode, which the re-stitch skips, so it comes out with `[]`.

Order preservation (the reference's detection-order invariant — ordered
span lists at `/root/reference/src/library/engine_paddle/main.py:274-283`)
is carried entirely by the `offset` column: `array_sort` on a struct whose
first field is `offset` re-stitches the original interleaving exactly.

Scale notes (100 TB / 10^12 docs):
  * the explode turns per-doc work into per-span rows, so one mega-document
    never pins a single task — `salt_partitions` adds an explicit
    repartition on (doc_id, offset) before the expensive UDFs (the
    "salted repartitioning" of the north rule); AQE skew-join handles the
    media join side.
  * the media join is an equi-join on media_ref: a forced broadcast
    (`broadcast_media=True`, the default, whatever the store's size), else
    Catalyst/AQE picks (sort-merge when the store is large).
  * UDFs are Arrow-batched pandas UDFs (input_hint: no per-row Python).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)


@F.pandas_udf(T.StringType())
def extract_text_spans(html: pd.Series) -> pd.Series:
    """Arc90-style boilerplate strip (north_rule text branch), Arrow-batched."""
    from ms_ocr_spark.extraction.arc90 import extract_main_text

    return html.map(extract_main_text, na_action="ignore")


@F.pandas_udf(T.StringType())
def ocr_media_spans(payload: pd.Series, language: pd.Series) -> pd.Series:
    """OCR kernel (binarize/deskew/CC-segment/decode), Arrow-batched.

    Replaces the reference's per-request engine subprocess
    (`/root/reference/src/library/engine_tesseract/main.py:117-131`); the
    kernel is stateless/pure so a Series->Series UDF suffices (no
    per-partition model init to amortize — cf. SURVEY.md §2.10).

    `language` routes the kernel layout mode per document (reference
    request field `-|ja|ja_vert|en`, `src/controller/Ocr.ts:37-39`);
    null/`-` auto-detects.  Values are rlike-validated JVM-side before
    they reach this UDF (P13).
    """
    from ms_ocr_spark.extraction.ocr import decode_image, decode_media

    def _one(buf, lang) -> str | None:
        if buf is None:
            return None
        try:
            return decode_image(decode_media(bytes(buf)), lang)
        except Exception:
            # One corrupt/unsupported payload in 10^12 docs must not kill
            # the bucket: undecodable bytes -> null text (the quarantine
            # signal `quarantine_invalid_media` surfaces), never a task
            # failure.  Mirrors the reference rejecting bad uploads at
            # admission (`/root/reference/src/controller/Upload.ts:22-32`).
            return None

    return pd.Series(
        [_one(b, lg) for b, lg in zip(payload, language)], dtype=object
    )


LANGUAGE_PATTERN = "^(-|en|ja|ja_vert)$"  # P13 language-code validation


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans[, language]) -> one row per span (flat
    columns).  An optional doc-level `language` column rides along
    (rlike-validated: unknown codes degrade to NULL = auto-detect, the
    reference's `-` default).

    The explode is outer: a doc with an empty or NULL `spans` array keeps
    one row whose `pos` (the span's index in the array) is NULL and whose
    span fields are NULL."""
    has_lang = "language" in docs.columns
    flat = docs.select(
        "doc_id",
        *(["language"] if has_lang else []),
        F.posexplode_outer("spans").alias("pos", "span"),
    )
    cols = [
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    ]
    if has_lang:
        cols.append(
            F.when(
                F.col("language").rlike(LANGUAGE_PATTERN), F.col("language")
            ).alias("language")
        )
    return flat.select(*cols)


def _restitch(flat: DataFrame) -> DataFrame:
    """(doc_id, pos, kind, out_text, media_ref, offset) -> (doc_id, spans)
    ordered by offset; a span-less doc's placeholder row (NULL `pos`) is
    skipped, so that doc gets `[]`."""
    # array_sort over struct(offset, ...) sorts by offset (first field);
    # fields are then re-ordered to the public span layout.
    sortable = F.struct(
        F.col("offset").alias("offset"),
        F.col("kind").alias("kind"),
        F.col("out_text").alias("text"),
        F.col("media_ref").alias("media_ref"),
    )
    grouped = flat.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("pos").isNotNull(), sortable))
        ).alias("sorted_spans")
    )
    return grouped.select(
        "doc_id",
        F.transform(F.col("sorted_spans"), _reorder_span_fields).alias("spans"),
    )


def _reorder_span_fields(s: Column) -> Column:
    return F.struct(
        s["kind"].alias("kind"),
        s["text"].alias("text"),
        s["media_ref"].alias("media_ref"),
        s["offset"].alias("offset"),
    )


def extract_documents(
    docs: DataFrame,
    media: DataFrame,
    broadcast_media: bool = True,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Run the full extraction; returns (doc_id, spans) matching golden_spans.

    `salt_partitions`: explicit repartition on (doc_id, offset) before the
    UDFs — defuses large-document skew by spreading a mega-doc's spans over
    the cluster instead of one input partition.

    `broadcast_media`: force a broadcast of `media_store` (payloads
    included); False leaves the join strategy to Catalyst/AQE.

    Every doc comes out, one with no spans as `[]`.  Media payloads are
    admission-controlled JVM-side (magic-byte MIME + 30 MB cap, reference
    S2-S4) BEFORE the OCR UDF — invalid payloads never enter Python, their
    spans come out with null text, and they are counted by lineage as
    n_media_missing; list them with `quarantine_invalid_media` for the
    side sink.
    """
    from ms_ocr_spark.operators.multimodal import valid_payload_col

    flat = explode_spans(docs)
    if salt_partitions:
        flat = flat.repartition(salt_partitions, "doc_id", "offset")

    # Single-pass plan: one shuffle, one join, no union.  A two-branch
    # filter/union shape re-explodes and re-shuffles the input twice (the
    # exchanges are not reused across the branches) and doubles shuffle-
    # write cost; instead both UDFs are projected once — each is ~free on
    # the other kind's rows (null input -> null output) — and a CASE picks
    # the survivor.  The media join stays a left join on media_ref
    # (forced broadcast, or AQE's choice with broadcast_media=False).
    media_side = media.select("media_ref", "payload")
    if broadcast_media:
        media_side = F.broadcast(media_side)
    joined = flat.join(media_side, "media_ref", "left")
    # invalid payloads become NULL before the UDF: they never cross the
    # Arrow boundary and decode to null text (quarantine signal)
    payload = F.when(valid_payload_col("payload"), F.col("payload"))
    lang = (
        F.col("language")
        if "language" in flat.columns
        else F.lit(None).cast(T.StringType())
    )
    with_text = joined.withColumn(
        "out_text",
        F.when(
            F.col("kind") == "text", extract_text_spans(F.col("text"))
        ).otherwise(ocr_media_spans(payload, lang)),
    )

    cols = ["doc_id", "pos", "kind", "out_text", "media_ref", "offset"]
    return _restitch(with_text.select(*cols))


@F.pandas_udf(T.StringType())
def _scope_reason_udf(mime: pd.Series, payload: pd.Series) -> pd.Series:
    """Arrow-batched decode-scope probe over admitted payloads, keyed by
    the JVM-side `mime_col` value: a JPEG's `jpeg_scope_reason`
    (`truncated_jpeg` / `unsupported_jpeg_layout`),
    `unsupported_tiff_layout` for an out-of-scope TIFF, else null (in
    scope).  Header-only (marker walk / IFD tags) — never touches entropy
    data or pixels."""
    from ms_ocr_spark.extraction.ocr.jpeg import jpeg_scope_reason
    from ms_ocr_spark.extraction.ocr.tiff import tiff_scope_reason

    def _one(fmt, buf) -> str | None:
        if buf is None:
            return None
        if fmt == "jpeg":
            return jpeg_scope_reason(bytes(buf))
        if fmt == "tiff" and tiff_scope_reason(bytes(buf)) is not None:
            return "unsupported_tiff_layout"
        return None

    return pd.Series([_one(m, b) for m, b in zip(mime, payload)], dtype=object)


def quarantine_invalid_media(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Side output for the validation gate: media spans whose payload
    fails admission (unknown magic bytes / oversized / missing) — the
    relational analog of the reference's upload rejection
    (`/root/reference/src/controller/Upload.ts:22-32`) — or whose bytes
    pass admission but sit outside this engine's decode scope.  Write
    this to a quarantine sink next to the main output.

    `reason` values: `missing` (no payload row), `invalid` (magic-byte /
    size rejection), `truncated_jpeg` (JPEG whose marker walk ends
    before a scan), `unsupported_jpeg_layout` (arithmetic / lossless /
    hierarchical coding, 12-bit precision, sampling factors above 4 or
    fractional sampling ratios, and 4-component frames that are
    untagged, carry an unknown Adobe transform, or are progressive) and `unsupported_tiff_layout`
    (exotic compression / photometric) — all quarantined BY DESIGN by
    the codecs; the distinct reasons let a corpus operator see the
    decode-scope cost (VERDICT r3 item 7).  Progressive (SOF2) JPEGs
    decode since round 5, 3-component YCbCr color since round 6,
    baseline 4-component CMYK/YCCK (Adobe APP14 transform 0/2) and
    progressive restart intervals since round 6 as well, so none of
    those appear here.  All probes are header-only sniffs, never pixel
    decodes."""
    from ms_ocr_spark.operators.multimodal import mime_col, valid_payload_col

    flat = explode_spans(docs).filter(F.col("kind") == "media")
    joined = flat.join(media.select("media_ref", "payload"), "media_ref", "left")
    scope_reason = _scope_reason_udf(F.col("mime"), F.col("payload"))
    return (
        joined.withColumn("mime", mime_col("payload"))
        .withColumn(
            "reason",
            F.when(F.col("payload").isNull(), "missing")
            .when(~valid_payload_col("payload"), "invalid")
            .when(scope_reason.isNotNull(), scope_reason)
            .otherwise("ok"),
        )
        .filter(F.col("reason") != "ok")
        .select(
            "doc_id",
            "offset",
            "media_ref",
            "mime",
            F.length("payload").alias("n_bytes"),
            "reason",
        )
    )
