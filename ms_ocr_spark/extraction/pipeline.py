"""Flagship batch extraction job: interleaved text+media documents -> spans.

Plan shape (SURVEY.md §7 step 3, north_rule):

    documents ──posexplode(spans)── left join media_store on media_ref
                                    (forced broadcast by default)
    ── JVM admission: magic-byte MIME + 30 MB cap (missing / invalid)
    ── extract_span Arrow UDF (kind, text, admitted payload, language)
       -> struct<text, status>: Arc90 strip or `media_status`, whose one
       decode is also the one scope check
    ── groupBy(doc_id) ── array_sort(collect_list(struct(offset,…))) ── spans
                      └── array_sort(collect_list(not-ok media))  ── quarantine

One pass, one Python boundary: every span row crosses into Python once,
and the quarantine side output is a column of the same re-stitch, so a
caller never re-reads the input to learn what happened to a media span.

A doc whose `spans` is empty or NULL keeps one placeholder row through the
(outer) explode, which the re-stitch skips, so it comes out with `[]`.

Order preservation (the reference's detection-order invariant — ordered
span lists at `/root/reference/src/library/engine_paddle/main.py:274-283`)
is carried entirely by the `offset` column: `array_sort` on a struct whose
first field is `offset` re-stitches the original interleaving exactly.

Scale notes (100 TB / 10^12 docs):
  * the explode turns per-doc work into per-span rows, so one mega-document
    never pins a single task — `salt_partitions` adds an explicit
    repartition on (doc_id, offset) before the expensive UDF (the
    "salted repartitioning" of the north rule); AQE skew-join handles the
    media join side.
  * the media join is an equi-join on media_ref: a forced broadcast
    (`broadcast_media=True`, the default, whatever the store's size), else
    Catalyst/AQE picks (sort-merge when the store is large).
  * the UDF is an Arrow UDF over `pyarrow.Array`s (input_hint: no per-row
    Python boundary, no pandas conversion).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SPAN_RESULT = T.StructType(
    [T.StructField("text", T.StringType()), T.StructField("status", T.StringType())]
)


def media_status(buf: bytes, language: str | None) -> tuple[str | None, str]:
    """(text, status) of one admitted media payload — the one statement of
    what happens to a media span past admission.

    `decode_media` dispatches on the same magic bytes as the JVM-side
    sniff.  `language` routes the kernel layout mode per document
    (reference request field `-|ja|ja_vert|en`,
    `src/controller/Ocr.ts:37-39`); NULL/`-` auto-detects.

    `status` values, with NULL text for every one but `ok`:
      * `ok` — decoded and OCR'd;
      * `truncated_jpeg` (JPEG whose marker walk breaks off, or ends
        before a frame and a scan) and `unsupported_jpeg_layout`
        (arithmetic / lossless / hierarchical coding, 12-bit precision,
        16-bit quantization tables, sampling factors above 4 or
        fractional sampling ratios, and 4-component frames that are
        untagged, carry an unknown Adobe transform, or are progressive);
      * `unsupported_tiff_layout` (exotic compression / photometric /
        sample layout);
      * `decode_error:<ExceptionClass>` — in scope, but the decode
        raised; a class outside the builtins is module-qualified
        (`decode_error:zlib.error`, `decode_error:struct.error`, but
        `decode_error:ValueError`).
    The scope reasons come from the one decode: a codec raises
    `ScopeError` with the reason where it meets an out-of-scope or cut-off
    layout, which is quarantined BY DESIGN; the distinct reasons let a
    corpus operator see the decode-scope cost (VERDICT r3 item 7).
    Admission rejects (`missing`, `invalid`) are decided JVM-side and
    never reach this function.

    One corrupt payload in 10^12 docs must not kill the bucket, so a
    decode failure is a status, never a task failure — and never a silent
    NULL: its exception class names it.
    """
    from ms_ocr_spark.extraction.ocr import ScopeError, decode_image, decode_media

    try:
        return decode_image(decode_media(buf), language), "ok"
    except ScopeError as e:
        return None, e.args[0]
    except Exception as e:
        cls = type(e)
        name = cls.__qualname__
        if cls.__module__ != "builtins":
            name = f"{cls.__module__}.{name}"
        return None, f"decode_error:{name}"


@F.arrow_udf(_SPAN_RESULT)
def extract_span(kind: pa.Array, text: pa.Array, payload: pa.Array, language: pa.Array) -> pa.Array:
    """One span row -> (text, status), Arrow-batched: the Arc90 boilerplate
    strip for a text span (north_rule text branch), `media_status` for an
    admitted media payload.  A row without an admitted payload gets
    (NULL, NULL); the JVM side names it `missing` or `invalid`.

    Replaces the reference's per-request engine subprocess
    (`/root/reference/src/library/engine_tesseract/main.py:117-131`); the
    kernel is stateless/pure, so there is no per-partition model init to
    amortize (cf. SURVEY.md §2.10)."""
    from ms_ocr_spark.extraction.arc90 import extract_main_text

    def _one(k, html, buf, lang):
        if k == "text":
            return (None if html is None else extract_main_text(html)), "ok"
        if buf is None:
            return None, None
        return media_status(buf, lang)

    cols = (a.to_pylist() for a in (kind, text, payload, language))
    texts, statuses = zip(*(_one(*r) for r in zip(*cols))) if len(kind) else ((), ())
    return pa.StructArray.from_arrays(
        [pa.array(texts, pa.string()), pa.array(statuses, pa.string())],
        names=["text", "status"],
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
    """(doc_id, pos, kind, out_text, media_ref, offset, mime, n_bytes,
    status) -> (doc_id, spans, quarantine), both ordered by offset.

    `spans`: a span-less doc's placeholder row (NULL `pos`) is skipped, so
    that doc gets `[]`.  `quarantine`: the doc's media spans whose status
    is not `ok`, as (offset, media_ref, mime, n_bytes, reason)."""
    # array_sort over struct(offset, ...) sorts by offset (first field);
    # span fields are then re-ordered to the public span layout.
    sortable = F.struct(
        F.col("offset").alias("offset"),
        F.col("kind").alias("kind"),
        F.col("out_text").alias("text"),
        F.col("media_ref").alias("media_ref"),
    )
    quarantined = F.struct(
        F.col("offset").alias("offset"),
        F.col("media_ref").alias("media_ref"),
        F.col("mime").alias("mime"),
        F.col("n_bytes").alias("n_bytes"),
        F.col("status").alias("reason"),
    )
    is_quarantined = (F.col("kind") == "media") & (F.col("status") != "ok")
    grouped = flat.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.when(F.col("pos").isNotNull(), sortable))
        ).alias("sorted_spans"),
        F.array_sort(F.collect_list(F.when(is_quarantined, quarantined))).alias(
            "quarantine"
        ),
    )
    return grouped.select(
        "doc_id",
        F.transform(F.col("sorted_spans"), _reorder_span_fields).alias("spans"),
        "quarantine",
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
    """Run the full extraction; returns (doc_id, spans, quarantine), whose
    `spans` match golden_spans.

    `salt_partitions`: explicit repartition on (doc_id, offset) before the
    UDF — defuses large-document skew by spreading a mega-doc's spans over
    the cluster instead of one input partition.

    `broadcast_media`: force a broadcast of `media_store` (payloads
    included); False leaves the join strategy to Catalyst/AQE.

    Every doc comes out, one with no spans as `[]`.  Media payloads are
    admission-controlled JVM-side (magic-byte MIME + 30 MB cap, reference
    S2-S4) BEFORE the UDF — a missing or invalid payload never enters
    Python.  The JVM-side `mime` decides admission and rides in the
    quarantine row; the UDF gets the admitted payload alone, and its one
    decode per payload is also the decode-scope check.  A media span that
    is not admitted, out of decode scope or undecodable comes out with
    NULL text (counted by lineage as n_media_missing) and as one row of
    its doc's `quarantine` array, with `reason` `missing`, `invalid` or a
    `media_status` status.
    """
    from ms_ocr_spark.operators.multimodal import MAX_MEDIA_BYTES, magic_col, mime_col

    flat = explode_spans(docs)
    if salt_partitions:
        flat = flat.repartition(salt_partitions, "doc_id", "offset")

    # Single-pass plan: one shuffle, one join, one Arrow UDF, no union.  A
    # two-branch filter/union shape re-explodes and re-shuffles the input
    # twice (the exchanges are not reused across the branches).  The media
    # join stays a left join on media_ref (forced broadcast, or AQE's
    # choice with broadcast_media=False).  Admission is a known MIME and
    # the size cap (reference S3/S4, `/root/reference/src/HelperSrc.ts:
    # 408-430`), read from the projected `mime` and `n_bytes`.
    media_side = media.select("media_ref", "payload")
    if broadcast_media:
        media_side = F.broadcast(media_side)
    joined = (
        flat.join(media_side, "media_ref", "left")
        .withColumn("magic", magic_col("payload"))
        .withColumn("mime", mime_col("magic"))
        .withColumn("n_bytes", F.length("payload"))
        .withColumn(
            "admission",
            F.when(F.col("payload").isNull(), "missing").when(
                (F.col("mime") == "unknown") | (F.col("n_bytes") > MAX_MEDIA_BYTES),
                "invalid",
            ),
        )
    )
    lang = (
        F.col("language")
        if "language" in flat.columns
        else F.lit(None).cast(T.StringType())
    )
    # only admitted bytes cross the Arrow boundary
    admitted = F.when(F.col("admission").isNull(), F.col("payload"))
    cols = ["doc_id", "pos", "kind", "media_ref", "offset", "mime", "n_bytes"]
    with_out = joined.select(
        *cols,
        "admission",
        extract_span("kind", "text", admitted, lang).alias("out"),
    )
    return _restitch(
        with_out.select(
            *cols,
            F.col("out.text").alias("out_text"),
            F.coalesce("admission", "out.status").alias("status"),
        )
    )


def quarantine_invalid_media(docs: DataFrame, media: DataFrame) -> DataFrame:
    """Quarantine side output, one row per media span that is not `ok`:
    (doc_id, offset, media_ref, mime, n_bytes, reason) — the relational
    analog of the reference's upload rejection (reference
    `src/controller/Upload.ts:22-32`).  `reason` is
    `missing` (no payload row), `invalid` (magic-byte / size rejection) or
    a `media_status` status."""
    return extract_documents(docs, media).select("doc_id", F.inline("quarantine"))
