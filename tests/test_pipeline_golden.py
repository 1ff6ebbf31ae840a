"""Golden end-to-end test: span-sequence equality (BASELINE.json gate).

The pipeline output must equal `golden_spans` exactly — (kind, text,
media_ref, order) per document — mirroring the reference's ordered
`*_result.json` contract (`/root/reference/src/library/engine_paddle/
main.py:274-283`).
"""

from __future__ import annotations

import struct
import zlib

import pytest
from pyspark.sql import functions as F

from ms_ocr_spark.extraction.pipeline import extract_documents, explode_spans


def _load(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    golden = spark.read.parquet(f"{corpus_dir}/golden_spans.parquet")
    return docs, media, golden


def _assert_spans_equal(result, golden):
    """Exact span-sequence equality via anti-join in both directions."""
    r = result.select("doc_id", F.to_json("spans").alias("js"))
    g = golden.select("doc_id", F.to_json("spans").alias("js"))
    assert r.count() == g.count()
    mismatches = g.join(r, ["doc_id", "js"], "left_anti")
    rows = mismatches.limit(3).collect()
    assert not rows, f"span mismatch for {[r2['doc_id'] for r2 in rows]}"


@pytest.mark.parametrize(
    "kwargs",
    [
        {},
        {"broadcast_media": False},
        {"salt_partitions": 16},
    ],
    ids=["default", "sortmerge", "salted"],
)
def test_golden_span_equality(spark, corpus_dir, kwargs):
    docs, media, golden = _load(spark, corpus_dir)
    result = extract_documents(docs, media, **kwargs)
    _assert_spans_equal(result, golden)


def test_output_schema_matches_input_shape(spark, corpus_dir):
    docs, media, _ = _load(spark, corpus_dir)
    out = extract_documents(docs, media)
    assert [f.name for f in out.schema["spans"].dataType.elementType.fields] == [
        "kind",
        "text",
        "media_ref",
        "offset",
    ]


def test_restitch_is_permutation_invariant(spark, corpus_dir):
    """Property (SURVEY.md §5 item 4): shuffling span order inside the input
    array does not change the re-stitched output (offset is the only key)."""
    docs, media, golden = _load(spark, corpus_dir)
    shuffled = docs.select(
        "doc_id",
        F.expr(
            "array_sort(spans, (a, b) -> CASE WHEN hash(a.offset) < hash(b.offset)"
            " THEN -1 ELSE 1 END)"
        ).alias("spans"),
    )
    result = extract_documents(shuffled, media)
    _assert_spans_equal(result, golden)


def test_explode_spans_row_count(spark, corpus_dir):
    docs, _, _ = _load(spark, corpus_dir)
    n_spans = docs.select(F.sum(F.size("spans"))).collect()[0][0]
    assert explode_spans(docs).count() == n_spans


def test_empty_and_null_span_docs_are_kept(spark, corpus_dir):
    """A doc whose `spans` is `[]` or NULL comes out with `[]` — never
    silently dropped — from the default call, with no extra join."""
    docs, media, _ = _load(spark, corpus_dir)
    empty = spark.createDataFrame(
        [("doc-empty", []), ("doc-null", None)], docs.schema
    )
    both = empty.unionByName(docs.limit(2))
    out = extract_documents(both, media)
    plan = out._jdf.queryExecution().executedPlan().toString()  # pre-AQE
    assert plan.count("Join ") == 1, plan
    rows = {r["doc_id"]: r["spans"] for r in out.collect()}
    assert len(rows) == 4
    assert rows["doc-empty"] == [] and rows["doc-null"] == []
    assert all(len(v) > 0 for k, v in rows.items() if k not in ("doc-empty", "doc-null"))


def test_vertical_tier_golden(spark, tmp_path):
    """ja_vert analog: all-vertical media corpus, columns decoded right to
    left, golden span equality 100% (orientation auto-detected)."""
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "vert"), n_docs=24, seed=11, vertical_pct=1.0)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    _assert_spans_equal(extract_documents(docs, media), golden)


def test_mixed_orientation_golden(spark, tmp_path):
    """Half the media vertical, half horizontal, one corpus — the kernel
    must pick per image."""
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "mixed"), n_docs=24, seed=12, vertical_pct=0.5)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    _assert_spans_equal(extract_documents(docs, media), golden)


def test_warped_tier_golden(spark, tmp_path):
    """Keystone tier: every media span rotated AND x-sheared; the
    distance-gated shear retry recovers golden span equality 100%."""
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "warp"), n_docs=24, seed=14, shear_pct=1.0)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    _assert_spans_equal(extract_documents(docs, media), golden)


def test_validate_payloads_quarantines_corrupt_media(spark, corpus_dir):
    """A corrupt payload row must decode to null text (counted as
    n_media_missing by lineage) and appear in the quarantine side output —
    never crash the OCR UDF (reference S2-S4 admission control)."""
    from ms_ocr_spark.extraction.pipeline import quarantine_invalid_media

    docs, media, _ = _load(spark, corpus_dir)
    one_ref = media.limit(1).collect()[0]["media_ref"]
    corrupt = spark.createDataFrame(
        [(one_ref, bytearray(b"\x00garbage-not-a-png"), "x")], media.schema
    )
    patched = media.filter(F.col("media_ref") != one_ref).unionByName(corrupt)

    out = extract_documents(docs, patched)
    bad = (
        out.select(F.explode("spans").alias("s"))
        .filter((F.col("s.media_ref") == one_ref))
        .collect()
    )
    assert len(bad) == 1 and bad[0]["s"]["text"] is None

    q = quarantine_invalid_media(docs, patched).collect()
    assert len(q) == 1
    assert q[0]["media_ref"] == one_ref
    assert q[0]["reason"] == "invalid" and q[0]["mime"] == "unknown"

    # all other spans unaffected
    n_null = out.select(
        F.sum(F.size(F.filter("spans", lambda s: s["text"].isNull())))
    ).collect()[0][0]
    assert n_null == 1


def _png(idat: bytes) -> bytes:
    """A 16x16 gray PNG with a valid IHDR and the given IDAT data."""

    def chunk(tag: bytes, data: bytes) -> bytes:
        crc = struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        return struct.pack(">I", len(data)) + tag + data + crc

    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def test_decode_error_is_quarantined_with_its_class(spark, corpus_dir):
    """An admitted, in-scope payload whose decode raises (PNG magic, a
    valid IHDR, an IDAT too short for its scanlines) comes out as NULL
    text and one quarantine row naming the exception class — not as a
    silent NULL with no quarantine row."""
    corrupt = _png(zlib.compress(b"\x00" * 3))
    docs, media, _ = _load(spark, corpus_dir)
    one_ref = media.limit(1).collect()[0]["media_ref"]
    patched = media.filter(F.col("media_ref") != one_ref).unionByName(
        spark.createDataFrame([(one_ref, bytearray(corrupt), "x")], media.schema)
    )

    from ms_ocr_spark.extraction.pipeline import quarantine_invalid_media

    out = extract_documents(docs, patched)
    spans = out.select(F.explode("spans").alias("s")).filter(F.col("s.media_ref") == one_ref)
    assert [r["s"]["text"] for r in spans.collect()] == [None]
    q = quarantine_invalid_media(docs, patched).collect()
    assert [(r["media_ref"], r["mime"], r["n_bytes"], r["reason"]) for r in q] == [
        (one_ref, "png", len(corrupt), "decode_error:ValueError")
    ]


def test_decode_error_status_tells_exception_modules_apart():
    """A corrupt deflate stream and a short header read raise classes that
    are both named `error` (zlib.error, struct.error); the status
    module-qualifies them so they stay apart.  Builtins stay bare."""
    from ms_ocr_spark.extraction.pipeline import media_status

    not_zlib = _png(b"not a zlib stream")
    assert media_status(not_zlib, None) == (None, "decode_error:zlib.error")
    assert media_status(not_zlib[:20], None) == (None, "decode_error:struct.error")
    short = _png(zlib.compress(b"\x00" * 3))
    assert media_status(short, None) == (None, "decode_error:ValueError")


def test_language_routing_required_for_squares(spark, tmp_path):
    """ja_vert docs render square glyph grids that auto-detect misreads
    (row/column band counts tie); the language column must flip the
    outcome from mismatched to golden-exact (reference Ocr.ts:37-39)."""
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "routed"), n_docs=24, seed=17, routed_pct=0.6)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    assert "language" in docs.columns

    # WITH routing: exact
    _assert_spans_equal(extract_documents(docs, media), golden)

    # WITHOUT the language column: at least one ja_vert square misreads
    r = extract_documents(docs.drop("language"), media).select(
        "doc_id", F.to_json("spans").alias("js")
    )
    g = golden.select("doc_id", F.to_json("spans").alias("js"))
    n_match = g.join(r, ["doc_id", "js"]).count()
    assert n_match < golden.count(), "auto-detect decoded the squares; tier not ambiguous"


def test_kana_tier_golden(spark, tmp_path):
    """All-Japanese corpus: every doc routes ja (horizontal katakana) or
    ja_vert (katakana squares); golden span equality 100% — the routing
    column selects the kana CHARSET, not just the layout (round 4)."""
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "kana"), n_docs=24, seed=19, routed_pct=1.0)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    # non-Latin truth text really present, horizontal and vertical
    langs = {r["language"] for r in docs.select("language").distinct().collect()}
    assert langs == {"ja", "ja_vert"}
    _assert_spans_equal(extract_documents(docs, media), golden)


def test_rgb_tier_golden(spark, tmp_path):
    """Color tier: truecolor PNG payloads decode via BT.601 luminance
    (K3 RGB->gray); mixed with gray payloads in one corpus, golden span
    equality 100% (round 4)."""
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "rgb"), n_docs=24, seed=20, rgb_pct=0.6)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    _assert_spans_equal(extract_documents(docs, media), golden)
    # round 7: the tier must actually rotate the alpha layouts (RGBA,
    # gray+alpha, palette+tRNS) alongside truecolor/palette — pin the
    # rotation so a future regression can't silently drop a color type
    ctypes = set()
    n_trns = 0
    for r in media.select("payload").collect():
        buf = bytes(r[0])
        if buf[:8] == b"\x89PNG\r\n\x1a\n":
            ctypes.add(buf[25])
            n_trns += b"tRNS" in buf
    assert {0, 2, 3, 4, 6} <= ctypes, ctypes
    assert n_trns >= 1


def test_quarantine_tier_golden_and_reasons(spark, tmp_path):
    """Corrupted-media tier (round 5 reasons): garbage payloads reject at
    admission (`invalid`); header-only SOF2 stubs quarantine as
    `truncated_jpeg`; color-JPEG headers as `unsupported_jpeg_layout`;
    tiled TIFFs as `unsupported_tiff_layout` — while COMPLETE progressive
    JPEGs in the same corpus now DECODE (non-null golden text, absent
    from golden_quarantine).  Extraction output still matches golden
    exactly (null text for quarantined classes, no task failures)."""
    from ms_ocr_spark.extraction.pipeline import quarantine_invalid_media
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(
        str(tmp_path / "quar"),
        n_docs=24,
        seed=22,
        jpeg_pct=0.2,
        prog_jpeg_pct=0.3,
        truncated_jpeg_pct=0.15,
        unsupported_jpeg_pct=0.12,
        invalid_pct=0.2,
        unsupported_tiff_pct=0.15,
    )
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    _assert_spans_equal(extract_documents(docs, media), golden)

    q = quarantine_invalid_media(docs, media)
    gq = spark.read.parquet(paths["golden_quarantine"])
    reasons = {r["reason"] for r in gq.select("reason").distinct().collect()}
    assert reasons == {
        "invalid",
        "truncated_jpeg",
        "unsupported_jpeg_layout",
        "unsupported_tiff_layout",
    }
    cols = ["doc_id", "offset", "media_ref", "mime", "n_bytes", "reason"]
    assert q.count() == gq.count()
    assert gq.select(*cols).exceptAll(q.select(*cols)).count() == 0
    # the round-4 class is GONE: decodable progressive payloads exist in
    # the corpus (prog_jpeg_pct) yet none appears in the quarantine
    import duckdb

    n_prog_decoded = duckdb.sql(
        "SELECT count(*) FROM ("
        f"  SELECT unnest(spans) AS u FROM read_parquet('{paths['golden_spans']}')"
        ") WHERE u.kind = 'media' AND u.text IS NOT NULL"
    ).fetchone()[0]
    assert n_prog_decoded > 0


def test_language_validation_rejects_unknown_codes(spark, tmp_path):
    """P13: an invalid language code must degrade to auto-detect (NULL),
    not crash or route."""
    from ms_ocr_spark.extraction.pipeline import explode_spans
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "routedv"), n_docs=8, seed=18, routed_pct=0.5)
    docs = spark.read.parquet(paths["documents"]).withColumn(
        "language", F.lit("xx_bogus")
    )
    flat = explode_spans(docs)
    assert flat.filter(F.col("language").isNotNull()).count() == 0
