"""Tests for the §2.8 API-surface scalar helpers and media admission
control."""

from __future__ import annotations

from pyspark.sql import functions as F

from ms_ocr_spark.functions import scalars as S


def test_scalar_helpers(spark):
    df = spark.createDataFrame(
        [("file/input/abc/report.final.PNG", "\x1b[31mred\x1b[0m text")],
        ["path", "log"],
    )
    row = df.select(
        S.file_basename("path").alias("base"),
        S.file_extension("path").alias("ext"),
        S.strip_ansi("log").alias("clean"),
        S.b64(F.encode(F.lit("hi"), "utf-8")).alias("b"),
        S.stable_doc_uid(F.lit("d1"), "job9").alias("uid"),
    ).collect()[0]
    assert row["base"] == "report.final"
    assert row["ext"] == "png"
    assert row["clean"] == "red text"
    assert row["b"] == "aGk="
    assert len(row["uid"]) == 64


def test_validate_media(spark, corpus_dir):
    """Admission control through the quarantine path: a junk payload is
    `invalid` with mime `unknown`; a PNG-magic payload one byte over the
    30 MB cap is `invalid` with mime `png`.  Neither decodes."""
    from ms_ocr_spark.extraction.pipeline import extract_documents
    from ms_ocr_spark.operators.multimodal import MAX_MEDIA_BYTES

    schema = spark.read.parquet(f"{corpus_dir}/media_store.parquet").schema
    big = b"\x89PNG\r\n\x1a\n" + bytes(MAX_MEDIA_BYTES + 1 - 8)
    media = spark.createDataFrame(
        [("bad-1", bytearray(b"not an image"), "x"), ("big-1", bytearray(big), "x")],
        schema,
    )
    docs = spark.createDataFrame(
        [("doc-a", [("media", None, "bad-1", 0), ("media", None, "big-1", 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    (row,) = extract_documents(docs, media).collect()
    assert [s["text"] for s in row["spans"]] == [None, None]
    assert [tuple(q) for q in row["quarantine"]] == [
        (0, "bad-1", "unknown", 12, "invalid"),
        (1, "big-1", "png", MAX_MEDIA_BYTES + 1, "invalid"),
    ]
