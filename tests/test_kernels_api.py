"""Tests for the §2.7/§2.8 API-surface kernels (morphology + scalar helpers
+ media admission control)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ms_ocr_spark.extraction.ocr import morphology as M
from ms_ocr_spark.functions import scalars as S


def test_threshold_erode_dilate():
    img = np.full((5, 5), 255, dtype=np.uint8)
    img[2, 2] = 0
    th = M.threshold(img, 128)
    assert th[2, 2] == 0 and th[0, 0] == 255
    er = M.erode(img, 3, 3)  # min filter spreads the dark pixel
    assert (er[1:4, 1:4] == 0).all() and er[0, 0] == 255
    di = M.dilate(er, 3, 3)  # max filter shrinks it back
    assert di[0, 0] == 255 and di[2, 2] == 0


def test_gamma_monotone():
    img = np.arange(256, dtype=np.uint8).reshape(16, 16)
    out = M.gamma(img, 2.2)
    assert out[0, 0] == 0 and out[15, 15] == 255
    assert (np.diff(out.flatten().astype(int)) >= 0).all()


def test_mask_and_border():
    img = np.full((6, 8), 200, dtype=np.uint8)
    m = M.make_mask(img.shape, [(1, 1, 3, 3)])
    out = M.apply_mask(img, m)
    assert out[1, 1] == 200 and out[0, 0] == 0
    b = M.add_border(img, 2, 0)
    assert b.shape == (10, 12) and b[0, 0] == 0
    assert np.array_equal(M.remove_border(b, 2), img)


def test_noise_remove_keeps_glyphs():
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    img = render_text("HI")
    out = M.noise_remove(img)
    assert out.shape == img.shape
    assert (out < 128).sum() > 0  # ink survives


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


def test_heatmap_and_draw():
    import numpy as np

    from ms_ocr_spark.extraction.ocr.morphology import draw_rectangles, heatmap

    score = np.array([[0.0, 0.5], [0.75, 1.0]])
    hm = heatmap(score)
    assert hm.shape == (2, 2, 3) and hm.dtype == np.uint8
    assert hm[0, 0, 2] > hm[0, 0, 0]  # cold pixel is blue-dominant
    assert hm[1, 1, 0] > hm[1, 1, 2]  # hot pixel is red-dominant
    flat = heatmap(np.zeros((3, 3)))  # constant map: no div-by-zero
    assert flat.shape == (3, 3, 3)

    img = np.full((10, 12), 255, dtype=np.uint8)
    out = draw_rectangles(img, [(2, 3, 8, 7), (-5, -5, 3, 2)])
    assert out[3, 2] == 0 and out[6, 7] == 0  # outline corners inked
    assert out[5, 5] == 255  # interior untouched
    assert (img == 255).all()  # input not mutated


def test_snap_to_multiple():
    from ms_ocr_spark.operators.multimodal import snap_to_multiple

    h, w = snap_to_multiple(100, 200)
    assert h % 32 == 0 and w % 32 == 0
    assert abs(w / h - 2.0) < 0.35
    assert snap_to_multiple(5, 5) == (32, 32)  # floor at one stride
    # deterministic
    assert snap_to_multiple(737, 1051) == snap_to_multiple(737, 1051)


def test_xlsx_column_widths_east_asian():
    import io
    import zipfile

    from ms_ocr_spark.operators.sinks import display_width, xlsx_from_cells

    assert display_width("abc") == 3
    assert display_width("ＡＢ") == 4  # fullwidth counts double
    cells = [
        {"doc_id": "d", "row_idx": 0, "col_idx": 0, "cell_text": "ＡＢ", "row_span": 1, "col_span": 1},
        {"doc_id": "d", "row_idx": 0, "col_idx": 1, "cell_text": "xy", "row_span": 1, "col_span": 1},
    ]
    with zipfile.ZipFile(io.BytesIO(xlsx_from_cells(cells))) as z:
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    assert '<col min="1" max="1" width="6" customWidth="1"/>' in sheet  # 4+2
    assert '<col min="2" max="2" width="4" customWidth="1"/>' in sheet  # 2+2
