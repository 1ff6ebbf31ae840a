"""Composed table-extraction tests (reference flagship path:
`engine_paddle/main.py:203-294` + `data_to_table/main.py:177-244`)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ms_ocr_spark.operators.tables import (
    detect_merges,
    grid_from_boxes,
    ocr_boxes,
    table_cells,
    table_html,
)


def test_table_extraction_matches_layout_golden(spark, tmp_path):
    """media image -> OCR boxes -> grid -> merges -> matrix/html equals the
    layout-derived golden (independent derivation in datagen)."""
    from ms_ocr_spark.sources.datagen import write_table_corpus

    paths = write_table_corpus(str(tmp_path / "tables"), n_tables=12, seed=9)
    media = spark.read.parquet(paths["tables_media"])
    grid = detect_merges(grid_from_boxes(ocr_boxes(media)))
    cells, html = table_cells(grid), table_html(grid)

    got_c = cells.toPandas().sort_values(["doc_id", "row_idx", "col_idx"]).reset_index(drop=True)
    want_c = (
        spark.read.parquet(paths["golden_table_cells"])
        .toPandas()
        .sort_values(["doc_id", "row_idx", "col_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_c[want_c.columns], want_c, check_dtype=False)

    got_h = html.toPandas().sort_values("doc_id").reset_index(drop=True)
    want_h = (
        spark.read.parquet(paths["golden_table_html"])
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_h[want_h.columns], want_h)


def test_detect_merges_rowspan_and_colspan(spark):
    """Hand-built grid: a wide cell spans 2 columns, a tall cell spans 2
    rows (reference `_detectCellMerge` while-loop semantics, tol 10/15)."""
    rows = [
        # doc, box, x1, y1, x2, y2, text     -- col anchors 0/100/200, row anchors 0/50/100
        ("d", 0, 0, 0, 40, 20, "a"),
        ("d", 1, 100, 0, 250, 20, "wide"),   # x2=250 > colpos(200)+15 -> colspan 2
        ("d", 2, 0, 50, 40, 115, "tall"),    # y2=115 > rowpos(100)+10 -> rowspan 2
        ("d", 3, 100, 50, 140, 70, "b"),
        ("d", 4, 200, 50, 240, 70, "c"),
        ("d", 5, 100, 100, 140, 120, "e"),
        ("d", 6, 200, 100, 240, 120, "f"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, box_id long, x1 long, y1 long, x2 long, y2 long, text string")
    grid = detect_merges(grid_from_boxes(df))
    spans = {
        (r["row_idx"], r["col_idx"]): (r["row_span"], r["col_span"], r["text"])
        for r in grid.collect()
    }
    assert spans[(0, 1)] == (1, 2, "wide")
    assert spans[(1, 0)] == (2, 1, "tall")
    assert spans[(0, 0)] == (1, 1, "a")

    cells = {(r["row_idx"], r["col_idx"]): r for r in table_cells(grid).collect()}
    # covered positions (0,2) [wide] and (2,0) [tall] are skipped
    assert (0, 2) not in cells and (2, 0) not in cells
    assert cells[(0, 1)]["col_span"] == 2 and cells[(1, 0)]["row_span"] == 2

    html = table_html(grid).collect()[0]["html"]
    assert '<td rowspan="1" colspan="2">wide</td>' in html
    assert '<td rowspan="2" colspan="1">tall</td>' in html
    # covered positions emit NO td: row 0 has tds for cols 0,1 only
    first_tr = html.split("</tr>")[0]
    assert first_tr.count("<td") == 2


def test_table_plan_is_arrow_batched_single_udf_stage(spark, tmp_path):
    from ms_ocr_spark.sources.datagen import write_table_corpus

    paths = write_table_corpus(str(tmp_path / "tables2"), n_tables=4, seed=5)
    media = spark.read.parquet(paths["tables_media"])
    cells = table_cells(detect_merges(grid_from_boxes(ocr_boxes(media))))
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # Arrow-batched mapInArrow only
    assert plan.count("MapInArrow") == 1


def test_table_multi_hit_cell_concat(spark):
    """Two boxes landing in one grid cell concatenate ' '-joined in (y1, x1)
    scan order (reference `_buildDataFrame` multi-hit, :197-201)."""
    rows = [
        ("d", 0, 0, 0, 30, 20, "first"),
        ("d", 1, 5, 2, 35, 22, "second"),  # same cluster (dx=5<=15, dy=2<=10)
        ("d", 2, 100, 0, 130, 20, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, box_id long, x1 long, y1 long, x2 long, y2 long, text string")
    out = table_cells(detect_merges(grid_from_boxes(df)))
    row = out.filter(F.col("col_idx") == 0).collect()[0]
    assert row["cell_text"] == "first second"
    assert row["n_texts"] == 2


def test_ocr_boxes_decode_every_image_format(spark):
    """ocr_boxes decodes through `decode_media`, so one rendered line gives
    the same boxes whether it is stored as PNG, JPEG or TIFF."""
    from ms_ocr_spark.extraction.ocr.jpeg import encode_gray_jpeg
    from ms_ocr_spark.extraction.ocr.png import encode_gray
    from ms_ocr_spark.extraction.ocr.tiff import encode_gray_tiff
    from ms_ocr_spark.extraction.ocr.glyphs import render_text

    img = render_text("NAME  QTY  PRICE")
    encoders = {"png": encode_gray, "jpeg": encode_gray_jpeg, "tiff": encode_gray_tiff}
    media = spark.createDataFrame(
        [(fmt, bytearray(enc(img))) for fmt, enc in encoders.items()],
        "media_ref string, payload binary",
    )
    rows = ocr_boxes(media).collect()
    boxes = {
        fmt: sorted(tuple(r)[1:] for r in rows if r["doc_id"] == fmt) for fmt in encoders
    }
    assert [b[-1] for b in boxes["png"]] == ["NAME", "QTY", "PRICE"]
    assert boxes["png"] == boxes["jpeg"] == boxes["tiff"]
