"""The fault rule of the media operators: a bad payload is a row to report.

Each operator runs over a good payload, a junk one, a cut one (the good
payload's first half) and a NULL one.  The good rows come out as they do
alone; each bad payload gives exactly one row of its id with NULL fields
(`image_metadata` keeps the sniffed `format`), and no task fails.
"""

from __future__ import annotations

import io
import wave

import numpy as np
import pandas as pd
import pytest

from ms_ocr_spark.extraction.ocr.avi import encode_mjpeg_avi
from ms_ocr_spark.extraction.ocr.glyphs import render_text
from ms_ocr_spark.extraction.ocr.png import encode_gray
from ms_ocr_spark.extraction.pdf import pdf_extract_spans_df
from ms_ocr_spark.operators.multimodal import (
    audio_features,
    image_metadata,
    media_format,
    video_frame_sample,
)
from ms_ocr_spark.operators.tables import (
    detect_merges,
    grid_from_boxes,
    ocr_boxes,
    table_cells,
    table_html,
)
from ms_ocr_spark.sources.datagen import pdf_from_boxes


def _wav() -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes((np.sin(np.arange(800) / 5) * 9000).astype("<i2").tobytes())
    return buf.getvalue()


# operator name -> (operator, input id column, input payload column, good payload)
CASES = {
    "image_metadata": (
        image_metadata,
        "media_ref",
        "payload",
        lambda: encode_gray(render_text("HI 42")),
    ),
    "video_frame_sample": (
        video_frame_sample,
        "media_ref",
        "payload",
        lambda: encode_mjpeg_avi([render_text(t) for t in ("AB", "CD", "EF", "GH")]),
    ),
    "audio_features": (audio_features, "media_ref", "payload", _wav),
    "ocr_boxes": (ocr_boxes, "media_ref", "payload", lambda: encode_gray(render_text("NAME  QTY"))),
    "pdf_extract_spans_df": (
        pdf_extract_spans_df,
        "doc_id",
        "artifact",
        lambda: pdf_from_boxes([{"x1": 10, "y1": 20, "x2": 60, "y2": 35, "text": "A1"}]),
    ),
}


def _frame(spark, rows, id_col="media_ref", payload_col="payload", id_type="string"):
    return spark.createDataFrame(
        [(i, None if p is None else bytearray(p)) for i, p in rows],
        f"{id_col} {id_type}, {payload_col} binary",
    )


@pytest.mark.parametrize("name", sorted(CASES))
def test_bad_payload_gives_one_null_row(spark, name):
    op, id_col, payload_col, make_good = CASES[name]
    good = make_good()
    payloads = {"good": good, "junk": b"junk payload", "cut": good[: len(good) // 2], "null": None}

    def run(refs):
        df = _frame(spark, [(r, payloads[r]) for r in refs], id_col, payload_col)
        return [r.asDict() for r in op(df).collect()]

    out = run(payloads)
    out_id = next(iter(out[0]))
    alone = run(["good"])
    assert alone and all(list(r.values())[1] is not None for r in alone)
    assert sorted(map(str, (r for r in out if r[out_id] == "good"))) == sorted(map(str, alone))
    for ref in ("junk", "cut", "null"):
        (row,) = [r for r in out if r[out_id] == ref]
        kept = {"format": media_format(payloads[ref])} if name == "image_metadata" else {}
        assert row == {out_id: ref, **{k: None for k in row if k != out_id}, **kept}, row


def test_pdf_spans_keep_a_null_id(spark):
    """The id comes out as the declared string column: a NULL id stays
    NULL (not the string "None"), an int id reads as its digits."""
    good = CASES["pdf_extract_spans_df"][3]()
    df = _frame(
        spark, [(7, good), (None, good), (None, b"junk")], "doc_id", "artifact", id_type="int"
    )
    got = sorted(
        ((r["doc_id"], r["text"]) for r in pdf_extract_spans_df(df).collect()), key=str
    )
    assert got == sorted([("7", "A1"), (None, "A1"), (None, None)], key=str)


def test_a_corrupt_table_image_gives_no_table(spark, tmp_path):
    """Junk, cut and NULL table images keep their NULL row in `ocr_boxes`
    but give no row in `table_cells` or `table_html`, as a blank image
    does; the good table beside them matches its golden."""
    from ms_ocr_spark.sources.datagen import write_table_corpus

    paths = write_table_corpus(str(tmp_path / "tables"), n_tables=1, seed=9)
    media = spark.read.parquet(paths["tables_media"])
    (good,) = [r["payload"] for r in media.collect()]
    bad = _frame(
        spark, [("junk", b"junk payload"), ("cut", good[: len(good) // 2]), ("null", None)]
    )
    boxes = ocr_boxes(media.unionByName(bad))
    assert sorted(r["doc_id"] for r in boxes.filter("box_id IS NULL").collect()) == [
        "cut",
        "junk",
        "null",
    ]
    grid = detect_merges(grid_from_boxes(boxes))

    def frame(df, keys):
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    keys = ["doc_id", "row_idx", "col_idx"]
    want_c = frame(spark.read.parquet(paths["golden_table_cells"]), keys)
    got_c = frame(table_cells(grid), keys)[want_c.columns]
    pd.testing.assert_frame_equal(got_c, want_c, check_dtype=False)
    want_h = frame(spark.read.parquet(paths["golden_table_html"]), ["doc_id"])
    pd.testing.assert_frame_equal(frame(table_html(grid), ["doc_id"])[want_h.columns], want_h)
