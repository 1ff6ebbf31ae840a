"""Composed table extraction: media payload -> OCR word boxes -> grid ->
merged-cell spans -> dense matrix -> HTML table sink.

Re-expresses the reference's flagship paddle table path end-to-end
(`/root/reference/src/library/engine_paddle/main.py:203-294` chains layout
detect -> cell detect -> overlap join -> `DataToTable`), with the
reconstruction semantics of `data_to_table/main.py`:

  * grid_from_boxes  ~ `_detectGrid` (`data_to_table/main.py:274-287`):
                       cluster box TOPS (y1, tol 10) into rows and LEFTS
                       (x1, tol 15) into columns; cluster position = mean
                       top/left (`_clusterPositionAverage`, :246-254)
  * detect_merges    ~ `_detectCellMerge` (`data_to_table/main.py:212-244`):
                       a cell spans into following rows/columns while its
                       far edge passes the next cluster position + tol
  * table_cells      ~ `_buildDataFrame` (`data_to_table/main.py:177-210`):
                       covered (non-origin) merge positions are skipped;
                       multi-hit cells concatenate " "-joined in (y1, x1)
                       scan order
  * table_html       ~ `_html` (`data_to_table/main.py:35-98`): <tr>/<td>
                       with rowspan/colspan, covered positions emit no td,
                       newlines -> <br>

Everything after the OCR UDF is pure DataFrame ops (codegen'd; per-doc
grids are small, all joins are equi-joins on doc_id), so the composition
scales to any number of documents — the only Python is the Arrow-batched
OCR boxes reader.  An image that does not decode keeps its one NULL row in
`ocr_boxes` and gives no grid, cell or HTML row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .multimodal import map_payloads
from .windows import gap_cluster

BOX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("box_id", T.LongType()),
        T.StructField("x1", T.LongType()),
        T.StructField("y1", T.LongType()),
        T.StructField("x2", T.LongType()),
        T.StructField("y2", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def ocr_boxes(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Media payloads -> reading-order OCR word boxes (Arrow-batched).

    One input row fans out to many box rows (the UDTF shape of the
    reference's detector output, `engine_paddle/main.py:232-285`); a
    payload that does not decode gives `map_payloads`' one NULL row.
    """

    def _boxes(buf: bytes | None) -> list[tuple]:
        from ms_ocr_spark.extraction.ocr import decode_media
        from ms_ocr_spark.extraction.ocr.kernel import decode_words

        return [(i, *box) for i, box in enumerate(decode_words(decode_media(buf)))]

    return map_payloads(media, BOX_SCHEMA, _boxes, payload_col=payload_col)


def grid_from_boxes(
    boxes: DataFrame,
    doc_col: str = "doc_id",
    tol_y: int = 10,
    tol_x: int = 15,
) -> DataFrame:
    """Cluster boxes into grid coordinates by TOP/LEFT edges (reference
    `_detectGrid` semantics — unlike operators.boxes.table_grid, which
    clusters centers for the standalone A2/A3 queries).  A NULL `box_id`
    is `ocr_boxes`' row for an image that did not decode: like a blank
    image, it gives no table."""
    with_pos = (
        boxes.filter(F.col("box_id").isNotNull())
        .withColumn("_y1d", F.col("y1").cast("double"))
        .withColumn("_x1d", F.col("x1").cast("double"))
    )
    rows = gap_cluster(with_pos, [doc_col], "_y1d", tol_y, "row_idx")
    both = gap_cluster(rows, [doc_col], "_x1d", tol_x, "col_idx")
    wr = Window.partitionBy(doc_col, "row_idx")
    wc = Window.partitionBy(doc_col, "col_idx")
    return (
        both.withColumn("row_pos", F.avg("_y1d").over(wr))
        .withColumn("col_pos", F.avg("_x1d").over(wc))
        .drop("_y1d", "_x1d")
    )


def detect_merges(
    grid: DataFrame,
    doc_col: str = "doc_id",
    tol_y: int = 10,
    tol_x: int = 15,
) -> DataFrame:
    """Add row_span/col_span per cell (reference `_detectCellMerge`).

    The reference walks cluster positions while `edge > pos[a] + tol`;
    positions are ascending, so the while-loop equals counting ALL later
    positions the edge passes — expressed as a filter over the per-doc
    position array.  The array comes from a WINDOW collect (not a
    self-join): a join back onto `grid` would duplicate the upstream OCR
    subtree in the plan and run the expensive UDF once per reference.
    Per-doc array size = #boxes (grids are small per doc; bounded state).
    """
    w = Window.partitionBy(doc_col)
    rows_arr = F.array_sort(
        F.array_distinct(
            F.collect_list(
                F.struct(F.col("row_idx").alias("i"), F.col("row_pos").alias("p"))
            ).over(w)
        )
    )
    cols_arr = F.array_sort(
        F.array_distinct(
            F.collect_list(
                F.struct(F.col("col_idx").alias("i"), F.col("col_pos").alias("p"))
            ).over(w)
        )
    )
    out = grid.withColumn("_rows", rows_arr).withColumn("_cols", cols_arr)
    row_span = F.lit(1) + F.size(
        F.filter(
            "_rows",
            lambda s: (s["i"] > F.col("row_idx")) & (F.col("y2") > s["p"] + F.lit(tol_y)),
        )
    )
    col_span = F.lit(1) + F.size(
        F.filter(
            "_cols",
            lambda s: (s["i"] > F.col("col_idx")) & (F.col("x2") > s["p"] + F.lit(tol_x)),
        )
    )
    return (
        out.withColumn("row_span", row_span.cast("long"))
        .withColumn("col_span", col_span.cast("long"))
        .drop("_rows", "_cols")
    )


def _covered_pred(m, row, col):
    """Is (row, col) a non-origin position inside merge range `m`?"""
    return (
        ((m["row_span"] > 1) | (m["col_span"] > 1))
        & (row >= m["row_idx"])
        & (row <= m["row_idx"] + m["row_span"] - 1)
        & (col >= m["col_idx"])
        & (col <= m["col_idx"] + m["col_span"] - 1)
        & ~((row == m["row_idx"]) & (col == m["col_idx"]))
    )


def _cells_flagged(grid_m: DataFrame, doc_col: str) -> DataFrame:
    """(doc, row_idx, col_idx, cell_text, row_span, col_span, n_texts,
    is_covered, _merges) — one row per occupied grid position; multi-hit
    positions concatenate " "-joined in (y1, x1) scan order (reference
    `_buildDataFrame` :197-201).

    Covered-ness is computed from the per-RAW-cell merge rectangles
    (window-collected per doc, join-free): the reference's cellMergeList
    unions each individual cell's range (`:184-189`), so aggregating
    max(row_span), max(col_span) per position FIRST would fabricate a
    diagonal cover no single cell has (e.g. members (2,1)+(1,2) do not
    cover (+1,+1)).
    """
    w = Window.partitionBy(doc_col)
    merges_arr = F.collect_list(
        F.when(
            (F.col("row_span") > 1) | (F.col("col_span") > 1),
            F.struct("row_idx", "col_idx", "row_span", "col_span"),
        )
    ).over(w)
    raw = grid_m.withColumn("_merges", merges_arr).withColumn(
        "is_covered",
        F.exists("_merges", lambda m: _covered_pred(m, F.col("row_idx"), F.col("col_idx"))),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("y1"), F.col("x1"), F.col("text")))
    )
    return raw.groupBy(doc_col, "row_idx", "col_idx").agg(
        F.concat_ws(" ", F.transform(ordered, lambda s: s["text"])).alias("cell_text"),
        F.max("row_span").alias("row_span"),
        F.max("col_span").alias("col_span"),
        F.count(F.lit(1)).alias("n_texts"),
        F.max("is_covered").alias("is_covered"),
        F.first("_merges").alias("_merges"),
    )


def table_cells(grid_m: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Dense matrix rows: (doc, row_idx, col_idx, cell_text, row_span,
    col_span, n_texts).  Cells landing on covered merge positions are
    skipped (reference `_buildDataFrame` `cellMergeList` skip, :188-196)."""
    return (
        _cells_flagged(grid_m, doc_col)
        .filter(~F.col("is_covered"))
        .drop("_merges", "is_covered")
    )


def table_html(grid_m: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Assemble one `<table>` HTML string per document (reference `_html`
    semantics: covered positions emit NO td; absent grid positions emit an
    empty td; \\n -> <br>).  One grouped collect per doc, then pure
    higher-order-function string assembly over the tiny per-doc cell array
    — no driver loops, no self-joins (single OCR pass in the plan)."""
    flagged = _cells_flagged(grid_m, doc_col)
    per_doc = flagged.groupBy(doc_col).agg(
        F.collect_list(
            F.struct(
                "row_idx", "col_idx", "cell_text", "row_span", "col_span", "is_covered"
            )
        ).alias("cs"),
        F.first("_merges").alias("_merges"),
    )
    n_rows = F.array_max(F.transform("cs", lambda c: c["row_idx"])) + 1
    n_cols = F.array_max(F.transform("cs", lambda c: c["col_idx"])) + 1

    def td(r, c):
        # coverage from the per-RAW-cell merge rectangles (see
        # _cells_flagged) — also handles covered positions with no cell
        covered = F.exists("_merges", lambda m: _covered_pred(m, r, c))
        hit = F.get(
            F.filter(
                "cs",
                lambda x: (x["row_idx"] == r) & (x["col_idx"] == c) & ~x["is_covered"],
            ),
            0,
        )
        rendered = F.format_string(
            '<td rowspan="%d" colspan="%d">%s</td>',
            F.coalesce(hit["row_span"], F.lit(1)),
            F.coalesce(hit["col_span"], F.lit(1)),
            F.regexp_replace(F.coalesce(hit["cell_text"], F.lit("")), "\n", "<br>"),
        )
        # NULL for covered positions: concat_ws drops them (no td at all)
        return F.when(covered, F.lit(None)).otherwise(rendered)

    body = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_rows - 1),
            lambda r: F.concat(
                F.lit("<tr>\n"),
                F.concat_ws(
                    "\n",
                    F.transform(F.sequence(F.lit(0).cast("long"), n_cols - 1), lambda c: td(r, c)),
                ),
                F.lit("\n</tr>"),
            ),
        ),
    )
    return per_doc.select(
        doc_col,
        F.concat(F.lit("<table>\n"), body, F.lit("\n</table>")).alias("html"),
    )

