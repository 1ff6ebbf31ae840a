"""Spatial box operators: overlap theta-join, containment anti-join,
order-dependent overlap dedup, grid reconstruction.

Re-expresses the reference's geometry passes (SURVEY.md §2.2 P6/P7, §2.3
J1/J2, §2.4 A2-A5):

  * overlap_join        ~ text-box ⋈ cell-box >50%-of-text-area join
                          (`/root/reference/src/library/engine_paddle/
                          main.py:33-54,117-140`)
  * containment_anti    ~ nested-box drop (`detection_craft/main.py:98-111`)
  * dedup_overlap_keep_first ~ `_filterOverlapBox` greedy keep-first
                          (`engine_paddle/main.py:56-83`) — order-dependent,
                          so it runs per document over an Arrow stream in
                          detection order, never as a join
  * table_grid          ~ `_clusterPosition`/`_buildDataFrame` grid pivot
                          (`data_to_table/main.py:177-210,256-272`)

Box convention: integer (x1, y1, x2, y2), end-exclusive areas
(x2-x1)*(y2-y1), matching the reference's int-cast coords.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup as dedup_mod
from .windows import gap_cluster


def overlap_join(
    cells: DataFrame,
    texts: DataFrame,
    doc_col: str = "doc_id",
    min_frac_of_text: float = 0.5,
) -> DataFrame:
    """Theta join: text boxes overlapping a cell box > `min_frac_of_text`
    of the text's own area.

    Columns required on both sides: doc_col, x1..y2 (prefixed c_/t_ in the
    output).  The equi-key on doc_id lets Catalyst plan a hash/sort-merge
    join on doc_id with the range predicate applied post-match — per-doc
    co-location means no cross-doc pair explosion.  Integer overlap math
    (2*overlap > area) avoids float comparisons for oracle parity.
    """
    # pinned join width (round 8, guide §2.5): the per-doc theta join
    # multiplies rows (|cells| x |texts| per doc) while its INPUT bytes
    # are small — AQE's coalescing would fold the amplified join into a
    # few tasks (measured 3.8 -> 2.3 s at 6M lineitem rows with the
    # explicit width; see dedup.pinned_width for the derivation)
    n_part = dedup_mod.pinned_width(cells)
    c = cells.repartition(n_part, doc_col).select(
        F.col(doc_col),
        *[F.col(n).alias(f"c_{n}") for n in ("box_id", "x1", "y1", "x2", "y2")],
    )
    t = texts.repartition(n_part, doc_col).select(
        F.col(doc_col),
        *[F.col(n).alias(f"t_{n}") for n in ("box_id", "x1", "y1", "x2", "y2")],
    )
    ox = F.greatest(
        F.lit(0), F.least("c_x2", "t_x2") - F.greatest("c_x1", "t_x1")
    )
    oy = F.greatest(
        F.lit(0), F.least("c_y2", "t_y2") - F.greatest("c_y1", "t_y1")
    )
    t_area = (F.col("t_x2") - F.col("t_x1")) * (F.col("t_y2") - F.col("t_y1"))
    frac_num = ox * oy
    cond = frac_num * F.lit(int(round(1 / min_frac_of_text))) > t_area
    return (
        c.join(t, on=doc_col, how="inner")
        .filter(cond)
        .withColumn("overlap_area", frac_num)
    )


def containment_anti(boxes: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Drop boxes fully contained in another box of the same document.

    Left-anti self-join on the containment predicate — the set-based twin
    of the reference's O(n^2) loop.  Requires columns box_id, x1..y2.
    """
    a = boxes.alias("a")
    b = boxes.alias("b")
    contained = (
        (F.col(f"a.{doc_col}") == F.col(f"b.{doc_col}"))
        & (F.col("a.box_id") != F.col("b.box_id"))
        & (F.col("a.x1") >= F.col("b.x1"))
        & (F.col("a.y1") >= F.col("b.y1"))
        & (F.col("a.x2") <= F.col("b.x2"))
        & (F.col("a.y2") <= F.col("b.y2"))
    )
    return a.join(b, contained, "left_anti")


def dedup_overlap_keep_first(
    boxes: DataFrame,
    doc_col: str = "doc_id",
    order_col: str = "box_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Greedy keep-first overlap dedup (order-dependent semantics).

    A box is dropped when its mutual overlap with an already-KEPT earlier
    box exceeds `threshold` of BOTH areas — the keep-set evolves during the
    scan, so this is not expressible as a join; it runs per-document (docs
    are independent -> perfectly parallel, the keyed shuffle is the only
    data movement).

    The per-doc solve runs inside ONE mapInArrow stream per partition
    (round 8, guide §4.1/§4.2: a grouped-map UDF per document shipped every
    document as its own Arrow batch and paid per-group serialization
    overhead that measured ~45% of the operator's wall on a 10k-doc
    corpus).  The partition is sorted by document, so the stream cuts it
    into documents as it reads and carries the open one across batches:
    memory is bounded by the largest document, not the partition, and
    the rows with a NULL document form one document of their own.  The
    partition count is pinned (user repartition is exempt from AQE
    coalescing) and derives from the context, never a local constant.
    For typical group sizes the greedy scan consults a precomputed
    pairwise overlap-hit matrix (same element-wise double divisions, so
    every threshold comparison is bit-identical to the scalar scan —
    which remains the fallback for outsized documents where the O(n^2)
    matrix would not fit).
    """
    matrix_max = 1000  # ~6 n^2 doubles transient per group above this

    def _dedup(doc: pa.Table) -> pa.Table:
        # full-tuple sort: order_col ties (duplicate detection ids) would
        # otherwise leave the greedy scan order — and thus the keep-set —
        # dependent on partition-internal row order.  lexsort keys are
        # listed last-key-primary: (order_col, x1, y1, x2, y2).
        box_id, x1, y1, x2, y2 = (
            doc.column(c).to_numpy() for c in (order_col, "x1", "y1", "x2", "y2")
        )
        order = np.lexsort((y2, x2, y1, x1, box_id))
        x1, y1, x2, y2 = x1[order], y1[order], x2[order], y2[order]
        area = (x2 - x1) * (y2 - y1)
        n = len(order)
        kept = np.empty(n, dtype=np.int64)
        kn = 0
        if n <= matrix_max:
            # all-pairs hit matrix up front: H[i, j] == "i and j mutually
            # overlap above threshold" with the exact scalar-scan
            # divisions; the greedy loop then costs two numpy calls per
            # box instead of ~ten
            ox = np.minimum(x2[:, None], x2[None, :]) - np.maximum(
                x1[:, None], x1[None, :]
            )
            oy = np.minimum(y2[:, None], y2[None, :]) - np.maximum(
                y1[:, None], y1[None, :]
            )
            ov = np.where((ox > 0) & (oy > 0), ox * oy, 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                hit_m = (
                    (area[None, :] > 0)
                    & (ov / area[:, None] > threshold)
                    & (ov / area[None, :] > threshold)
                )
            # greedy scan with a running "blocked" vector: keeping box i
            # blocks every later box that mutually overlaps it (the hit
            # relation is symmetric whenever the candidate's area guard
            # holds, and a zero-area kept box blocks nothing on either
            # formulation) — the per-candidate check is then one scalar
            # read instead of a fancy-indexed scan of the keep-set
            blocked = np.zeros(n, dtype=bool)
            for i in range(n):
                if area[i] > 0 and blocked[i]:
                    continue
                kept[kn] = i
                kn += 1
                blocked |= hit_m[i]
            return doc.take(order[kept[:kn]])
        for i in range(n):
            if kn and area[i] > 0:
                # one vectorized pass against the whole kept set (2.4x
                # the scalar scan); divisions kept as divisions so the
                # thresholds compare bit-identically to the golden twin
                K = kept[:kn]
                ox = np.minimum(x2[i], x2[K]) - np.maximum(x1[i], x1[K])
                oy = np.minimum(y2[i], y2[K]) - np.maximum(y1[i], y1[K])
                ov = np.where((ox > 0) & (oy > 0), ox * oy, 0)
                aj = area[K]
                with np.errstate(divide="ignore", invalid="ignore"):
                    hit = (
                        (aj > 0)
                        & (ov / area[i] > threshold)
                        & (ov / aj > threshold)
                    )
                if hit.any():
                    continue
            kept[kn] = i
            kn += 1
        return doc.take(order[kept[:kn]])

    def _run(batches):
        open_doc: list[pa.RecordBatch] = []  # the document being read
        open_key = None

        def _close():
            nonlocal open_doc
            kept, open_doc = _dedup(pa.Table.from_batches(open_doc)), []
            return kept

        for batch in batches:
            keys = batch.column(doc_col).to_pylist()  # NULL is None == None
            if not keys:
                continue
            done = [_close()] if open_doc and keys[0] != open_key else []
            cuts = [i for i in range(1, len(keys)) if keys[i] != keys[i - 1]]
            for lo, hi in zip([0, *cuts], [*cuts, len(keys)]):
                open_doc.append(batch.slice(lo, hi - lo))
                if hi < len(keys):
                    done.append(_close())
            open_key = keys[-1]
            if done:
                yield from pa.concat_tables(done).combine_chunks().to_batches()
        if open_doc:
            yield from _close().combine_chunks().to_batches()

    n_part = dedup_mod.pinned_width(boxes)
    return (
        boxes.repartition(n_part, doc_col)
        .sortWithinPartitions(doc_col)
        .mapInArrow(_run, schema=boxes.schema)
    )


def table_grid(
    cells: DataFrame,
    doc_col: str = "doc_id",
    y_tol: int = 10,
    x_tol: int = 15,
) -> DataFrame:
    """Cluster cell boxes into (row_idx, col_idx) grid coordinates.

    Gap-clusters y-centers (tol 10) and x-centers (tol 15) per document —
    the tolerances are the reference's (`data_to_table/main.py:294-296`).
    Returns the input plus row_idx/col_idx plus per-cluster centroid
    columns (row_center, col_center ~ `_clusterPositionAverage`,
    `data_to_table/main.py:246-254`).
    """
    with_centers = cells.withColumn(
        "_yc", ((F.col("y1") + F.col("y2")) / 2).cast("double")
    ).withColumn("_xc", ((F.col("x1") + F.col("x2")) / 2).cast("double"))
    rows = gap_cluster(with_centers, [doc_col], "_yc", y_tol, "row_idx")
    both = gap_cluster(rows, [doc_col], "_xc", x_tol, "col_idx")
    from pyspark.sql import Window

    wr = Window.partitionBy(doc_col, "row_idx")
    wc = Window.partitionBy(doc_col, "col_idx")
    return (
        both.withColumn("row_center", F.avg("_yc").over(wr))
        .withColumn("col_center", F.avg("_xc").over(wc))
        .drop("_yc", "_xc")
    )


def grid_pivot(
    grid: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    order_col: str = "box_id",
    reverse: bool = True,
) -> DataFrame:
    """Dense (doc, row_idx, col_idx) -> concatenated cell text.

    Multi-hit cells concatenate their texts in REVERSED detection order —
    faithfully odd, per the reference (`data_to_table/main.py:307`
    `'\\n'.join(reversed(...))`).  Sorting by order_col inside the array
    makes collect_list's nondeterministic order irrelevant.
    """
    order_struct = F.struct(F.col(order_col), F.col(text_col))
    arr = F.array_sort(F.collect_list(order_struct))
    arr = F.reverse(arr) if reverse else arr
    return grid.groupBy(doc_col, "row_idx", "col_idx").agg(
        F.concat_ws("\n", F.transform(arr, lambda s: s[text_col])).alias("cell_text"),
        F.count(F.lit(1)).alias("n_texts"),
    )
