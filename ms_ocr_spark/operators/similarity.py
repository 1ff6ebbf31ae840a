"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the scale path (buckets shrink the candidate set ~2^planes).
Dot products run as sequential left-folds (zip_with + aggregate) so the
floating-point result is bit-identical to the DuckDB oracle's
list_reduce(list_transform(...)) — same operation order.  The Arrow
bodies keep that order with two numpy kernels: `_row_dot` (row by row)
and `_outer_dot` (every row of one matrix against every row of another),
both summing dimension by dimension.

Scale notes: brute force ships the (small, bounded) query matrix in the
task closure and scores each corpus Arrow batch against it — O(Q*N) but
embarrassingly parallel with no shuffle beyond the final per-query top-k;
LSH replaces the N side with one bucket's worth of rows via an equi-join
on the bucket key.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ms_ocr_spark.functions.hashing import md5_long, plane_weights

from .windows import top_k_per_group


# The most query vectors `brute_force_topk` ships in its task closure: each
# Arrow batch of the corpus is scored as one (queries x batch) matrix.
MAX_CLOSURE_QUERIES = 4096


def _matrix(vectors: pa.Array, dim: int) -> np.ndarray:
    """Stack `vectors` (a non-NULL `pyarrow` list array) into an (n, dim)
    float64 matrix.  A vector of any other length raises: a reshape would
    silently fold, say, pairs of 32-float vectors into 64-float rows and
    mispair every value."""
    bad = set(pc.unique(pc.list_value_length(vectors)).to_pylist()) - {dim}
    if bad:
        raise ValueError(f"expected vectors of dim={dim}, got lengths {sorted(bad)}")
    flat = pc.list_flatten(vectors).to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(-1, dim)


def _row_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Dot product of each row of `A` with the same row of `B`, products
    summed dimension by dimension from 0.0 (the folds' IEEE order)."""
    out = np.zeros(len(A))
    for i in range(A.shape[1]):
        out += A[:, i] * B[:, i]
    return out


def _outer_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(len(A), len(B)) dot products of every row of `A` with every row of
    `B`, each summed dimension by dimension from 0.0 (the folds' order)."""
    out = np.zeros((len(A), len(B)))
    for i in range(A.shape[1]):
        out += A[:, i : i + 1] * B[:, i][None, :]
    return out


def _norms(X: np.ndarray) -> np.ndarray:
    """Row norms of `X` in the folds' order."""
    return np.sqrt(_row_dot(X, X))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic FP order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _scorable(vectors: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(mask, matrix, norms) of the vectors a cosine is defined for: not
    NULL and of non-zero norm."""
    mask = vectors.is_valid().to_numpy(zero_copy_only=False)
    X = _matrix(vectors.filter(vectors.is_valid()), dim)
    n = _norms(X)
    if not n.all():  # copy the batch only when a zero vector drops out
        mask[mask] = n > 0
        X, n = X[n > 0], n[n > 0]
    return mask, X, n


def _nan_null(x: np.ndarray) -> pa.Array:
    """Doubles with every NaN (a 0/0 cosine, or a position never scored)
    as NULL, the oracle's 0/0."""
    return pa.array(x, pa.float64(), mask=np.isnan(x))


def cosine_arrow(dim: int = 64):
    """Arrow-batched cosine — bit-identical to `cosine`'s folds.

    dot and the two squared norms accumulate dimension-by-dimension
    across the batch (same IEEE-double op order per row as the
    sequential folds), then one vectorized sqrt/divide.  A NULL vector on
    either side, or a zero vector, gives a NULL sim.  Used on the
    bucket and cell join paths, where the per-element HOF interpreter
    cost of the column expression would dominate.
    """

    @F.arrow_udf("double")
    def _cos(a: pa.Array, b: pa.Array) -> pa.Array:
        valid = pc.and_(a.is_valid(), b.is_valid())
        A = _matrix(a.filter(valid), dim)
        B = _matrix(b.filter(valid), dim)
        out = np.full(len(a), np.nan)
        with np.errstate(invalid="ignore"):
            out[valid.to_numpy(zero_copy_only=False)] = _row_dot(A, B) / (
                _norms(A) * _norms(B)
            )
        return _nan_null(out)

    return _cos


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Exact cosine top-k: every query scored against every corpus vector,
    per-query row_number <= k, ties broken by neighbor id.

    Round 8 (guide §4.2/§8): the former crossJoin shipped BOTH 64-float
    vectors of every (query, corpus) pair through Arrow — Q x N x 1 KB —
    just so a pairwise UDF could re-read the same query vectors millions
    of times.  Now the (small, bounded — same assumption the previous
    broadcast made) query matrix rides once in the task closure and one
    mapInArrow pass over the CORPUS scores each Arrow batch against all
    queries at once with the identical per-dimension accumulation order
    as `cosine_arrow`/`cosine` (bit-identical doubles).  Each batch is
    pre-pruned to a provable superset of the global top-k: a candidate
    whose unrounded sim is more than 1.1e-6 below its batch's k-th best
    cannot survive 6-dp rounding (|round(x) - x| <= 5e-7), so the exact
    JVM round + window ranking runs over ~Q*k rows per batch instead of
    Q x N.  NULL and zero-norm vectors get a NULL sim (the oracle's
    0/0 is NULL): their candidate rows are emitted (pruned to the k
    smallest neighbor ids, their tie-break order) and rank below every
    scored row in the NULLS-LAST window, exactly as the crossJoin
    produced them.

    More than `MAX_CLOSURE_QUERIES` queries raise a ValueError; the check
    rides on the one collect of the query side.
    """
    qt = queries.select(id_col, vec_col).limit(MAX_CLOSURE_QUERIES + 1).toArrow()
    if qt.num_rows > MAX_CLOSURE_QUERIES:
        raise ValueError(
            f"brute_force_topk ships its query side in the task closure: at most "
            f"MAX_CLOSURE_QUERIES={MAX_CLOSURE_QUERIES} queries, got more"
        )
    q_ids = qt.column(id_col).to_numpy()
    q_valid, Qm, qn = _scorable(qt.column(vec_col).combine_chunks(), dim)
    vq_ids = q_ids[q_valid]
    id_type = corpus.schema[id_col].dataType.simpleString()
    schema = f"query_id {id_type}, neighbor_id {id_type}, sim double"

    def _score(batches):
        for batch in batches:
            id_arrow = batch.schema.field(id_col).type
            c_ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            valid, C, cn = _scorable(batch.column(vec_col), dim)
            out_q, out_n, out_s = [vq_ids[:0]], [c_ids[:0]], [np.zeros(0)]
            if valid.any() and len(Qm):
                cid = c_ids[valid]
                m = len(C)
                sim = _outer_dot(Qm, C) / (qn[:, None] * cn[None, :])
                self_mask = cid[None, :] == vq_ids[:, None]
                sim_rank = np.where(self_mask, -np.inf, sim)
                if m > k:
                    kth = np.partition(sim_rank, m - k, axis=1)[:, m - k]
                    keep = (sim_rank >= kth[:, None] - 1.1e-6) & ~self_mask
                else:
                    keep = ~self_mask
                qi, ci = np.nonzero(keep)
                out_q.append(vq_ids[qi])
                out_n.append(cid[ci])
                out_s.append(sim[qi, ci])
            # null-sim rows: the null and zero corpus vectors for a scored
            # query, every corpus vector for a null or zero query — k
            # smallest neighbor ids per query per batch is a superset of
            # their possible global ranks (ties order by neighbor_id)
            null_ids, all_ids = np.sort(c_ids[~valid]), np.sort(c_ids)
            for qid, scored in zip(q_ids, q_valid):
                pool = (null_ids if scored else all_ids)[: k + 1]
                take = pool[pool != qid][:k]
                out_q.append(np.full(len(take), qid, dtype=q_ids.dtype))
                out_n.append(take)
                out_s.append(np.full(len(take), np.nan))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), id_arrow),
                    pa.array(np.concatenate(out_n), id_arrow),
                    _nan_null(np.concatenate(out_s)),
                ],
                names=["query_id", "neighbor_id", "sim"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(_score, schema)
    return top_k_per_group(
        scored.select(
            "query_id", "neighbor_id", F.round("sim", 6).alias("sim")
        ),
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def lsh_bucket(vec: Column, n_planes: int = 8, dim: int = 64, table: int = 0) -> Column:
    """Bucket id = packed sign bits of n_planes ±1 random hyperplanes.

    Weights come from `plane_weights` (md5 parity, computed once on the
    driver, embedded as array literals) so the DuckDB oracle assigns the
    exact same buckets.  Each plane's projection is a sequential fold —
    deterministic FP order.  `table` picks an independent plane set for
    multi-table OR-amplification.

    Kept as per-plane scalar folds DELIBERATELY: a one-traversal variant
    with an array accumulator (all tables x planes summed through one
    zip_with/transform) produces bit-identical buckets and compiles
    faster, but higher-order functions are CodegenFallback expressions
    with no common-subexpression elimination — every reference to the
    result array re-evaluates the whole fold, and the 3-table query
    measured ~2.4x SLOWER end-to-end (13 s vs 5.5 s at sf0.1).  Scalar
    folds are referenced exactly once each, so the work stays
    planes x dim.
    """
    weights = plane_weights(n_planes, dim, table)
    bucket = F.lit(0)
    for p in range(n_planes):
        w = F.array(*[F.lit(v) for v in weights[p]])
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, wv: x.cast("double") * wv),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_buckets_arrow(
    n_planes: int = 8, dim: int = 64, tables: tuple[int, ...] = (0,)
):
    """Arrow UDF computing all per-table bucket ids — BIT-IDENTICAL to
    `lsh_bucket`'s folds, ~20x cheaper per row.  NULL vectors get NULL.

    The JVM fold pays interpreted higher-order-function overhead per
    vector element per plane (tables x planes x dim lambda calls per
    row).  Here the projection accumulates dimension-by-dimension across
    the whole Arrow batch (`_outer_dot`): `acc[:, p] += x_i * w_p_i` performs, for each
    (row, plane), the same IEEE-double additions in the same index order
    starting from 0.0 as the sequential fold — so bucket assignment (and
    the DuckDB oracle parity that rides on it) is preserved exactly,
    while the per-element interpreter cost vanishes into numpy.
    This is the hot path for bucket computation; `lsh_bucket` remains
    the column-expression form (used by the oracle-SQL mirror and as the
    executable definition the equality test pins the UDF against).
    """
    # (tables*planes) x dim weight matrix, row order = (table, plane)
    W = np.array(
        [row for t in tables for row in plane_weights(n_planes, dim, t)],
        dtype=np.float64,
    )
    pows = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    @F.arrow_udf("array<int>")
    def _buckets(emb: pa.Array) -> pa.Array:
        valid = emb.is_valid()
        # same op sequence per (row, plane) as the sequential fold
        acc = _outer_dot(_matrix(emb.filter(valid), dim), W)
        signs = acc > 0
        buckets = np.stack(
            [
                signs[:, ti * n_planes : (ti + 1) * n_planes] @ pows
                for ti in range(len(tables))
            ],
            axis=1,
        )
        # one list of len(tables) ids per valid row, an empty NULL slot
        # per NULL vector
        sizes = valid.to_numpy(zero_copy_only=False) * len(tables)
        offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
        return pa.ListArray.from_arrays(
            offsets, pa.array(buckets.ravel().astype(np.int32)), mask=pc.invert(valid)
        )

    return _buckets


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: only candidates in the query's LSH bucket are
    scored.  Equi-join on bucket -> per-query top-k; recall trades off
    against 2^n_planes."""
    buckets = lsh_buckets_arrow(n_planes)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        buckets(F.col(vec_col))[0].alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        buckets(F.col(vec_col))[0].alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine_arrow()(F.col("q_vec"), F.col("c_vec")), 6))
    )
    return top_k_per_group(
        scored.select("query_id", "neighbor_id", "sim"),
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def lsh_topk_multitable(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 3,
) -> DataFrame:
    """OR-amplified approximate top-k: candidates match in ANY of
    `n_tables` independent LSH tables (recall grows ~1-(1-p^planes)^tables
    while each join stays a bucket equi-join).

    ONE scan of each side: all table buckets are computed as an array and
    posexploded, so the join key is (table, bucket) — no per-table rescan.

    Shuffle width: the exploded relations carry ONLY (id, tbl, bucket) —
    never the embedding vectors.  Carrying both 64-float vectors through
    the n_tables-times-exploded join would multiply candidate shuffle rows
    to ~1 KB each and shuffle them AGAIN through the dedup; instead the
    candidate (query_id, neighbor_id) id pairs are deduped first and the
    vectors re-attached by two id equi-joins for scoring — the same shape
    the DuckDB oracle uses.
    """
    buckets = lsh_buckets_arrow(n_planes, tables=tuple(range(n_tables)))

    def bucket_keys(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )

    cand = (
        bucket_keys(queries, "query_id")
        .join(bucket_keys(corpus, "neighbor_id"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        cand.join(q_vecs, "query_id")
        .join(c_vecs, "neighbor_id")
        .withColumn("sim", F.round(cosine_arrow()(F.col("q_vec"), F.col("c_vec")), 6))
    )
    return top_k_per_group(
        scored.select("query_id", "neighbor_id", "sim"),
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def ivf_cell_assignments(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    top_cells: int,
    dim: int = 64,
) -> DataFrame:
    """(id, cell) for the `top_cells` nearest centroids by dot product
    (ties broken by cell id).  The inverted-file coarse quantizer is tiny
    by construction, so it travels in the task closure (round 8 — the
    broadcast nested-loop + interpreted JVM fold evaluated
    |vectors| x |cells| x dim lambda calls and then ranked the full
    |vectors| x |cells| relation through a window; guide §4.2).  One
    Arrow pass over the vectors scores all cells per batch with the
    fold's exact per-dimension accumulation order, ranks the handful of
    cells per vector in-process with the identical (d DESC, cell ASC)
    total order, and emits only the `top_cells` winning rows — the
    window disappears entirely.  NULL vectors keep the former
    NULLS-LAST row_number semantics (cells 0..top_cells-1)."""
    ct = centroids.toArrow()
    cells = ct.column("cell").to_numpy()
    order = np.argsort(cells, kind="stable")
    cells = cells[order]
    CENT = _matrix(ct.column("cent_vec").combine_chunks(), dim)[order]
    n_cells = len(cells)
    id_type = vectors.schema[id_col].dataType.simpleString()

    def _assign(batches):
        for batch in batches:
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            vecs = batch.column(vec_col)
            valid = vecs.is_valid().to_numpy(zero_copy_only=False)
            out_i, out_c = [ids[:0]], [cells[:0]]
            if valid.any() and n_cells:
                d = _outer_dot(_matrix(vecs.filter(vecs.is_valid()), dim), CENT)
                # rank (d DESC, cell ASC): cells are sorted ascending, so
                # a stable argsort on -d preserves the cell tie-break
                rk = np.argsort(-d, axis=1, kind="stable")[:, :top_cells]
                out_i.append(np.repeat(ids[valid], rk.shape[1]))
                out_c.append(cells[rk].ravel())
            if (~valid).any() and n_cells:
                t = min(top_cells, n_cells)
                out_i.append(np.repeat(ids[~valid], t))
                out_c.append(np.tile(cells[:t], (~valid).sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_i), batch.schema.field(id_col).type),
                    pa.array(np.concatenate(out_c), pa.int32()),
                ],
                names=[id_col, "cell"],
            )

    return vectors.select(id_col, vec_col).mapInArrow(
        _assign, f"{id_col} {id_type}, cell int"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are assigned to the
    nearest of `n_cells` centroids (inverted file); a query scores only
    the vectors in its `nprobe` nearest cells.

    Deterministic variant: centroids are the `n_cells` corpus vectors
    with the smallest md5('ivf:'||id) — a seeded sample standing in for
    k-means training (which is engine-nondeterministic), so the DuckDB
    oracle assigns the exact same cells.  Recall grows with nprobe while
    each search stays one broadcast quantizer pass + one cell equi-join —
    the classic IVF scale shape (Johnson et al., "Billion-scale
    similarity search with GPUs", the FAISS IVF-flat design).
    """
    seeded = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        md5_long(F.concat(F.lit("ivf:"), F.col(id_col).cast("string"))).alias("h"),
    )
    cents = (
        seeded.orderBy("h", id_col)
        .limit(n_cells)
        .withColumn(
            "cell",
            (F.row_number().over(Window.orderBy("h", id_col)) - 1).cast("int"),
        )
        .select("cell", F.col(vec_col).alias("cent_vec"))
    )
    c_cells = ivf_cell_assignments(corpus, cents, id_col, vec_col, 1)
    q_cells = ivf_cell_assignments(queries, cents, id_col, vec_col, nprobe)
    cand = (
        q_cells.withColumnRenamed(id_col, "query_id")
        .join(c_cells.withColumnRenamed(id_col, "neighbor_id"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c_vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        cand.join(q_vecs, "query_id")
        .join(c_vecs, "neighbor_id")
        .withColumn("sim", F.round(cosine_arrow()(F.col("q_vec"), F.col("c_vec")), 6))
    )
    return top_k_per_group(
        scored.select("query_id", "neighbor_id", "sim"),
        ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, LSH-bucket prefiltered
    (pairs in different buckets are never compared — documented recall
    tradeoff, same bucketing as the oracle).

    Each bucket's vectors cross the boundary once: groupBy(bucket) +
    applyInArrow computes the in-bucket pairwise cosines blockwise in
    numpy with the exact per-dimension accumulation order of the
    `cosine` fold (bit-identical doubles), pre-filters with a
    conservative margin (round6(x) >= threshold requires
    x >= threshold - 5e-7), and the exact 6-dp round + threshold run in
    the JVM.  A bucket arrives as one Arrow table, with no pandas frame
    per group.  Pair orientation (id_a < id_b on raw ids), NULL vectors
    (NULL bucket, never joined) behave as in the bucket self-join.  Block
    size bounds memory to block x |bucket| doubles, so a pathologically
    hot bucket degrades gracefully instead of allocating |bucket|^2 at
    once.
    """
    buckets = lsh_buckets_arrow(n_planes).asNondeterministic()
    c = corpus.select(
        id_col, vec_col, buckets(F.col(vec_col))[0].alias("bucket")
    ).filter(F.col("bucket").isNotNull())
    id_type = corpus.schema[id_col].dataType.simpleString()
    lo = threshold - 1e-6
    block = 1024

    def _pairs(t: pa.Table) -> pa.Table:
        ids = t.column(id_col).to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = _matrix(t.column(vec_col).combine_chunks(), dim)[order]
        m = len(X)
        nrm = _norms(X)
        out_a, out_b, out_s = [ids[:0]], [ids[:0]], [np.zeros(0)]
        for b0 in range(0, m - 1, block):
            b1 = min(b0 + block, m)
            sim = _outer_dot(X[b0:b1], X) / (nrm[b0:b1, None] * nrm[None, :])
            ri, cj = np.nonzero(sim >= lo)
            # strict id comparison, exactly the join's id_a < id_b — on
            # the id-sorted layout this is the upper triangle, and rows
            # sharing an id (if any) never pair, matching the join
            upper = ids[cj] > ids[ri + b0]
            ri, cj = ri[upper], cj[upper]
            out_a.append(ids[ri + b0])
            out_b.append(ids[cj])
            out_s.append(sim[ri, cj])
        id_arrow = t.schema.field(id_col).type
        return pa.table(
            {
                "id_a": pa.array(np.concatenate(out_a), id_arrow),
                "id_b": pa.array(np.concatenate(out_b), id_arrow),
                "sim": np.concatenate(out_s),
            }
        )

    out = c.groupBy("bucket").applyInArrow(
        _pairs, schema=f"id_a {id_type}, id_b {id_type}, sim double"
    )
    return (
        out.select("id_a", "id_b", F.round("sim", 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
