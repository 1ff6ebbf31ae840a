"""Focused equivalence tests for the round-8 operator rewrites.

Every optimization this round kept the operator's OUTPUT bit-identical
while changing the execution shape (per-doc Arrow stages, per-pair /
per-bucket batch math, matrix-path greedy dedup).  The sf-data oracle
parity suite covers the common paths; these tests pin the edge cases the
testdata never exercises: NULL inputs, docs shorter than the n-gram
width, zero-area boxes, and matrix-vs-scalar path agreement.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ms_ocr_spark.operators import dedup


def test_doc_repetition_stats_edge_docs(spark):
    """Docs with < n tokens, empty and NULL text must drop out (the old
    explode semantics); counts on a known-repetition doc are exact."""
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),        # grams: ab, ba, ab, ba -> all dup
            (2, "x"),                # 1 token -> no bigram -> no row
            (3, ""),                 # no tokens -> no row
            (4, None),               # null text -> no row
            (5, "p q r"),            # grams pq, qr -> no dups
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.doc_repetition_stats(df, n=2).collect()}
    assert set(rows) == {1, 5}
    assert rows[1]["n_grams"] == 4
    assert rows[1]["n_distinct"] == 2
    assert rows[1]["dup_gram_frac"] == 1.0
    assert rows[1]["top_gram_frac"] == 0.5
    assert rows[5]["n_grams"] == 2
    assert rows[5]["dup_gram_frac"] == 0.0


def test_token_kernels_match_python_loops():
    """The shared Arrow kernels equal plain loops over each token list, on
    a sliced batch whose NULL slot still spans values (`list_flatten`
    skips them)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(3)
    lists = [[f"w{rng.integers(6)}" for _ in range(rng.integers(0, 9))] for _ in range(40)]
    offsets = np.r_[0, np.cumsum([len(t) for t in lists])].astype(np.int32)
    nulls = np.zeros(len(lists), dtype=bool)
    nulls[[3, 17]] = True
    toks = pa.ListArray.from_arrays(
        offsets, pa.array([w for t in lists for w in t]), mask=pa.array(nulls)
    ).slice(2)
    lists = [None if n else t for t, n in zip(lists, nulls)][2:]
    row, pos, gram = dedup._windows(toks, 3)
    want = [
        (r, i, " ".join(t[i : i + 3]))
        for r, t in enumerate(lists)
        if t
        for i in range(len(t) - 2)
    ]
    assert list(zip(row.tolist(), pos.tolist(), gram.to_pylist())) == want
    n_tok, n_chars = dedup.token_counts(
        toks, lambda v: [np.ones(len(v)), pc.utf8_length(v).to_numpy()]
    )
    assert n_tok.tolist() == [len(t) if t else 0 for t in lists]
    assert n_chars.tolist() == [sum(map(len, t)) if t else 0 for t in lists]


def test_minhash_udf_matches_relational_formula(spark):
    """The Arrow signature path must equal the (retained) relational
    aggregation over the shingle relation — including short-doc drops."""
    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i * 3) % 7} tok{(i * 5) % 7} tok{i % 2} end{i % 4}")
         for i in range(40)] + [(100, "a b"), (101, None), (102, "")],
        "doc_id long, text string",
    )
    new = {
        r["doc_id"]: r["sig"]
        for r in dedup.minhash_signature_arrays_from_docs(df).collect()
    }
    old = {
        r["doc_id"]: r["sig"]
        for r in dedup.minhash_signature_arrays(dedup.shingles(df)).collect()
    }
    assert new == old
    assert 100 not in new and 101 not in new and 102 not in new


def test_jaccard_verify_edge_pairs(spark):
    """Pairs with zero shingle overlap or a too-short doc must drop out
    (the old inner-join semantics); counts are exact on a known pair."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c x y"),   # shares shingle 'a b c' only
            (3, "p q r s t"),   # no overlap with 1
            (4, "u v"),         # too short for 3-shingles
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.jaccard_verify(pairs, docs, threshold=0.0).collect()
    }
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    assert (r["n_inter"], r["n_a"], r["n_b"]) == (1, 3, 3)
    assert r["jaccard"] == 0.2


def test_simhash_neardup_multiband_dedup_and_empty_docs(spark):
    """Identical texts match in every band; the pair must appear ONCE
    with hamming 0.  Empty/NULL docs never pair."""
    df = spark.createDataFrame(
        [(1, "same tokens here"), (2, "same tokens here"), (3, ""), (4, None),
         (5, "utterly different words appear")],
        "doc_id long, text string",
    )
    rows = dedup.simhash_near_dup_pairs(
        df, bits=32, max_hamming=3, n_bands=4
    ).collect()
    exact = [r for r in rows if (r["id_a"], r["id_b"]) == (1, 2)]
    assert len(exact) == 1 and exact[0]["hamming"] == 0
    assert all(r["id_a"] not in (3, 4) and r["id_b"] not in (3, 4) for r in rows)


def test_keep_first_matrix_equals_scalar_path(spark):
    """The matrix greedy path (groups <= 1000) must keep exactly the
    boxes the scalar fallback keeps — including zero-area boxes, which
    are always kept and never block."""
    from ms_ocr_spark.operators.boxes import dedup_overlap_keep_first

    rng = np.random.default_rng(5)
    rows = []
    for doc in range(6):
        for b in range(120):
            x1 = int(rng.integers(0, 60))
            y1 = int(rng.integers(0, 40))
            w = int(rng.integers(0, 10))  # 0 -> zero-area boxes included
            h = int(rng.integers(0, 8))
            rows.append((doc, doc * 1000 + b, x1, y1, x1 + w, y1 + h))
    df = spark.createDataFrame(
        rows, "doc_id long, box_id long, x1 long, y1 long, x2 long, y2 long"
    )
    fast = {tuple(r) for r in dedup_overlap_keep_first(df, threshold=0.5).collect()}

    # reference: the pre-round-8 scalar greedy, run per doc in pure numpy
    def scalar_keep(pdf):
        box_id = pdf["box_id"].to_numpy()
        x1, y1 = pdf["x1"].to_numpy(), pdf["y1"].to_numpy()
        x2, y2 = pdf["x2"].to_numpy(), pdf["y2"].to_numpy()
        order = np.lexsort((y2, x2, y1, x1, box_id))
        x1, y1, x2, y2 = x1[order], y1[order], x2[order], y2[order]
        area = (x2 - x1) * (y2 - y1)
        kept = []
        for i in range(len(order)):
            if kept and area[i] > 0:
                K = np.array(kept)
                ox = np.minimum(x2[i], x2[K]) - np.maximum(x1[i], x1[K])
                oy = np.minimum(y2[i], y2[K]) - np.maximum(y1[i], y1[K])
                ov = np.where((ox > 0) & (oy > 0), ox * oy, 0)
                aj = area[K]
                with np.errstate(divide="ignore", invalid="ignore"):
                    hit = (aj > 0) & (ov / area[i] > 0.5) & (ov / aj > 0.5)
                if hit.any():
                    continue
            kept.append(i)
        return pdf.iloc[order[kept]]

    pdf_all = pd.DataFrame(rows, columns=["doc_id", "box_id", "x1", "y1", "x2", "y2"])
    ref = set()
    for _, g in pdf_all.groupby("doc_id"):
        for t in scalar_keep(g).itertuples(index=False):
            ref.add(tuple(t))
    assert fast == ref


def test_keep_first_keeps_null_doc_boxes(spark):
    """Boxes with a NULL doc_id are one document of their own: the
    duplicate among them drops, the others stay (none may vanish)."""
    from ms_ocr_spark.operators.boxes import dedup_overlap_keep_first

    rows = [
        ("d1", 1, 0, 0, 10, 10),
        ("d1", 2, 20, 20, 30, 30),
        (None, 3, 0, 0, 10, 10),
        (None, 4, 0, 0, 10, 10),
        (None, 5, 50, 50, 60, 60),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, box_id long, x1 long, y1 long, x2 long, y2 long"
    )
    out = dedup_overlap_keep_first(df, threshold=0.5).collect()
    assert sorted((r["doc_id"] or "", r["box_id"]) for r in out) == [
        ("", 3), ("", 5), ("d1", 1), ("d1", 2)
    ]


def test_keep_first_documents_span_arrow_batches(spark):
    """A document cut across Arrow batches keeps the same boxes as one
    read whole: the stream carries the open document to the next batch."""
    from ms_ocr_spark.operators.boxes import dedup_overlap_keep_first

    rng = np.random.default_rng(7)
    rows = []
    for doc in [None, *range(5)]:
        for b in range(int(rng.integers(1, 40))):
            x1, y1 = int(rng.integers(0, 30)), int(rng.integers(0, 30))
            rows.append((doc, b, x1, y1, x1 + int(rng.integers(1, 12)), y1 + 6))
    df = spark.createDataFrame(
        rows, "doc_id long, box_id long, x1 long, y1 long, x2 long, y2 long"
    )
    whole = {tuple(r) for r in dedup_overlap_keep_first(df, threshold=0.5).collect()}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        cut = {tuple(r) for r in dedup_overlap_keep_first(df, threshold=0.5).collect()}
    finally:
        spark.conf.set(key, old)
    assert cut == whole
    assert {r[0] for r in whole} == {None, *range(5)}


def test_brute_force_topk_null_vectors_rank_last(spark):
    """NULL corpus vectors keep the crossJoin's NULLS-LAST ranking: they
    fill trailing ranks (ordered by neighbor id) when a query has fewer
    than k scored candidates."""
    from ms_ocr_spark.operators.similarity import brute_force_topk

    def vec(seed):
        rng = np.random.default_rng(seed)
        return [float(x) for x in rng.standard_normal(64)]

    rows = [(0, vec(0)), (1, vec(1)), (2, vec(2)), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df.filter("vec_id = 0"), df, k=4).collect()
    got = [(r["query_id"], r["neighbor_id"], r["rn"]) for r in out]
    assert len(got) == 4
    # ranks 1-2: the scored vectors; ranks 3-4: null-sim rows by id
    assert {g[1] for g in got[:2]} == {1, 2}
    assert [g[1] for g in got[2:]] == [3, 4]
    assert [r["sim"] for r in out[2:]] == [None, None]


def test_brute_force_topk_rejects_wrong_dimension(spark):
    """32-float vectors under dim=64 raise a ValueError naming the dim,
    instead of being folded pairwise into half as many 64-float rows."""
    from ms_ocr_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(32)]) for i in range(8)]
    # one partition: an even count per Arrow batch folds without an error
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    with pytest.raises(ValueError, match="dim=64"):
        brute_force_topk(df.filter("vec_id < 4"), df, k=2, dim=64).collect()


def test_brute_force_topk_zero_vectors_get_null_sim(spark):
    """A zero vector has no cosine: like the oracle's 0/0, its sim is NULL
    and it ranks with the NULL vectors, after every scored neighbor.  It
    must not take a top-k slot of its batch from a real candidate."""
    from ms_ocr_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(23)
    vecs = {i: rng.standard_normal(64) for i in range(1, 9)}
    vecs[5] = np.zeros(64)
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()] + [(9, None)]
    # one partition, so every candidate is scored in one Arrow batch
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)

    q = np.asarray(vecs[1], np.float32).astype(np.float64)
    sims = {}
    for i, v in vecs.items():
        c = np.asarray(v, np.float32).astype(np.float64)
        if i != 1 and np.linalg.norm(c) > 0:
            sims[i] = np.dot(q, c) / (np.linalg.norm(q) * np.linalg.norm(c))
    ranked = sorted(sims, key=lambda i: (-round(sims[i], 6), i))

    top3 = brute_force_topk(df.filter("vec_id = 1"), df, k=3).collect()
    assert [r["neighbor_id"] for r in top3] == ranked[:3]
    full = brute_force_topk(df.filter("vec_id = 1"), df, k=8).collect()
    assert [r["neighbor_id"] for r in full] == ranked + [5, 9]
    assert [r["sim"] for r in full[-2:]] == [None, None]

    # a zero query scores nothing: its k rows are NULL sims by neighbor id
    zero_q = brute_force_topk(df.filter("vec_id = 5"), df, k=3).collect()
    assert [(r["neighbor_id"], r["sim"]) for r in zero_q] == [(1, None), (2, None), (3, None)]


def test_brute_force_topk_bounds_the_collected_query_side(spark):
    """The query side rides in the task closure; a query side above the
    bound fails loudly, naming it, instead of collecting it whole."""
    from ms_ocr_spark.operators.similarity import MAX_CLOSURE_QUERIES, brute_force_topk

    corpus = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    queries = spark.range(MAX_CLOSURE_QUERIES + 1).select(
        F.col("id").alias("vec_id"), F.lit(None).cast("array<float>").alias("embedding")
    )
    with pytest.raises(ValueError, match=f"MAX_CLOSURE_QUERIES={MAX_CLOSURE_QUERIES}"):
        brute_force_topk(queries, corpus)


def test_embedding_neardup_bucket_path_matches_join_path(spark):
    """The per-bucket blockwise pair generator must produce exactly the
    pairs (and 6-dp sims) of the reference bucket self-join + pairwise
    cosine, including NULL vectors never pairing."""
    from ms_ocr_spark.operators.similarity import (
        cosine_arrow,
        embedding_neardup_pairs,
        lsh_buckets_arrow,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((30, 64))
    rows = []
    for i in range(30):
        v = base[i % 6] + rng.standard_normal(64) * 0.2  # clustered -> shared buckets
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    new = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in embedding_neardup_pairs(df, threshold=0.3).collect()
    }
    c = df.select(
        "vec_id",
        "embedding",
        lsh_buckets_arrow(8)(F.col("embedding"))[0].alias("bucket"),
    )
    a = c.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"), "bucket"
    )
    b = c.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"), "bucket"
    )
    ref = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine_arrow()(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("sim") >= 0.3)
        .select("id_a", "id_b", "sim")
        .collect()
    }
    assert new == ref
    assert all(99 not in k for k in new)


def test_component_labels_recomputes_per_invocation(spark):
    """No cross-invocation memo: a second call with DIFFERENT column args
    on the same DataFrame must reflect those args (the r7 memo returned
    the first call's labels — ADVICE r7 high finding)."""
    df = spark.createDataFrame(
        [(1, 2, 20), (2, 3, 30)], "id_a long, id_b long, other long"
    )
    l1 = {
        (r["id"], r["component"])
        for r in dedup.component_labels(df, "id_a", "id_b").collect()
    }
    l2 = {
        (r["id"], r["component"])
        for r in dedup.component_labels(df, "id_a", "other").collect()
    }
    assert l1 == {(1, 1), (2, 1), (3, 1)}
    assert l2 == {(1, 1), (20, 1), (2, 2), (30, 2)}
