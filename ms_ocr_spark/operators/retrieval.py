"""Ranked retrieval over the documents table: BM25 scoring + top-k.

The inverted-index shape a corpus-scale search runs: per-(term, doc)
term frequencies aggregate map-side, document frequencies aggregate per
term, and ONLY the query's terms survive the filter before any join —
at 100 TB the postings that move are proportional to the query, not the
corpus (predicate pushdown on `term` reaches the scan).

Cross-engine exactness (the DuckDB oracle hashes values): BM25 needs one
transcendental (ln) whose last mantissa bit is not guaranteed equal
across libm implementations — so idf is rounded to 6 dp BEFORE it enters
any arithmetic, after which every op is correctly-rounded IEEE double
arithmetic evaluated in an identical expression order, and the per-doc
score is a SEQUENTIAL fold over term-sorted components (float addition
is not associative; an unordered SUM would diverge between engines).
Formula: the Lucene/Robertson "plus one" BM25:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))        (rounded 6 dp)
    tfc(t,d)= tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score   = fold_{t in query, sorted}(idf(t) * tfc(t, d))
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ms_ocr_spark.plans.cache import track

from .dedup import _fanout, token_count_udf, tokens_col

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k documents for `query_terms` by BM25.

    Rank ties break on the EXACT (unrounded) score then ascending id —
    deterministic and oracle-identical; the output score is rounded to
    6 dp for display/hash parity.
    """
    q = sorted(set(query_terms))

    # ONE Arrow pass over the corpus computes the document length and the
    # per-query-term frequencies together (round 8, guide §4.2/§2.3):
    # the former plan tokenized the corpus THREE times (length relation,
    # corpus stats, postings explode+filter) and re-attached lengths to
    # postings with an extra id join.  Counts are exact integers, every
    # downstream expression (idf rounding, tf scaling, the term-sorted
    # fold) is unchanged JVM arithmetic.
    doc_tf = token_count_udf(
        ["dl", *[f"tf{i}" for i in range(len(q))]],
        lambda v: [np.ones(len(v))]
        + [pc.equal(v, t).to_numpy(zero_copy_only=False) for t in q],
    )

    # consumed twice (corpus stats + postings) -> persisted via track()
    base = track(
        _fanout(df).select(id_col, doc_tf(tokens_col(text_col)).alias("_b"))
    )
    lens = base.select(id_col, F.col("_b.dl").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("n_tokens")
    )
    q_arr = F.array(*[F.lit(t) for t in q])
    postings = (
        base.select(
            id_col,
            F.col("_b.dl").alias("dl"),
            F.posexplode(F.array(*[f"_b.tf{i}" for i in range(len(q))])).alias(
                "qi", "tf"
            ),
        )
        .filter(F.col("tf") > 0)
        .select(id_col, "dl", q_arr[F.col("qi")].alias("term"), "tf")
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = postings.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(stats)
    )
    avgdl = F.col("n_tokens") / F.col("n_docs")
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
        6,
    )
    tfc = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    comps = scored.select(
        id_col, "term", (idf * tfc).alias("comp"), "dl"
    )
    # sequential term-ordered fold -> bit-identical cross-engine sum
    per_doc = comps.groupBy(id_col, "dl").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "comp"))),
                lambda s: s["comp"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("score_exact"),
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
    )
    # top-k FIRST via orderBy+limit (Spark's TakeOrderedAndProject — a
    # parallel per-partition top-k + small merge), THEN rank the k
    # survivors with a window: a bare global row_number window would
    # move EVERY matched doc to one partition (the WindowExec
    # single-partition warning), which a selective query survives but a
    # common-term query at corpus scale does not.  Same output: the
    # limit uses the identical (score DESC, id) ordering the rank does.
    topk = per_doc.orderBy(F.col("score_exact").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("score_exact").desc(), F.col(id_col))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(
            id_col,
            "rank",
            F.round("score_exact", 6).alias("bm25"),
            "n_terms_hit",
            "dl",
        )
    )
