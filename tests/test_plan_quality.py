"""Plan-regression guards: the physical plans the engine is supposed to
produce (SURVEY.md §4 — the judge's 100-TB lens).  These pin the shape,
not timings, so they are stable under host noise."""

from __future__ import annotations

from pyspark.sql import functions as F

from ms_ocr_spark.extraction.pipeline import extract_documents


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_single_pass_plan(spark, corpus_dir):
    """One salt exchange, one Arrow stage with the one span UDF, broadcast
    join, no union of duplicated subplans."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    plan = _plan(extract_documents(docs, media, salt_partitions=8))
    assert plan.count("REPARTITION_BY_NUM") == 1, "salt shuffle duplicated"
    assert plan.count("ArrowEvalPython") == 1, "UDF stage duplicated"
    assert plan.count("extract_span(") == 1
    assert "BroadcastHashJoin" in plan
    assert "Union" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python, ever


def test_extraction_sniffs_magic_bytes_once(spark, corpus_dir):
    """The MIME sniff and the admission check share one projected hex of
    the payload's first bytes; admission reads the projected `mime` and
    `n_bytes` instead of re-expanding the sniff."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    below_udf = _plan(extract_documents(docs, media)).split("ArrowEvalPython")[1]
    assert below_udf.count("hex(substring(payload") == 1, below_udf


def test_extraction_sortmerge_variant(spark, corpus_dir):
    """broadcast_media=False lets Catalyst choose; with auto-broadcast off
    (the 100-TB media-store situation) the join must degrade to a shuffle
    join, not fail."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(extract_documents(docs, media, broadcast_media=False))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_q1_is_single_shuffle_agg(spark):
    from ms_ocr_spark.queries import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan
    # filter pushed to the parquet scan
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan


def test_q3_broadcasts_only_customer_dimension(spark):
    """The fact-fact join (lineitem ⋈ orders) must NOT be a forced
    broadcast — at sf100 orders is ~150M rows and would OOM executors.
    With auto-broadcast off (the at-scale situation) the plan must show
    exactly the one explicit customer broadcast and a shuffle join for
    lineitem ⋈ orders."""
    from ms_ocr_spark.queries import q3_top_orders

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(q3_top_orders(spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastExchange") == 1  # customer only
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_brute_force_topk_ships_corpus_once(spark):
    """Round 8: the query matrix travels in the task closure and ONE
    Arrow pass over the corpus scores every (query, corpus) pair — the
    plan must contain no join at all (the former broadcast crossJoin
    shipped both vectors of every pair through Arrow), and the scan must
    feed the Python stage directly."""
    from ms_ocr_spark.queries import ann_brute_force_topk

    plan = _plan(ann_brute_force_topk(spark, "/root/testdata/sf0.001"))
    assert "MapInArrow" in plan
    assert "Join" not in plan
    # the only exchange is the final per-query top-k window
    assert plan.count("Exchange") <= 1


def test_extraction_with_skewed_megadocs(spark, tmp_path):
    """The salted explode stays correct on a corpus where
    some docs have 30x the span count (FIXTURES.md bench tier)."""
    from ms_ocr_spark.sources.datagen import write_corpus

    out = str(tmp_path / "skew")
    paths = write_corpus(out, n_docs=24, seed=9, skew_doc_pct=0.1, skew_mult=30)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    sizes = docs.select(F.size("spans").alias("n")).collect()
    assert max(r["n"] for r in sizes) >= 30 * min(r["n"] for r in sizes)
    result = extract_documents(docs, media, salt_partitions=16)
    r = result.select("doc_id", F.to_json("spans").alias("js"))
    g = golden.select("doc_id", F.to_json("spans").alias("js"))
    assert g.join(r, ["doc_id", "js"]).count() == golden.count()


def test_minhash_is_one_pass_without_data_shuffle(spark):
    """Round 8: the signature is a per-document function computed in one
    Arrow pass — the plan must contain NO salt-sequence explode and NO
    hash-partitioned data shuffle (the former relational path shuffled
    every (doc, shingle) row through a distinct + min aggregation).  The
    only permissible exchange is the round-robin fan-out that widens a
    single-row-group scan to cluster width."""
    from ms_ocr_spark.queries import minhash_signatures_docs

    spark.catalog.clearCache()  # cached shingles from other tests change the shape
    plan = _plan(minhash_signatures_docs(spark, "/root/testdata/sf0.001"))
    assert "sequence(0, 15" not in plan, "salt explode is back"
    assert "ArrowEvalPython" in plan
    assert "hashpartitioning" not in plan, "data shuffle is back"
    assert "HashAggregate" not in plan, "relational min-agg is back"


def test_lsh_pairs_compute_signatures_once(spark):
    """The band-key self-join must read a cached relation, not recompute
    the shingle+minhash subtree once per join side."""
    from ms_ocr_spark.queries import lsh_candidate_pairs_docs

    plan = _plan(lsh_candidate_pairs_docs(spark, "/root/testdata/sf0.001"))
    # both self-join sides must read the CACHED band keys (the minhash
    # subtree inside InMemoryRelation executes once, however often its
    # plan text is printed)
    assert plan.count("InMemoryTableScan") >= 2


def test_multitable_ann_explodes_ids_only(spark):
    """The 3x-posexploded (tbl, bucket) join must carry ONLY id columns —
    never the 64-float vectors (they are re-attached by id equi-joins
    after the candidate dedup).  Carrying vectors through the explode was
    the round-2 shuffle-width hotspot."""
    from ms_ocr_spark.queries import ann_lsh_multitable_topk

    plan = _plan(ann_lsh_multitable_topk(spark, "/root/testdata/sf0.001"))
    gen_lines = [l for l in plan.splitlines() if "Generate posexplode" in l]
    assert gen_lines, "expected posexplode Generate nodes"
    for line in gen_lines:
        # requiredChildOutput must not include the vector aliases; the
        # generator expression itself references `embedding` (it computes
        # the buckets) but the carried columns must be ids only
        assert "q_vec" not in line and "c_vec" not in line, line
    dedup_lines = [
        l for l in plan.splitlines() if "HashAggregate(keys=[query_id" in l
    ]
    assert dedup_lines, "expected id-pair dedup aggregate"
    for line in dedup_lines:
        assert "vec" not in line, line


def test_ivf_assignment_is_one_pass_and_join_is_ids_only(spark):
    """Round 8: the IVF coarse quantizer (16 centroids) travels in the
    task closure and cell assignment is ONE Arrow pass over the vectors
    emitting only (id, cell) — no |vectors| x |cells| relation, no
    ranking window over it, no row-at-a-time Python.  The candidate
    equi-join on cell must still carry ids only (vectors re-attach by id
    for scoring)."""
    from ms_ocr_spark.queries import ann_ivf_topk

    plan = _plan(ann_ivf_topk(spark, "/root/testdata/sf0.001"))
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    join_lines = [
        l for l in plan.splitlines() if "Join" in l and "cell" in l
    ]
    for line in join_lines:
        assert "embedding" not in line and "vec" not in line.replace(
            "vec_id", ""
        ), line


def test_passage_dedup_reads_cached_gram_relation(spark):
    """The duplicated-gram aggregate and the position join both consume
    the gram-hash relation from cache — the tokenize+gram+hash subtree
    must not run twice over the corpus."""
    from ms_ocr_spark.queries import passage_dedup_spans

    spark.catalog.clearCache()
    plan = _plan(passage_dedup_spans(spark, "/root/testdata/sf0.001"))
    assert plan.count("InMemoryTableScan") >= 2
    assert "EvalPython" not in plan  # fully JVM


def test_partition_pruning_on_partitioned_output(spark, corpus_dir, tmp_path):
    """partitionBy output + key filter -> only matching partitions scanned
    (PartitionFilters in the scan, not a post-scan filter)."""
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    out = str(tmp_path / "by_bucket")
    media.withColumn(
        "bucket", F.pmod(F.xxhash64("media_ref"), F.lit(4)).cast("int")
    ).write.partitionBy("bucket").parquet(out)
    df = spark.read.parquet(out).filter(F.col("bucket") == 2)
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(bucket" in plan or "PartitionFilters: [(bucket" in plan
    assert df.count() > 0


def test_containment_candidates_cache_gram_relation_once(spark):
    """Round 5 rarest-gram anchor: the (doc, gram) relation feeds three
    consumers (frequency agg, anchor pick, outer join side) — all three
    must read the CACHED relation, never recompute the tokenize+explode
    subtree per consumer."""
    from ms_ocr_spark.queries import containment_dedup_pairs

    plan = _plan(containment_dedup_pairs(spark, "/root/testdata/sf0.001"))
    # all three consumers read the cache (the tokenize+explode subtree
    # inside InMemoryRelation executes once, however often its plan text
    # is printed — same invariant as the LSH band-key test)
    assert plan.count("InMemoryTableScan") >= 3


def test_bm25_plan_single_corpus_pass_and_broadcasts(spark):
    """BM25 (round 8): ONE Arrow pass over the corpus computes document
    length and per-query-term frequencies together (the round-5 shape
    tokenized the corpus three times and moved postings through an
    explode + IN-filter); term/corpus stats must broadcast (no
    sort-merge join anywhere) and the shared per-doc relation must read
    from cache on every consumer."""
    from ms_ocr_spark.queries import bm25_topk_docs

    plan = _plan(bm25_topk_docs(spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" in plan
    assert plan.count("InMemoryTableScan") >= 2
