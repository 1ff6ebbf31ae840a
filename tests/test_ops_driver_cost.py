"""Driver cost of the operator queries: declared table schemas, the jobs a
query launches, and the Arrow SimHash against a per-token reference."""

from __future__ import annotations

import glob
import hashlib
import os
import re

import numpy as np
import pandas as pd
import pytest

from ms_ocr_spark import queries as Q
from ms_ocr_spark.operators.dedup import simhash_signatures

SF_DIR = "/root/testdata/sf0.001"
OPS_QUERIES = [
    "simhash_neardup_pairs",
    "ann_brute_force_topk",
    "embedding_neardup_pairs",
    "overlap_join_boxes",
]


def _jobs(spark, group: str, action) -> list[list[str]]:
    """Run `action` in job group `group`; the stage names of each job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    out = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(j).stageIds]
        out.append([s.name for s in stages if s is not None])
    return out


@pytest.mark.parametrize("sf_dir", sorted(glob.glob("/root/testdata/sf*")))
def test_declared_schemas_match_the_files(spark, sf_dir):
    """A declared schema that drifted from its file would read the
    missing column as NULLs without an error, so each one must equal what
    a footer read infers."""
    read = set(re.findall(r'_t\(spark, sf_dir, "(\w+)"\)', open(Q.__file__).read()))
    assert read == set(Q._SCHEMAS)
    for name, ddl in Q._SCHEMAS.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        declared = spark.read.schema(ddl).parquet(path).schema
        assert declared == spark.read.parquet(path).schema, name


def test_ops_queries_launch_no_footer_job_and_simhash_three(spark):
    """No registry read pays a one-task parquet footer job, and the SimHash
    band search runs in at most three jobs: the band relation is shuffled
    once and AQE reuses that exchange for the second join side (one UDF
    evaluation), with no persisted copy and no distinct."""
    from ms_ocr_spark.plans.cache import release_all

    for q in OPS_QUERIES:
        jobs = _jobs(
            spark,
            f"ops-{q}",
            lambda: Q.queries()[q](spark, SF_DIR).write.format("noop").mode("overwrite").save(),
        )
        footer = [s for stages in jobs for s in stages if s.startswith("parquet at ")]
        assert not footer, (q, jobs)
    release_all()

    df = Q.queries()["simhash_neardup_pairs"](spark, SF_DIR)
    jobs = _jobs(spark, "ops-simhash-collect", df.collect)
    assert len(jobs) <= 3, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert "ReusedExchange" in final
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert "Aggregate" not in plan


def _ref_simhash(text: str | None, bits: int) -> int | None:
    toks = [t for t in re.split(r"\s+", text.lower()) if t] if text is not None else []
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    if not hs:
        return None
    sig = 0
    for b in range(bits):
        votes = sum(1 if (h >> b) & 1 else -1 for h in hs)
        sig |= (votes > 0) << b
    return sig


@pytest.mark.parametrize("bits", [16, 32])
def test_simhash_signatures_match_per_token_md5(spark, bits):
    """The Arrow UDF hashes each distinct token of a batch once; the
    signatures must equal per-token md5 votes, with repeated tokens
    voting once per occurrence, empty and NULL docs dropped, and
    partitions above the 2,048-row Arrow batch."""
    rng = np.random.default_rng(bits)
    vocab = [f"w{i}" for i in range(40)] + ["Mixed", "mixed", "x" * 30]
    texts = []
    for i in range(17_000):
        n = int(rng.integers(0, 12))
        toks = list(rng.choice(vocab, n))
        if i % 7 == 0 and toks:
            toks = toks + [toks[0]] * int(rng.integers(1, 5))  # repeats
        texts.append(("\t" if i % 5 == 0 else " ").join(toks))
    texts[:4] = ["", None, "   ", "solo"]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts})
    # 8 partitions of ~2,125 rows each: every UDF task sees two batches
    df = spark.createDataFrame(pdf, "doc_id long, text string").repartition(8)
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df, bits=bits).collect()}
    want = {i: s for i, t in enumerate(texts) if (s := _ref_simhash(t, bits)) is not None}
    assert got == want
    assert 0 not in got and 1 not in got and 2 not in got and 3 in got
