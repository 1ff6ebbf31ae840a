"""Resume test (SURVEY.md §5 item 5): crash after k buckets, resume,
byte-identical output, no duplicate commits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ms_ocr_spark.plans import checkpoint as cp


def test_checkpoint_resume_exactly_once(spark, corpus_dir, tmp_path):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    golden = spark.read.parquet(f"{corpus_dir}/golden_spans.parquet")
    out = str(tmp_path / "out")

    # "crash" after 3 of 8 buckets
    first = cp.run_with_checkpoints(
        spark, docs, media, out, job_id="j1", n_buckets=8, max_buckets=3
    )
    assert len(first) == 3
    assert cp.completed_buckets(spark, out, "j1", 8) == set(first)

    # resume: only the remaining buckets are processed
    second = cp.run_with_checkpoints(spark, docs, media, out, job_id="j1", n_buckets=8)
    assert sorted(first + second) == list(range(8))
    assert set(first).isdisjoint(second)

    # a third call is a no-op (no duplicate commits)
    assert cp.run_with_checkpoints(spark, docs, media, out, job_id="j1", n_buckets=8) == []

    # full output equals golden, no duplicates
    result = cp.read_output(spark, out)
    assert result.count() == golden.count()
    assert result.select("doc_id").distinct().count() == golden.count()
    r = result.select("doc_id", F.to_json("spans").alias("js"))
    g = golden.select("doc_id", F.to_json("spans").alias("js"))
    assert g.join(r, ["doc_id", "js"]).count() == golden.count()

    # lineage + metrics side tables: one lineage row per run, and the two
    # runs together name every bucket once
    lin = cp.read_lineage(spark, out)
    assert lin.count() == 2
    assert sorted(
        r[0] for r in lin.select(F.explode("buckets")).collect()
    ) == list(range(8))
    met = cp.extraction_metrics(spark, out).collect()[0]
    assert met["n_docs"] == golden.count()
    assert met["n_spans"] == golden.select(F.sum(F.size("spans"))).collect()[0][0]
    assert met["n_media_missing"] == 0


def test_completed_buckets_matches_exact_marker_names(spark, tmp_path):
    """Only `<job>_run_<32 hex>.parquet` markers count, and only their
    buckets < n_buckets: a leftover `.tmp`, another job's run marker and
    an out-of-range bucket do not."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")

    def marker(job_id, buckets):
        return {
            "job_id": job_id, "run_id": uuid.uuid4().hex, "buckets": buckets,
            "n_docs": 0, "n_spans": 0, "n_media_missing": 0,
            "wall_sec": 0.0, "committed_at": 0.0,
        }

    cp._commit_lineage(spark, out, marker("job", [0, 3, 8]))
    cp._commit_lineage(spark, out, marker("job_2", [1]))
    pq.write_table(
        pa.Table.from_pylist([marker("job", [5])], schema=cp.LINEAGE_SCHEMA),
        str(tmp_path / "out" / "_lineage" / f"job_run_{uuid.uuid4().hex}.parquet.tmp"),
    )
    assert cp.completed_buckets(spark, out, "job", 8) == {0, 3}
    assert cp.completed_buckets(spark, out, "job_2", 8) == {1}
    assert cp.completed_buckets(spark, str(tmp_path / "missing"), "job", 8) == set()


def test_checkpoint_run_is_one_sql_execution(spark, corpus_dir, tmp_path):
    """One run is one write: the counts ride it through `observe`, so the
    call adds exactly one SQL execution and no job outside it (no output
    re-scan, no parquet schema-inference job)."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    store = spark._jsparkSession.sharedState().statusStore()
    before = {e.executionId() for e in _scala_list(store.executionsList())}
    sc = spark.sparkContext
    sc.setJobGroup("one_run", "one checkpoint run")
    try:
        assert cp.run_with_checkpoints(
            spark, docs, media, str(tmp_path / "out"), job_id="one", n_buckets=8
        ) == list(range(8))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    new = [
        e for e in _scala_list(store.executionsList()) if e.executionId() not in before
    ]
    assert len(new) == 1
    jobs = sc.statusTracker().getJobIdsForGroup("one_run")
    assert len(jobs) == new[0].jobs().size() > 0


def _scala_list(seq):
    return [seq.apply(i) for i in range(seq.size())]


def test_crash_before_marker_reruns_the_run(spark, corpus_dir, tmp_path, monkeypatch):
    """A crash between the write and the marker commit leaves no bucket
    committed; the resume rewrites every bucket of that run, the output
    equals golden (the dynamic overwrite hides the rerun) and exactly one
    marker exists."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    golden = spark.read.parquet(f"{corpus_dir}/golden_spans.parquet")
    out = str(tmp_path / "out")
    commit = cp._commit_lineage
    calls = []

    def crash_once(*args):
        calls.append(args)
        if len(calls) == 1:
            raise IOError("crash before the marker commit")
        commit(*args)

    monkeypatch.setattr(cp, "_commit_lineage", crash_once)
    with pytest.raises(IOError, match="crash before the marker commit"):
        cp.run_with_checkpoints(spark, docs, media, out, job_id="c", n_buckets=8)
    assert cp.completed_buckets(spark, out, "c", 8) == set()

    assert cp.run_with_checkpoints(
        spark, docs, media, out, job_id="c", n_buckets=8
    ) == list(range(8))
    result = cp.read_output(spark, out)
    assert result.count() == golden.count()
    r = result.select("doc_id", F.to_json("spans").alias("js"))
    g = golden.select("doc_id", F.to_json("spans").alias("js"))
    assert g.join(r, ["doc_id", "js"]).count() == golden.count()
    markers = [p.name for p in (tmp_path / "out" / "_lineage").iterdir()]
    assert len([m for m in markers if m.endswith(".parquet")]) == 1, markers


def test_corrupt_admitted_payload_counted_as_media_missing(spark, corpus_dir, tmp_path):
    """A payload that passes admission (PNG magic) but cannot be decoded
    comes out as NULL text, and the run's lineage row counts every media
    span that references it in `n_media_missing`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    media_t = pq.read_table(f"{corpus_dir}/media_store.parquet")
    bad_ref = media_t["media_ref"][0].as_py()
    payloads = media_t["payload"].to_pylist()
    payloads[0] = b"\x89PNG\r\n\x1a\n" + b"\x00corrupt-payload" * 4
    media_t = media_t.set_column(
        media_t.schema.get_field_index("payload"), "payload", pa.array(payloads, pa.binary())
    )
    media_path = str(tmp_path / "media_store.parquet")
    pq.write_table(media_t, media_path)
    expected = sum(
        s["kind"] == "media" and s["media_ref"] == bad_ref
        for spans in pq.read_table(f"{corpus_dir}/golden_spans.parquet")["spans"].to_pylist()
        for s in spans
    )
    assert expected > 0

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(media_path)
    out = str(tmp_path / "out")
    cp.run_with_checkpoints(spark, docs, media, out, job_id="bad", n_buckets=4)
    (row,) = cp.read_lineage(spark, out).collect()
    assert row["n_media_missing"] == expected
    assert cp.extraction_metrics(spark, out).collect()[0]["n_buckets"] == 4


def test_checkpoint_single_input_scan(spark, corpus_dir):
    """The pending-bucket extraction must read the documents table ONCE —
    a per-bucket loop would rescan 100 TB once per bucket."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media_store.parquet")
    plan = (
        cp.pending_extraction(docs, media, list(range(8)), 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("documents.parquet") == 1, "documents scanned more than once"


def _extract_job():
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "jobs"))
    try:
        import extract_job
    finally:
        sys.path.pop(0)
    return extract_job


def _job_args(corpus_dir, out):
    return [
        "--documents", f"{corpus_dir}/documents.parquet",
        "--media", f"{corpus_dir}/media_store.parquet",
        "--output", out, "--buckets", "4", "--job-id", "t",
    ]


def test_extract_job_cli(spark, corpus_dir, tmp_path):
    """spark-submit entrypoint smoke: run via main(), resume is a no-op,
    and the quarantine side sink is written."""
    extract_job = _extract_job()
    out = str(tmp_path / "cli_out")
    args = _job_args(corpus_dir, out)
    assert extract_job.main(args) == 0
    golden = spark.read.parquet(f"{corpus_dir}/golden_spans.parquet")
    from ms_ocr_spark.plans.checkpoint import read_output

    assert read_output(spark, out).count() == golden.count()
    quarantine = spark.read.parquet(f"{out}/_quarantine")
    assert quarantine.columns == [
        "doc_id", "offset", "media_ref", "mime", "n_bytes", "reason",
    ]
    assert extract_job.main(args) == 0  # resume: no duplicates
    assert read_output(spark, out).count() == golden.count()


def test_extract_job_scans_each_input_once(spark, corpus_dir, tmp_path):
    """One job run reads `documents` and `media_store` once each: the
    quarantine sink comes from the committed output's `quarantine` column,
    not from a second explode and join of the input.  Scans are counted
    over the run's SQL executions in the session's status store."""
    extract_job = _extract_job()
    store = spark._jsparkSession.sharedState().statusStore()
    before = {e.executionId() for e in _scala_list(store.executionsList())}
    sc = spark.sparkContext
    sc.setJobGroup("job_scans", "one extract_job run")
    try:
        assert extract_job.main(_job_args(corpus_dir, str(tmp_path / "out"))) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    group = set(sc.statusTracker().getJobIdsForGroup("job_scans"))
    scans = [
        node.desc()
        for e in _scala_list(store.executionsList())
        if e.executionId() not in before
        and group.intersection(int(j) for j in _scala_list(e.jobs().keys().toSeq()))
        for node in _scala_list(store.planGraph(e.executionId()).allNodes())
        if node.name().startswith("Scan")
    ]
    n_docs = sum("documents.parquet" in d for d in scans)
    n_media = sum("media_store.parquet" in d for d in scans)
    assert (n_docs, n_media) == (1, 1), scans


def test_checkpoint_job_routes_language_column(spark, tmp_path):
    """The checkpointed job path (run_with_checkpoints -> pending_extraction
    -> extract_documents) must carry the doc-level language column through
    bucketing — routed ja_vert squares only decode via that column."""
    from ms_ocr_spark.plans.checkpoint import run_with_checkpoints
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(str(tmp_path / "rj"), n_docs=20, seed=29, routed_pct=0.6)
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    out = str(tmp_path / "rj_out")
    committed = run_with_checkpoints(
        spark, docs, media, out, job_id="rj", n_buckets=4
    )
    assert len(committed) == 4
    result = spark.read.parquet(out + "/data")
    r = result.select("doc_id", F.to_json("spans").alias("js"))
    g = golden.select("doc_id", F.to_json("spans").alias("js"))
    assert g.join(r, ["doc_id", "js"]).count() == golden.count()


def test_checkpoint_resume_composed_round4_tiers(spark, tmp_path):
    """Crash-and-resume over a corpus composing EVERY round-4 tier
    (katakana routing, RGB, JPEG, TIFF variants, progressive + garbage
    payloads): resume is exactly-once, output matches golden (quarantined
    media -> null text), and lineage counts the quarantined media."""
    from ms_ocr_spark.sources.datagen import write_corpus

    paths = write_corpus(
        str(tmp_path / "r4"),
        n_docs=24,
        seed=31,
        routed_pct=0.3,
        rgb_pct=0.2,
        jpeg_pct=0.2,
        tiff_pct=0.2,
        prog_jpeg_pct=0.1,
        truncated_jpeg_pct=0.1,
        invalid_pct=0.1,
    )
    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_store"])
    golden = spark.read.parquet(paths["golden_spans"])
    out = str(tmp_path / "r4_out")

    first = cp.run_with_checkpoints(
        spark, docs, media, out, job_id="r4", n_buckets=6, max_buckets=2
    )
    assert len(first) == 2
    second = cp.run_with_checkpoints(spark, docs, media, out, job_id="r4", n_buckets=6)
    assert sorted(first + second) == list(range(6))

    result = cp.read_output(spark, out)
    r = result.select("doc_id", F.to_json("spans").alias("js"))
    g = golden.select("doc_id", F.to_json("spans").alias("js"))
    assert g.join(r, ["doc_id", "js"]).count() == golden.count()

    n_quarantined = golden.select(
        F.sum(
            F.size(
                F.filter(
                    "spans", lambda s: (s["kind"] == "media") & s["text"].isNull()
                )
            )
        )
    ).collect()[0][0]
    assert n_quarantined > 0, "composed corpus should contain quarantined media"
    met = cp.extraction_metrics(spark, out).collect()[0]
    assert met["n_media_missing"] == n_quarantined
