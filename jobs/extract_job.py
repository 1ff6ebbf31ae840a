#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline.

Cluster usage (north rule: packaged for --py-files, resumable):

    ./scripts/package.sh     # builds dist/ms_ocr_spark.zip
    spark-submit --py-files dist/ms_ocr_spark.zip jobs/extract_job.py \\
        --documents  s3a://bucket/warehouse/documents \\
        --media      s3a://bucket/warehouse/media_store \\
        --output     s3a://bucket/warehouse/extracted \\
        --job-id     extract-2026-08-16 \\
        --buckets    4096 --salt-partitions 8192

Re-running the same command after a failure resumes: buckets named by a
committed run's lineage marker (one per run, written through the output
path's Hadoop FileSystem so it works on object stores too) are skipped; the
buckets of a run that crashed before its marker are re-written by the
dynamic partition overwrite.

Each output row carries its doc's `quarantine` array (media spans that are
missing, invalid, out of decode scope or undecodable), so quarantine rows
commit and resume with their bucket.  Every call then rewrites
`<output>/_quarantine` from that column of the committed `data/` (parquet
column pruning reads only `doc_id` and `quarantine`).  An output committed
before the column existed has no `quarantine` to read: write such a job to
a new output.

Local smoke:

    python jobs/extract_job.py --documents .cache/bench_corpus_8000/documents.parquet \\
        --media .cache/bench_corpus_8000/media_store.parquet \\
        --output /tmp/extract_out --buckets 8
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="documents table path")
    p.add_argument("--media", required=True, help="media_store table path")
    p.add_argument("--output", required=True, help="output root (data/ + _lineage/)")
    p.add_argument("--job-id", default="extract")
    p.add_argument("--buckets", type=int, default=64, help="checkpoint commit ranges")
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--no-broadcast-media", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from ms_ocr_spark.plans.checkpoint import (
        extraction_metrics,
        read_output,
        run_with_checkpoints,
    )
    from ms_ocr_spark.session import get_spark

    spark = get_spark(app=f"extract:{args.job_id}")
    docs = spark.read.parquet(args.documents)
    media = spark.read.parquet(args.media)
    committed = run_with_checkpoints(
        spark,
        docs,
        media,
        args.output,
        job_id=args.job_id,
        n_buckets=args.buckets,
        broadcast_media=not args.no_broadcast_media,
        salt_partitions=args.salt_partitions,
    )
    # media spans that are not admitted, out of scope or undecodable (null
    # text in the output), from the committed output's `quarantine` column:
    # no second read of the input
    read_output(spark, args.output).select("doc_id", F.inline("quarantine")).write.mode(
        "overwrite"
    ).parquet(f"{args.output.rstrip('/')}/_quarantine")
    metrics = extraction_metrics(spark, args.output).collect()
    print(
        json.dumps(
            {
                "job_id": args.job_id,
                "buckets_committed_this_run": committed,
                "metrics": [row.asDict() for row in metrics],
            },
            default=str,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
