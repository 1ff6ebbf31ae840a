"""Per-partition-range checkpoint commits with lineage + metrics tables.

North rule: "per-partition checkpoint commits to Iceberg with lineage +
extraction-metrics side tables so any failed partition range is resumable".
The sandbox has no Iceberg catalog jars, so the commit unit here is a
dynamic partition overwrite of the pending bucket partitions + an atomic
lineage marker per bucket — the same idempotence contract as an Iceberg
`overwritePartitions()`; swap `_write_pending` for
`writeTo(table).overwritePartitions()` on a real catalog.

ONE scan of the input per call: all pending buckets are selected with a
single `bucket IN (...)` filter and written in one job via
`partitionBy("bucket")` with partitionOverwriteMode=dynamic (only the
written partitions are replaced).  A per-bucket loop would rescan the
full 100 TB documents table once per bucket.

Resume semantics (exactly-once):
  1. pending bucket partitions are written (dynamic overwrite -> idempotent
     on retry)
  2. ONLY THEN the lineage marker for (job_id, bucket) is committed
     (atomic rename)
  3. resume skips buckets whose lineage marker exists; a crash between 1
     and 2 rewrites those buckets — the overwrite makes the rewrite
     invisible.

Lineage markers are written THROUGH the Hadoop FileSystem of `out_dir`
(local file://, hdfs://, s3a://, ...) so they always live next to the
data — a driver-local os.path write would strand them when the output is
an object store and resume would silently reprocess everything.

Replaces the reference's "retry the HTTP request" failure model
(`/root/reference/src/controller/Ocr.ts:55-65`; TTL sweep
`script/cronjob_input.sh`) with deterministic batch resume.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ms_ocr_spark.extraction.pipeline import extract_documents

LINEAGE_COLS = [
    "job_id",
    "bucket",
    "n_docs",
    "n_spans",
    "n_media_missing",
    "wall_sec",
    "committed_at",
]


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _fs(spark: SparkSession, path_str: str):
    """(Hadoop FileSystem, Path) for any supported scheme."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _lineage_path(out_dir: str, job_id: str, bucket: int) -> str:
    return f"{out_dir.rstrip('/')}/_lineage/{job_id}_bucket_{bucket:05d}.parquet"


def completed_buckets(
    spark: SparkSession, out_dir: str, job_id: str, n_buckets: int
) -> set[int]:
    """Buckets of `job_id` whose lineage marker is committed: one listing
    of `_lineage`, matched against the exact marker names."""
    fs, root = _fs(spark, f"{out_dir.rstrip('/')}/_lineage")
    if not fs.exists(root):
        return set()
    names = {st.getPath().getName() for st in fs.listStatus(root)}
    return {
        b
        for b in range(n_buckets)
        if _lineage_path(out_dir, job_id, b).rsplit("/", 1)[1] in names
    }


def _commit_lineage(spark: SparkSession, out_dir: str, job_id: str, row: dict) -> None:
    """Marker commit: local one-row parquet -> copy next to the data via
    the Hadoop FS -> rename into place (marker existence IS the commit
    flag, so it must appear whole or not at all).

    The rename is atomic on HDFS/local; on S3A it is copy+delete (not
    atomic) — marker semantics tolerate that (a torn marker is absent or
    whole-file, and resume re-writes the bucket idempotently), but the
    rename's boolean RETURN must still be checked: Hadoop FileSystem
    reports failure by returning false, not by throwing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = _lineage_path(out_dir, job_id, int(row["bucket"]))
    fs, final_p = _fs(spark, final)
    fs.mkdirs(final_p.getParent())
    with tempfile.TemporaryDirectory() as td:
        local = os.path.join(td, "marker.parquet")
        pq.write_table(pa.Table.from_pylist([row]), local)
        jvm = spark._jvm
        tmp_p = jvm.org.apache.hadoop.fs.Path(final + ".tmp")
        fs.copyFromLocalFile(False, True, jvm.org.apache.hadoop.fs.Path(local), tmp_p)
        if fs.exists(final_p):
            fs.delete(final_p, False)
        if not fs.rename(tmp_p, final_p):
            raise IOError(
                f"lineage marker rename failed (bucket NOT committed): {final}"
            )


def pending_extraction(
    docs: DataFrame,
    media: DataFrame,
    pending: list[int],
    n_buckets: int,
    **extract_kw,
) -> DataFrame:
    """Extraction over ALL pending buckets in one plan (one input scan),
    with the bucket partition column re-derived on the output."""
    subset = docs.filter(_bucket_col(n_buckets).isin(pending))
    result = extract_documents(subset, media, **extract_kw)
    return result.withColumn("bucket", _bucket_col(n_buckets))


def run_with_checkpoints(
    spark: SparkSession,
    docs: DataFrame,
    media: DataFrame,
    out_dir: str,
    job_id: str = "job",
    n_buckets: int = 16,
    max_buckets: int | None = None,
    **extract_kw,
) -> list[int]:
    """Process all pending doc-id hash buckets in ONE job; resumable.

    `max_buckets` bounds how many NEW buckets are processed this call
    (used by tests to simulate a crash mid-job).  Returns the buckets
    committed by this call.
    """
    done = completed_buckets(spark, out_dir, job_id, n_buckets)
    pending = [b for b in range(n_buckets) if b not in done]
    if max_buckets is not None:
        pending = pending[:max_buckets]
    if not pending:
        return []

    t0 = time.time()
    data_path = f"{out_dir.rstrip('/')}/data"
    result = pending_extraction(docs, media, pending, n_buckets, **extract_kw)
    (
        result.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(data_path)
    )
    wall = time.time() - t0

    # per-bucket stats from ONE scan of the just-written output (never a
    # second scan of the input)
    out_df = spark.read.parquet(data_path).filter(F.col("bucket").isin(pending))
    stats = (
        out_df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("n_spans"),
            F.coalesce(
                F.sum(
                    F.size(
                        F.filter(
                            "spans",
                            lambda s: (s["kind"] == "media") & s["text"].isNull(),
                        )
                    )
                ),
                F.lit(0),
            ).alias("n_media_missing"),
        )
        .collect()
    )
    by_bucket = {int(r["bucket"]): r for r in stats}

    committed: list[int] = []
    per_bucket_wall = wall / len(pending)
    for bucket in pending:
        r = by_bucket.get(bucket)
        row = {
            "job_id": job_id,
            "bucket": bucket,
            "n_docs": int(r["n_docs"]) if r else 0,
            "n_spans": int(r["n_spans"]) if r else 0,
            "n_media_missing": int(r["n_media_missing"]) if r else 0,
            "wall_sec": float(per_bucket_wall),
            "committed_at": float(time.time()),
        }
        # lineage marker LAST: its existence == the bucket is committed
        _commit_lineage(spark, out_dir, job_id, row)
        committed.append(bucket)
    return committed


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir.rstrip('/')}/data")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir.rstrip('/')}/_lineage")


def extraction_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Aggregate job metrics from lineage (the metrics side table)."""
    lin = read_lineage(spark, out_dir)
    return lin.groupBy("job_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("n_media_missing").alias("n_media_missing"),
        F.sum("wall_sec").alias("total_wall_sec"),
    )
