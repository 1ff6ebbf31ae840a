"""Per-run checkpoint commits with lineage + metrics tables.

North rule: "per-partition checkpoint commits to Iceberg with lineage +
extraction-metrics side tables so any failed partition range is resumable".
The sandbox has no Iceberg catalog jars, so one run commits as a dynamic
partition overwrite of its pending bucket partitions + ONE atomic lineage
marker naming those buckets — the same idempotence contract as an Iceberg
`overwritePartitions()`, which commits the whole run as one snapshot; swap
the write for `writeTo(table).overwritePartitions()` on a real catalog.
The run, not the bucket, is the commit unit: its buckets land in one write
job, so one marker per run is all the commit there is, whatever the
bucket count.

ONE scan of the input per call: all pending buckets are selected with a
single `bucket IN (...)` filter and written in one job via
`partitionBy("bucket")` with partitionOverwriteMode=dynamic (only the
written partitions are replaced).  A per-bucket loop would rescan the
full 100 TB documents table once per bucket.  The run's counts ride that
write through one `Observation`, so nothing re-reads the output.

Resume semantics (exactly-once):
  1. the run's pending bucket partitions are written (dynamic overwrite ->
     idempotent on retry)
  2. ONLY THEN the run's lineage marker is committed (atomic rename)
  3. resume skips the buckets named by the job's committed markers; a
     crash between 1 and 2 rewrites all of that run's buckets — the
     overwrite makes the rewrite invisible.

Lineage markers are written THROUGH the Hadoop FileSystem of `out_dir`
(local file://, hdfs://, s3a://, ...) so they always live next to the
data — a driver-local os.path write would strand them when the output is
an object store and resume would silently reprocess everything.

Replaces the reference's "retry the HTTP request" failure model
(`/root/reference/src/controller/Ocr.ts:55-65`; TTL sweep
`script/cronjob_input.sh`) with deterministic batch resume.
"""

from __future__ import annotations

import re
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ms_ocr_spark.extraction.pipeline import extract_documents

LINEAGE_SCHEMA = pa.schema(
    [
        ("job_id", pa.string()),
        ("run_id", pa.string()),
        ("buckets", pa.list_(pa.int32())),
        ("n_docs", pa.int64()),
        ("n_spans", pa.int64()),
        ("n_media_missing", pa.int64()),
        ("wall_sec", pa.float64()),
        ("committed_at", pa.float64()),
    ]
)


def hadoop_fs(spark: SparkSession, path_str: str):
    """(Hadoop FileSystem, Path) for any supported scheme.

    The Path class is resolved by its fully qualified name in one lookup;
    py4j's dotted walk (`jvm.org.apache...`) first tries every package
    segment as a class, each a failing lookup across every jar."""
    path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _lineage_dir(out_dir: str) -> str:
    return f"{out_dir.rstrip('/')}/_lineage"


def completed_buckets(
    spark: SparkSession, out_dir: str, job_id: str, n_buckets: int
) -> set[int]:
    """Buckets named by `job_id`'s committed run markers: one listing of
    `_lineage`, exact marker names only, each marker's `buckets` read
    through the Hadoop FS (no Spark job)."""
    fs, root = hadoop_fs(spark, _lineage_dir(out_dir))
    if not fs.exists(root):
        return set()
    name = re.compile(re.escape(job_id) + r"_run_[0-9a-f]{32}\.parquet")
    done: set[int] = set()
    for st in fs.listStatus(root):
        if name.fullmatch(st.getPath().getName()):
            stream = fs.open(st.getPath())
            try:
                data = stream.readAllBytes()
            finally:
                stream.close()
            marker = pq.read_table(pa.BufferReader(data), columns=["buckets"])
            done.update(b for bs in marker["buckets"].to_pylist() for b in bs)
    return {b for b in done if b < n_buckets}


def _commit_lineage(spark: SparkSession, out_dir: str, row: dict) -> None:
    """Marker commit: one-row parquet written next to the data as `.tmp`
    via the Hadoop FS -> rename into place (marker existence IS the commit
    flag, so it must appear whole or not at all).

    The rename is atomic on HDFS/local; on S3A it is copy+delete (not
    atomic) — marker semantics tolerate that (a torn marker is absent or
    whole-file, and resume re-writes the run's buckets idempotently), but
    the rename's boolean RETURN must still be checked: Hadoop FileSystem
    reports failure by returning false, not by throwing."""
    final = f"{_lineage_dir(out_dir)}/{row['job_id']}_run_{row['run_id']}.parquet"
    fs, final_p = hadoop_fs(spark, final)
    tmp_p = final_p.suffix(".tmp")
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA), buf)
    stream = fs.create(tmp_p, True)
    try:
        stream.write(buf.getvalue().to_pybytes())
    finally:
        stream.close()
    if not fs.rename(tmp_p, final_p):
        raise IOError(f"lineage marker rename failed (run NOT committed): {final}")


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

    obs = Observation()
    media_missing = F.filter("spans", lambda s: (s["kind"] == "media") & s["text"].isNull())
    result = pending_extraction(docs, media, pending, n_buckets, **extract_kw).observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("n_spans"),
        F.coalesce(F.sum(F.size(media_missing)), F.lit(0)).alias("n_media_missing"),
    )
    t0 = time.perf_counter()
    (
        result.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(f"{out_dir.rstrip('/')}/data")
    )
    counts = obs.get
    # lineage marker LAST: its existence == the run's buckets are committed
    _commit_lineage(
        spark,
        out_dir,
        {
            "job_id": job_id,
            "run_id": uuid.uuid4().hex,
            "buckets": pending,
            **{k: int(v) for k, v in counts.items()},
            "wall_sec": time.perf_counter() - t0,
            "committed_at": time.time(),
        },
    )
    return pending


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir.rstrip('/')}/data")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_lineage_dir(out_dir))


def extraction_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Aggregate job metrics from lineage (the metrics side table)."""
    lin = read_lineage(spark, out_dir)
    return lin.groupBy("job_id").agg(
        F.sum(F.size("buckets")).alias("n_buckets"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("n_media_missing").alias("n_media_missing"),
        F.sum("wall_sec").alias("total_wall_sec"),
    )
