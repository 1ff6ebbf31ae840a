"""Table IO adapter: Iceberg catalog in production, parquet in the sandbox.

The north rule targets Iceberg tables (`documents`, `extracted`,
`lineage`, `extraction_metrics`).  This sandbox ships no Iceberg runtime
jars, so the adapter resolves to plain parquet paths unless an Iceberg
catalog is configured on the session — the call sites are identical either
way, which is the point: `plans/checkpoint.py` and `jobs/extract_job.py`
run unchanged on a real lakehouse.

Production session config (documented, not exercisable here):

    spark.sql.catalog.lake                 org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type            glue | hive | rest
    spark.sql.extensions                   org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions

With that in place `read_table(spark, "lake.db.documents")` hits Iceberg
(hidden partitioning on bucket(doc_id), snapshot isolation), and
`overwrite_partition` maps to `writeTo(...).overwritePartitions()` —
the same idempotent commit contract the sandbox implements with
directory overwrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path_str: str):
    """(Hadoop FileSystem, Path) for any supported scheme.

    The Path class is resolved by its fully qualified name in one lookup;
    py4j's dotted walk (`jvm.org.apache...`) first tries every package
    segment as a class, each a failing lookup across every jar."""
    path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def is_table_identifier(target: str) -> bool:
    """catalog.db.table identifiers vs filesystem paths."""
    return "/" not in target and "." in target


def _iceberg_available(spark: SparkSession, target: str) -> bool:
    if not is_table_identifier(target):
        return False
    catalog = target.split(".", 1)[0]
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if _iceberg_available(spark, target):
        return spark.read.format("iceberg").load(target)
    return spark.read.parquet(target)


def append(df: DataFrame, target: str) -> None:
    spark = df.sparkSession
    if _iceberg_available(spark, target):
        df.writeTo(target).append()
    else:
        df.write.mode("append").parquet(target)


def overwrite_partition(df: DataFrame, target: str, partition_subdir: str) -> None:
    """Idempotent per-range commit: Iceberg overwritePartitions, or an
    atomic-enough directory overwrite on plain filesystems."""
    spark = df.sparkSession
    if _iceberg_available(spark, target):
        df.writeTo(target).overwritePartitions()
    else:
        df.write.mode("overwrite").parquet(f"{target}/{partition_subdir}")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed+sorted on the join key: two tables
    bucketed the same way join WITHOUT a shuffle (the at-scale recipe for
    repeated media_ref / doc_id joins — SURVEY.md §4; Iceberg's hidden
    `bucket(key)` partitioning is the lakehouse equivalent)."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def expire_old(spark: SparkSession, target: str, older_than_ts: str) -> list[str]:
    """Retention maintenance (reference S13 TTL sweep,
    `/root/reference/script/cronjob_input.sh` + 600 s TTL
    `env/local.env:27`): Iceberg expire_snapshots on a catalog table; on a
    plain filesystem layout, delete checkpoint-output entries (data
    partitions + lineage markers) whose modification time predates the
    cutoff, through the path's Hadoop FileSystem.  Returns deleted paths.

    Timezone contract: `older_than_ts` is interpreted as UTC when the
    string carries no offset; an explicit offset (e.g. `+02:00` / `Z`) is
    honored.  The Iceberg branch normalizes to a UTC literal so both
    branches sweep the same window regardless of the session timezone
    (this engine pins spark.sql.session.timeZone=UTC, but the contract
    must not depend on it).
    """
    import datetime

    parsed = datetime.datetime.fromisoformat(older_than_ts)
    if parsed.tzinfo is None:  # naive string == UTC; explicit offsets kept
        parsed = parsed.replace(tzinfo=datetime.timezone.utc)
    cutoff_utc = parsed.astimezone(datetime.timezone.utc)
    if _iceberg_available(spark, target):
        # offset-carrying literal: correct under ANY session timezone
        utc_literal = cutoff_utc.strftime("%Y-%m-%d %H:%M:%S+00:00")
        spark.sql(
            f"CALL {target.split('.', 1)[0]}.system.expire_snapshots("
            f"table => '{target}', "
            f"older_than => TIMESTAMP '{utc_literal}')"
        )
        return []
    cutoff_ms = int(cutoff_utc.timestamp() * 1000)
    deleted: list[str] = []
    for sub in ("data", "_lineage"):
        fs, root = hadoop_fs(spark, f"{target.rstrip('/')}/{sub}")
        if not fs.exists(root):
            continue
        for status in fs.listStatus(root):
            if status.getModificationTime() < cutoff_ms:
                p = status.getPath()
                fs.delete(p, True)
                deleted.append(p.toString())
    return deleted
