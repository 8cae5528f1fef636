"""Table maintenance: small-file compaction and layout statistics.

A continuously-loaded 100 TB table accretes small files (every
incremental batch writes at least one file per touched partition);
scan cost then becomes dominated by file-open/footer overhead rather
than bytes. Compaction bin-packs each partition back to a target file
size; stats expose the file-level layout so maintenance can be
scheduled by policy (e.g. compact partitions averaging < 32 MB/file).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.session import scoped_conf


def partition_file_stats(spark: SparkSession, path: str,
                         partition_key: str = "month") -> DataFrame:
    """Per-partition layout stats from file metadata + row counts:
    (partition, n_files, bytes, n_rows). The bytes/file ratio is the
    compaction trigger. Each file's size comes from the scan's own
    ``_metadata``, so no listing of the table is needed."""
    per_file = (spark.read.parquet(path)
                .groupBy(partition_key,
                         F.col("_metadata.file_path").alias("__file"))
                .agg(F.count(F.lit(1)).alias("__rows"),
                     F.max("_metadata.file_size").alias("__bytes")))
    return (per_file.groupBy(partition_key)
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("__bytes").alias("bytes"),
                 F.sum("__rows").alias("n_rows")))


def compact_partitions(spark: SparkSession, path: str,
                       partitions: list[str],
                       partition_key: str = "month",
                       target_bytes: int = 128 * 1024 * 1024) -> None:
    """Rewrite the given partitions bin-packed to ~target_bytes files.

    Uses dynamic partition overwrite so ONLY the listed partitions are
    rewritten; rows are untouched (verified by the round-trip test).
    File count per partition = ceil(partition_bytes / target_bytes),
    laid out with repartition(n) inside each partition.

    Crash consistency: partitions are swapped one at a time, and each
    swap stages its output fully before the committer touches the
    table — a crash mid-job leaves the original files intact, and a
    crash between partitions leaves a correct (partially-compacted)
    table; re-running is idempotent. The only exposed window is the
    committer's delete-then-rename inside ONE partition swap, which is
    non-atomic on plain filesystems/object stores — the standard
    Hive-style-overwrite caveat; a transactional table format closes
    it. The partitionOverwriteMode override is scoped to this call.
    """
    stats = {r[0]: r for r in
             partition_file_stats(spark, path, partition_key)
             .where(F.col(partition_key).isin(partitions)).collect()}
    with scoped_conf(spark, "spark.sql.sources.partitionOverwriteMode",
                     "dynamic"):
        df = spark.read.parquet(path)
        for part in partitions:
            row = stats.get(part)
            n_files = (max(1, math.ceil(row["bytes"] / target_bytes))
                       if row else 1)
            (df.where(F.col(partition_key) == part)
             .repartition(n_files)
             .write.mode("overwrite").partitionBy(partition_key)
             .format("parquet").save(path))


def observed_write(df, path: str, mode: str = "overwrite",
                   metric_cols: dict | None = None):
    """Write with in-flight metrics via ``df.observe`` — row counts and
    data-quality aggregates collected DURING the write job, zero extra
    passes over the data (the reference re-scans or re-queries the sink
    to learn what it loaded — data-s3-elastic-transfer.py:309,322; at
    100 TB a second pass is a second 100 TB scan).

    Returns the observed metrics dict, e.g. ``{"n_rows": ..., ...}``.
    ``metric_cols`` maps metric name → aggregate Column; default counts
    rows and null keys of the first column.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    first = df.columns[0]
    if metric_cols is None:
        metric_cols = {
            "n_rows": F.count(F.lit(1)),
            "n_null_first_col": F.count(F.lit(1)) - F.count(F.col(first))}
    obs = Observation("load_metrics")
    observed = df.observe(obs, *[c.alias(n) for n, c in metric_cols.items()])
    observed.write.mode(mode).format("parquet").save(path)
    return obs.get
