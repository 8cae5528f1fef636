"""Incremental materialized rollup maintenance (hypertable-style
continuous aggregate).

The reference recomputes sink state by re-aggregating the serving
store on every run (ES terms agg — ``data-s3-elastic-transfer.py:
45-88``). At 100 TB the analytics twin of that pattern — "keep a
per-(partition, dimension) aggregate current as partitions land" —
must NOT rescan history. This plan maintains a rollup table of
PARTIAL aggregates:

  - the rollup stores one batch of partial rows per loaded partition:
    ``(partition_key, dims..., n_rows, sum_value)`` with the sum in
    DECIMAL (exact, order-independent — safe to re-merge);
  - maintenance diffs source partitions vs partitions already rolled
    up (broadcast anti-join on the rollup's own distinct keys — the
    rollup IS the state, no side channel), aggregates ONLY the new
    partitions (partition-pruned scan), and appends;
  - readers finalize with one tiny re-aggregation over the rollup
    (sum of partials is exact in decimal), so a late re-load of the
    same partition would double-count — exactly the semantics of the
    reference's skip-loaded-months rule, and the same reconcile-pass
    escape hatch applies.

Cost per run: scan(new partitions) + O(|rollup|) — independent of
table history size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload, storage


def maintain_rollup(spark: SparkSession, source: DataFrame,
                    rollup_path: str,
                    partition_key: str = "month",
                    dim: str = "event_type",
                    value_col: str = "value") -> list[str]:
    """Bring the rollup current; returns the partition keys added."""
    src_parts = source.select(partition_key).distinct()
    if storage.exists(spark, rollup_path):
        done = (spark.read.parquet(rollup_path)
                .select(F.col(partition_key).cast("string")
                        .alias(partition_key))
                .distinct())
        new_parts = src_parts.join(F.broadcast(done), partition_key,
                                   "left_anti")
    else:
        new_parts = src_parts
    keys = [r[0] for r in new_parts.collect()]
    if not keys:
        return []
    partials = (source
                .where(F.col(partition_key).isin(keys))
                .groupBy(partition_key, dim)
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.sum(F.col(value_col).cast("decimal(28,6)"))
                      .alias("sum_value")))
    (offload.by_partition(partials, "rollup.partials_write", partition_key)
     .write.mode("append").partitionBy(partition_key)
     .format("parquet").save(rollup_path))
    return sorted(keys)


def read_rollup(spark: SparkSession, rollup_path: str,
                partition_key: str = "month",
                dim: str = "event_type") -> DataFrame:
    """Finalize: merge partial batches (decimal-exact) into totals.
    The partition key is pinned back to string — hive partition-column
    type inference would otherwise re-type e.g. '2024-01-01' as DATE."""
    return (spark.read.parquet(rollup_path)
            .withColumn(partition_key, F.col(partition_key).cast("string"))
            .groupBy(partition_key, dim)
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("sum_value").alias("sum_value")))
