"""Streaming continuous aggregate: the rollup (plans/rollup.py) fed by
Structured Streaming's file source.

The batch maintainer diffs PARTITIONS, so a late file landing in an
already-rolled-up partition is invisible until a reconcile pass. Here
the checkpoint's file log is the state: every new FILE contributes its
partial aggregates exactly once, late or not — the same
partial-batches-then-merge contract (decimal-exact, order-free), with
file-granular exactly-once instead of partition-granular.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.streaming.epochs import drain


def rollup_stream(spark: SparkSession, source_path: str, rollup_path: str,
                  checkpoint_path: str, partition_key: str = "month",
                  dim: str = "event_type", value_col: str = "value") -> None:
    """Drain all unseen source files into rollup partial batches
    (``streaming.epochs.drain``: run-to-completion semantics), then
    return. Finalize with plans.rollup.read_rollup. An empty epoch
    appends nothing, so the loop's emptiness check is skipped."""
    def add_partials(batch_df, _batch_id, phase):
        phase("partials write")
        partials = (batch_df
                    .groupBy(partition_key, dim)
                    .agg(F.count(F.lit(1)).alias("n_rows"),
                         F.sum(F.col(value_col).cast("decimal(28,6)"))
                          .alias("sum_value")))
        (offload.by_partition(partials, "rollup_stream.partials_write",
                              partition_key)
         .write.mode("append").partitionBy(partition_key)
         .format("parquet").save(rollup_path))

    drain(spark, "rollup_stream", source_path, checkpoint_path,
          add_partials, skip_empty=False)
