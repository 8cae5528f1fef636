"""Bucketed tables — shuffle-free co-located joins (SURVEY.md §4,
100 TB posture).

At scale the orders⋈lineitem equi-join dominates shuffle volume.
Bucketing both tables on the join key at write time
(``bucketBy(n, key)``) lets every later join/aggregate on that key run
with NO exchange: each task reads matching bucket files from both
sides. This is Spark's storage-partitioned-join building block and the
engine's answer to "the same big join runs every day — stop paying the
shuffle".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from s3_elasticsearch_data_pipeline_spark import storage


def write_bucketed(df: DataFrame, table_name: str, key: str,
                   buckets: int = 16,
                   sort_by: str | None = None) -> None:
    """Persist as a bucketed (and optionally sorted) catalog table.
    Sorting within buckets upgrades later sort-merge joins to zero-sort
    merges. Idempotent across sessions: a previous session's orphaned
    managed-table directory (in-memory catalog is gone, files are not)
    is removed before the write, else saveAsTable refuses the location.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    storage.delete(spark, spark.conf.get("spark.sql.warehouse.dir")
                   + f"/{table_name.lower()}")
    writer = (df.write.mode("overwrite")
              .bucketBy(buckets, key))
    if sort_by is not None:
        writer = writer.sortBy(sort_by)
    writer.format("parquet").saveAsTable(table_name)


def cojoin_bucketed(spark: SparkSession, left_table: str, right_table: str,
                    key: str, how: str = "inner") -> DataFrame:
    """Join two tables bucketed on the same key with the same bucket
    count — plans with no Exchange on either side (asserted in
    tests/test_plan_shape.py)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)
