"""Entry point A — incremental partition-level diff-and-load
(SURVEY.md §3.1; reference ``data-s3-elastic-transfer.py:258-374``).

The reference's lifecycle funnels everything through the driver: ES
terms agg → Python set diff → per-month loop → ``collect()`` →
hand-batched HTTP bulk. Here the whole plan stays in DataFrame land:

    source state  = distinct partition keys of the source table
    sink state    = distinct partition keys of the serving table
    delta         = anti-join (J1, broadcast)
    load          = semi-join fetch of delta partitions → keyed upsert

Semantics preserved exactly (SURVEY.md §7.4.4): a partition already
present in the sink is SKIPPED even if its row set changed — that
late-data blind spot is the reference's documented behavior
(``data-s3-elastic-transfer.py:283-285``); ``plans.reconcile`` is the
catch-up pass, as in the reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import storage
from s3_elasticsearch_data_pipeline_spark.operators.diff import missing_partitions
from s3_elasticsearch_data_pipeline_spark.operators.projection import (
    typed_projection, validate_and_clean)
from s3_elasticsearch_data_pipeline_spark.sinks.keyed import upsert_by_key


@dataclass
class LoadReport:
    """Observable outcome of one incremental run (the reference logs the
    same facts: months moved + per-month doc counts)."""
    partitions_loaded: list[str] = field(default_factory=list)
    rows_loaded: int = 0


def plan_missing_partitions(source: DataFrame, sink: DataFrame | None,
                            key: str = "month") -> DataFrame:
    """The J1 diff as a DataFrame: partition keys to move."""
    if sink is None:
        return source.select(key).distinct()
    return missing_partitions(source, sink, key)


def load_log_path(sink_path: str) -> str:
    return sink_path.rstrip("/") + "_load_log"


def read_load_log(spark: SparkSession, sink_path: str) -> DataFrame | None:
    """The load-log state table (SURVEY.md §7.4.1): one row per load
    event ``(partition key, rows, loaded_at run id)``. It answers
    "what's loaded?" without scanning the serving table — the
    observable twin of the reference's ES terms-agg sink-state read
    (``data-s3-elastic-transfer.py:45-88``) at metadata cost."""
    path = load_log_path(sink_path)
    if not storage.exists(spark, path):
        return None
    return spark.read.parquet(path)


def incremental_load(spark: SparkSession, source: DataFrame, sink_path: str,
                     key: str = "month", id_col: str = "id",
                     field_mappings=None, clean: bool = False) -> LoadReport:
    """Run the full lifecycle: diff partitions, fetch + shape the delta
    rows, idempotently upsert into the serving table.

    The delta fetch is a single partition-pruned scan: the ``isin`` on
    the partition column prunes hive partitions at planning time — the
    declarative twin of the reference's ``push_down_predicate``
    (``data-s3-elastic-transfer.py:301-306``), but for all missing
    partitions in one job instead of a per-month driver loop.
    """
    # Sink state from the load log when present (metadata-sized read);
    # falls back to scanning the serving table's partition keys.
    log = read_load_log(spark, sink_path)
    if log is not None:
        sink = log.select(F.col("partition_key").alias(key))
    else:
        sink = (spark.read.parquet(sink_path)
                if storage.exists(spark, sink_path) else None)
    todo_df = plan_missing_partitions(source, sink, key)
    # Partition keys are low-cardinality by design (calendar months in
    # the reference) — collecting just the KEY LIST is driver-safe at
    # any scale and enables static partition pruning on the scan.
    todo = [r[0] for r in todo_df.collect()]
    if not todo:
        return LoadReport()

    delta = source.where(F.col(key).isin(todo))
    shaped = typed_projection(delta, field_mappings) if field_mappings else delta
    if clean:
        shaped = validate_and_clean(shaped)
    rows = shaped.count()
    upsert_by_key(spark, shaped, sink_path, key_col=id_col, partition_col=key)
    # Append this load's per-partition counts to the load log.
    (shaped.groupBy(F.col(key).cast("string").alias("partition_key"))
     .agg(F.count(F.lit(1)).alias("rows_loaded"))
     .write.mode("append").parquet(load_log_path(sink_path)))
    return LoadReport(partitions_loaded=sorted(map(str, todo)), rows_loaded=rows)
