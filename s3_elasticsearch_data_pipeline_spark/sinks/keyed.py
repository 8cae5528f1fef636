"""Keyed idempotent serving-table sink (SURVEY.md S10).

The reference's serving store is an Elasticsearch index written with
``_id = doc["id"]`` so re-indexing a document is an upsert
(``ID-based-transfer.py:198-223``). Without a live ES, the observable
semantics — "writes are idempotent by key; last write wins" — are
reproduced by a partitioned parquet table plus a merge-on-write:
union incoming rows with existing, keep one row per key (incoming
preferred), rewrite only the touched partitions.

This is the MERGE INTO emulation pattern (anti-join + union); with a
Delta/Iceberg jar on the classpath the same call maps to a real
``MERGE``. At scale the dynamic partition overwrite keeps the rewrite
proportional to the touched partitions, not the table.

Note on read-overwrite: the merge plan reads the serving table while
dynamically overwriting its touched partitions. Locally this is safe
(reads complete before the commit swaps files); on an object store a
production deployment should route through a table format (Delta/
Iceberg MERGE) or a staging-dir + rename for snapshot isolation —
callers must also not re-execute plans derived from the pre-upsert
sink afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import storage
from s3_elasticsearch_data_pipeline_spark.session import (
    checkpoint_scope, job_phases, scoped_conf)

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def upsert_by_key(spark: SparkSession, incoming: DataFrame, path: str,
                  key_col: str = "id", partition_col: str = "month") -> None:
    """Idempotent keyed write: one row per key survives, incoming wins.

    Only partitions present in ``incoming`` are rewritten (dynamic
    partition overwrite), so cost scales with the delta, not the table.
    The overwrite-mode override is scoped to this call. Jobs are
    described ``upsert_by_key: <phase>`` (``sink read``, ``merge
    write``).
    """
    with job_phases(spark, "upsert_by_key") as phase, \
            scoped_conf(spark, _OVERWRITE_MODE, "dynamic"):
        incoming = incoming.withColumn("_prio", F.lit(0))
        if storage.exists(spark, path):
            phase("sink read")
            existing = spark.read.parquet(path).withColumn("_prio", F.lit(1))
            # Restrict existing rows to the touched partitions:
            # everything else is untouched on disk by dynamic
            # overwrite anyway.
            touched = incoming.select(partition_col).distinct()
            existing = existing.join(F.broadcast(touched), partition_col,
                                     "left_semi")
            merged = incoming.unionByName(existing)
        else:
            merged = incoming
        w = Window.partitionBy(key_col).orderBy("_prio")
        deduped = (merged
                   .withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") == 1)
                   .drop("_rn", "_prio"))
        # one shuffle keyed on the partition column before the
        # partitioned write: the dedup window left the frame
        # hash-partitioned on key_col, so every task would otherwise
        # open a writer per month it sees (tasks × months tiny files —
        # the classic partitioned-write small-files bug)
        phase("merge write")
        (deduped.repartition(partition_col).write.mode("overwrite")
         .partitionBy(partition_col).format("parquet").save(path))


def delete_by_key(spark: SparkSession, doomed_ids: DataFrame, path: str,
                  key_col: str = "id",
                  partition_col: str = "month") -> int:
    """Keyed delete — the inverse of :func:`upsert_by_key`: rewrite
    only the partitions that contain doomed keys, without those rows.
    Returns the number of rows removed.

    Dynamic partition overwrite only replaces partitions PRESENT in
    the written frame, so a partition whose every row is doomed would
    silently survive — those directories are removed explicitly after
    the write. Touched partitions are identified by the FILES the
    victim rows live in (``input_file_name``), not by re-rendering the
    partition value into a path: null keys land in
    ``__HIVE_DEFAULT_PARTITION__`` and special characters are
    Hive-escaped in directory names, and a ``str(value)`` rendering
    matches neither. (Locally; a production deployment routes deletes
    through a table format's MERGE/DELETE for snapshot isolation, same
    note as the upsert's read-overwrite caveat.)"""
    if not storage.exists(spark, path):
        return 0
    with checkpoint_scope(spark):
        existing = spark.read.parquet(path)
        doomed = doomed_ids.select(key_col).distinct() \
            .localCheckpoint(eager=True)  # ids must outlive the rewrite
        victims = (existing.withColumn("__file", F.input_file_name())
                   .join(doomed, key_col, "left_semi"))
        stats = victims.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set(F.regexp_replace("__file", "/[^/]*$", ""))
            .alias("dirs")).collect()[0]
        n = stats["n"]
        if not n:
            return 0
        dir_expr = F.regexp_replace(F.input_file_name(), "/[^/]*$", "")
        keep = (existing.withColumn("__dir", dir_expr)
                .where(F.col("__dir").isin(list(stats["dirs"])))
                .drop("__dir")
                .join(doomed, key_col, "left_anti")
                .localCheckpoint(eager=True))  # reads files the write replaces
        # snapshot the touched dirs' file sets: after the dynamic
        # overwrite, a dir whose listing is unchanged was not rewritten
        # (overwrite always mints new part-file names) — its every row
        # was doomed, so the directory itself goes
        listing_before = {d: storage.children(spark, d) for d in
                          map(storage.from_file_uri, stats["dirs"])}
        with scoped_conf(spark, _OVERWRITE_MODE, "dynamic"):
            (keep.repartition(partition_col).write.mode("overwrite")
             .partitionBy(partition_col).format("parquet").save(path))
        for d, files in listing_before.items():
            if files and storage.children(spark, d) == files:
                storage.delete(spark, d)
        return n
