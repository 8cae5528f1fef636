"""Keyed idempotent serving-table sink (SURVEY.md S10).

The reference's serving store is an Elasticsearch index written with
``_id = doc["id"]`` so re-indexing a document is an upsert
(``ID-based-transfer.py:198-223``). Without a live ES, the observable
semantics — "writes are idempotent by key; last write wins" — are
reproduced by a partitioned parquet table plus a merge-on-write:
union incoming rows with existing, keep one row per key (incoming
preferred), rewrite only the touched partitions.

:func:`upsert_by_key` merges with one of two plans. The choice is the
one driver fetch it makes: a ``limit(cap+1)`` one-task Arrow collect
of the delta's (key, partition) pairs (:func:`offload.fetch` against
``offload.MAX_UPSERT_DRIVER_ROWS`` and ``offload.MAX_UPSERT_DRIVER_BYTES``,
logged as a decision event at site ``keyed.upsert_by_key``).

- **keyed merge** (a serving-sized delta): the MERGE INTO pattern of
  Delta Lake, anti-join + union. The collected pairs name the touched
  partitions and tell whether a key repeats. The existing rows of the
  touched partitions (a literal partition filter, pruned statically)
  lose every row whose key the delta carries (a null-safe broadcast
  left-anti join against the delta's keys); the delta is deduplicated
  by key only when a key repeats. The merged rows never shuffle by
  key.
- **window merge** (over the caps): the union of the delta and the
  touched partitions' rows (a null-safe broadcast semi join against
  the delta's distinct partition values) keeps the first row per key
  by a ``row_number`` window that prefers the delta.

Either merge is written through :func:`offload.by_partition` (site
``keyed.upsert_write``): from one task when the merge's planned bytes
(the delta plus every file of the sink) fit
``offload.MAX_ONE_TASK_WRITE_BYTES``, else after one shuffle by
partition column. A delta Spark cannot size (built from a Python list)
takes the shuffle. :func:`delete_by_key` writes the same way (site
``keyed.delete_write``).

Both rewrite only the touched partitions (dynamic partition
overwrite), so the rewrite is proportional to the delta's partitions,
not the table. Neither looks outside them: a key that moves to a new
partition leaves its old row behind when the old partition is not
touched. With a Delta/Iceberg jar on the classpath the same call maps
to a real ``MERGE``.

Note on read-overwrite: the merge plan reads the serving table while
dynamically overwriting its touched partitions. Locally this is safe
(reads complete before the commit swaps files); on an object store a
production deployment should route through a table format (Delta/
Iceberg MERGE) or a staging-dir + rename for snapshot isolation —
callers must also not re-execute plans derived from the pre-upsert
sink afterwards.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from s3_elasticsearch_data_pipeline_spark import offload, storage
from s3_elasticsearch_data_pipeline_spark.session import (
    checkpoint_scope, job_phases, scoped_conf)

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
_PARTITION_TYPE_INFERENCE = \
    "spark.sql.sources.partitionColumnTypeInference.enabled"

def upsert_by_key(spark: SparkSession, incoming: DataFrame, path: str,
                  key_col: str = "id", partition_col: str = "month") -> None:
    """Idempotent keyed write: one row per key survives, incoming wins.

    Only partitions present in ``incoming`` are rewritten (dynamic
    partition overwrite), so cost scales with the delta, not the table.
    A serving-sized delta takes the keyed merge, a larger one the
    window merge (module docstring); both match partitions and keys
    null-safely, and both read the sink with the partition column typed
    as in ``incoming``, so a value such as ``"01"`` is rewritten in
    place, not beside itself as ``1``. The overwrite-mode override is
    scoped to this call. Jobs are described ``upsert_by_key: <phase>``
    (``delta facts``, ``sink read``, ``merge write``).
    """
    with job_phases(spark, "upsert_by_key") as phase, \
            scoped_conf(spark, _OVERWRITE_MODE, "dynamic"):
        phase("delta facts")
        facts = _delta_facts(incoming, key_col, partition_col)
        existing = None
        if storage.exists(spark, path):
            phase("sink read")
            existing = _read_sink(spark, path,
                                  incoming.schema[partition_col])
        if facts is None:
            merged = _window_merge(incoming, existing, key_col,
                                   partition_col)
        else:
            merged = _keyed_merge(incoming, existing, *facts, key_col,
                                  partition_col)
        phase("merge write")
        (offload.by_partition(merged, "keyed.upsert_write", partition_col)
         .write.mode("overwrite")
         .partitionBy(partition_col).format("parquet").save(path))


def _delta_facts(incoming: DataFrame, key_col: str, partition_col: str):
    """``(touched partition values, whether a key repeats)`` of a
    serving-sized delta, from one ``limit(cap+1)`` one-task Arrow
    collect of its (key, partition) pairs; None over the caps. (Arrow,
    not Rows: 50 k pairs collect in about 0.06 s against 0.15 s.)"""
    pairs, _ = offload.fetch(
        incoming.select(key_col, partition_col), "keyed.upsert_by_key",
        offload.MAX_UPSERT_DRIVER_ROWS, offload.MAX_UPSERT_DRIVER_BYTES,
        _one_task=True)
    if pairs is None:
        return None
    n = pairs.num_rows
    keys, parts = pairs.columns
    return (set(parts.unique().to_pylist()),
            pc.count_distinct(keys, mode="all").as_py() < n)


def _read_sink(spark: SparkSession, path: str,
               partition: StructField | None = None) -> DataFrame:
    """The sink's rows with the partition column typed as ``partition``:
    its values read as written (strings), then cast; None keeps the
    strings. Left to inference, a partition directory ``month=01``
    would read back as the int 1 and be rewritten as ``month=1``. (A
    second read with a user schema would list the sink's files
    again.)"""
    with scoped_conf(spark, _PARTITION_TYPE_INFERENCE, "false"):
        existing = spark.read.parquet(path)
    if partition is None:
        return existing
    return existing.withColumn(
        partition.name, F.col(partition.name).cast(partition.dataType))


def _keyed_merge(incoming: DataFrame, existing: DataFrame | None,
                 touched: set, key_repeats: bool, key_col: str,
                 partition_col: str) -> DataFrame:
    keys = incoming.select(F.col(key_col).alias("_key"))
    if key_repeats:
        incoming = incoming.dropDuplicates([key_col])
    if existing is None:
        return incoming
    values = [v for v in touched if v is not None]
    in_touched = F.col(partition_col).isin(values)
    if None in touched:
        in_touched = in_touched | F.col(partition_col).isNull()
    kept = existing.where(in_touched).join(
        F.broadcast(keys), F.col(key_col).eqNullSafe(F.col("_key")),
        "left_anti")
    return incoming.unionByName(kept)


def _window_merge(incoming: DataFrame, existing: DataFrame | None,
                  key_col: str, partition_col: str) -> DataFrame:
    merged = incoming.withColumn("_prio", F.lit(0))
    if existing is not None:
        touched = incoming.select(
            F.col(partition_col).alias("_part")).distinct()
        kept = existing.join(
            F.broadcast(touched),
            F.col(partition_col).eqNullSafe(F.col("_part")), "left_semi")
        merged = merged.unionByName(kept.withColumn("_prio", F.lit(1)))
    w = Window.partitionBy(key_col).orderBy("_prio")
    return (merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn", "_prio"))


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
        existing = _read_sink(spark, path)
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
            (offload.by_partition(keep, "keyed.delete_write", partition_col)
             .write.mode("overwrite")
             .partitionBy(partition_col).format("parquet").save(path))
        for d, files in listing_before.items():
            if files and storage.children(spark, d) == files:
                storage.delete(spark, d)
        return n
