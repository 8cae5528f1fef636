"""Streaming variant of the incremental load (SURVEY.md §7 M3).

The reference's incrementality is a hand-rolled batch diff: compare
sink months vs source months, move the delta, and hope late rows get
caught by the reconciliation pass (``data-s3-elastic-transfer.py:
281-291``). Structured Streaming's file source subsumes all of it:

- the checkpoint's file log IS the "what have I loaded" state — no
  sink-state scan, no month diff, no late-data blind spot (a late file
  in an old month is simply a new file → processed exactly once);
- ``Trigger.AvailableNow`` gives run-to-completion batch semantics
  with streaming bookkeeping — the modern replacement for the
  reference's whole lifecycle A;
- a keyed idempotent upsert per epoch keeps the sink contract (S10)
  identical to the batch path.

Both loaders run on the drain loop (``streaming.epochs``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from s3_elasticsearch_data_pipeline_spark.sinks import es_wire
from s3_elasticsearch_data_pipeline_spark.sinks.keyed import upsert_by_key
from s3_elasticsearch_data_pipeline_spark.streaming.epochs import drain


def incremental_stream_load(spark: SparkSession, source_path: str,
                            sink_path: str, checkpoint_path: str,
                            key_col: str = "id",
                            partition_col: str = "month") -> None:
    """Exactly-once incremental load: new files under ``source_path``
    (hive-partitioned parquet) are upserted into the serving table;
    already-seen files are skipped via the checkpoint file log.

    Run repeatedly — each call processes exactly the files that arrived
    since the last call, then returns (AvailableNow drains and stops).
    """
    def write_batch(batch_df, _epoch_id: int, phase) -> None:
        phase("upsert")
        upsert_by_key(batch_df.sparkSession, batch_df, sink_path,
                      key_col=key_col, partition_col=partition_col)

    drain(spark, "incremental_stream_load", source_path,
          checkpoint_path, write_batch)


def incremental_stream_to_es(spark: SparkSession, source_path: str,
                             url: str, index: str, checkpoint_path: str,
                             id_col: str = "id",
                             fail_on_error: bool = True,
                             **wire_kwargs) -> list[es_wire.BulkReport]:
    """The reference's ACTUAL lifecycle, streaming-native: new files →
    executor-parallel ES ``_bulk`` wire writes (``sinks.es_wire``).

    Delivery: the checkpoint file log gives at-least-once per file;
    keyed ``_id = doc[id_col]`` makes replays idempotent server-side —
    effectively-once observable index state, the same contract the
    reference gets from re-indexing by id (``ID-based-transfer.py:
    198-223``) but without the driver funnel. Returns one
    :class:`~..sinks.es_wire.BulkReport` per non-empty micro-batch.
    """
    reports: list[es_wire.BulkReport] = []

    def write_batch(batch_df, _epoch_id: int, phase) -> None:
        phase("bulk write")
        rep = es_wire.write_df(batch_df, url, index,
                               id_col=id_col, **wire_kwargs)
        reports.append(rep)
        # a failed bulk batch must FAIL the epoch — returning normally
        # would commit the checkpoint and the files would never be
        # retried (silent permanent loss). Raising aborts the commit,
        # so the next run re-processes exactly these files; keyed _id
        # makes the replay of any partially-landed rows idempotent.
        if fail_on_error and rep.batches_failed:
            raise RuntimeError(
                f"bulk write failed: {rep.batches_failed}/{rep.batches} "
                f"batches, {rep.rows_failed} rows; samples: "
                f"{rep.error_samples}")

    drain(spark, "incremental_stream_to_es", source_path,
          checkpoint_path, write_batch)
    return reports
