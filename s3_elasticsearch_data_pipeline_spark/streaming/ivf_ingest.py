"""Streaming vector-index ingest (the ANN twin of
``streaming/lsh_ingest.py``): keep a persisted IVF index current as
embedding batches arrive, with effectively-once epoch semantics.

The batch operators show the shape once (``similarity.build_ivf_index``
trains + bulk-loads, ``similarity.ivf_index_append`` adds a batch
against the persisted centroids). This module runs that loop
continuously on the drain loop (``streaming.epochs``):

- the FIRST non-empty micro-batch trains the coarse centroids
  (deterministic k-means, so a replayed bootstrap epoch rewrites
  byte-identical centroids); every later batch assigns against the
  PERSISTED centroids — FAISS's add-after-train contract, streamed;
- each epoch's vectors land under
  ``{index}/cells/epoch=<id>/cell=<c>/`` with per-epoch overwrite
  (the loop's replay rule). The probe
  (``similarity.ivf_probe_topk``) reads the two-level hive layout
  unchanged: the ``cell`` partition column still prunes at the
  directory level, ``epoch`` is just along for the ride
  (probe-equivalence with the batch-built index is tested).

Centroid drift remains a REBUILD decision (collapse epochs through
``build_ivf_index`` offline), exactly like the batch contract;
``maintenance.compact_partitions`` can heal per-epoch small files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
    _load_quantizer, _train_quantizer, _write_centroid_tables)
from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
    _assign_and_write, _guard_cell_layout)
from s3_elasticsearch_data_pipeline_spark.streaming.epochs import (
    _read_optional_parquet, drain)


def ivf_ingest_stream(spark: SparkSession, source_path: str,
                      index_path: str, checkpoint_path: str,
                      n_cells: int = 16, iters: int = 2,
                      schema=None, fault_hook=None) -> None:
    """Drain all new embedding files into the persisted IVF index
    (``streaming.epochs.drain``: call repeatedly; each call processes
    exactly the files that arrived since the last call).

    ``fault_hook(stage, epoch_id)``: called after the
    ``"after_centroids_write"`` (bootstrap epoch only) and
    ``"after_cells_write"`` stages."""
    fault = fault_hook or (lambda stage, epoch_id: None)
    _guard_cell_layout(spark, index_path, "ivf_ingest_stream", "cell=")

    def handle(batch_df: DataFrame, epoch_id: int, phase) -> None:
        sess = batch_df.sparkSession
        # None only before the bootstrap epoch: an unreadable centroid
        # table raises instead of silently retraining and orphaning
        # the cells already assigned under the old centroids
        q = _load_quantizer(sess, index_path)
        if q is None:
            # bootstrap: train on this batch. Deterministic training
            # (flat k-means, or the two-level quantizer past the
            # n_cells gate — hash-sampled, partition-invariant) ⇒ a
            # replay of this epoch rewrites identical tables, so the
            # overwrite is idempotent.
            phase("train")
            q = _train_quantizer(batch_df, n_cells, iters)
            phase("centroids write")
            _write_centroid_tables(sess, index_path, q)
            fault("after_centroids_write", epoch_id)
        # hive discovery reads cells/epoch=<id>/cell=<c> as two
        # partition columns, and the probe's cell filter prunes
        # exactly as it does on the flat batch layout
        phase("cells write")
        _assign_and_write(
            batch_df, q,
            f"{index_path}/cells/epoch={epoch_id}",
            "overwrite")
        fault("after_cells_write", epoch_id)

    drain(spark, "ivf_ingest", source_path, checkpoint_path, handle,
          schema=schema)


def read_index_cells(spark: SparkSession, index_path: str):
    """All indexed vectors across epochs (hive layout
    ``cells/epoch=<id>/cell=<c>``), or None before bootstrap."""
    return _read_optional_parquet(spark, index_path + "/cells")
