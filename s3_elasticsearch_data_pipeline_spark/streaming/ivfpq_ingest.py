"""Streaming IVF-PQ ingest — the PQ-coded twin of
``streaming/ivf_ingest.py``: keep a persisted IVF-PQ index
(:func:`operators.similarity.build_ivfpq_index`'s layout — cells with
codes + raw vectors, centroid/codebook/meta parameter tables) current
as embedding batches arrive, with effectively-once epoch semantics.

Same contract as the IVF stream, on the same drain loop
(``streaming.epochs``):

- the FIRST non-empty micro-batch trains coarse centroids AND PQ
  codebooks (deterministic — a replayed bootstrap epoch rewrites
  byte-identical parameter tables, including the residual flag);
- every later batch assigns + encodes against the PERSISTED parameters
  through the SAME kernel the batch builder and ``ivfpq_index_append``
  use (no drift possible between streamed and batch-built indexes);
- each epoch lands under ``{index}/cells/epoch=<id>/cell=<c>/`` with
  per-epoch overwrite (the loop's replay rule).
  ``similarity.ivfpq_probe_topk`` reads the hive layout unchanged: the
  ``cell`` filter still prunes directories, ``epoch`` rides along.

Codebook/centroid drift remains a REBUILD decision (collapse epochs
through ``build_ivfpq_index`` offline), matching FAISS's
add-after-train contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
    _guard_cell_layout, _ivfpq_append_cells, _load_ivfpq_params,
    _train_ivfpq_params, _write_ivfpq_params)
from s3_elasticsearch_data_pipeline_spark.streaming.epochs import drain


def ivfpq_ingest_stream(spark: SparkSession, source_path: str,
                        index_path: str, checkpoint_path: str,
                        n_cells: int = 16, iters: int = 2, m: int = 8,
                        k_codes: int = 16, train_sample: int = 256,
                        pq_iters: int = 8, residual: bool = False,
                        schema=None, fault_hook=None) -> None:
    """Drain all new embedding files into the persisted IVF-PQ index
    (``streaming.epochs.drain``: call repeatedly; each call processes
    exactly the files that arrived since the last call). ``residual``
    applies at BOOTSTRAP only; later calls follow the index's persisted
    flag.

    ``fault_hook(stage, epoch_id)``: called after the
    ``"after_params_write"`` (bootstrap epoch only) and
    ``"after_cells_write"`` stages."""
    fault = fault_hook or (lambda stage, epoch_id: None)
    _guard_cell_layout(spark, index_path, "ivfpq_ingest_stream", "cell=")

    def handle(batch_df: DataFrame, epoch_id: int, phase) -> None:
        sess = batch_df.sparkSession
        params = _load_ivfpq_params(sess, index_path)
        if params is None:
            # bootstrap: train on this batch; deterministic training ⇒
            # a replay rewrites identical parameter tables
            phase("train")
            q, books = _train_ivfpq_params(
                batch_df, n_cells, iters, m, k_codes, train_sample,
                pq_iters, residual)
            phase("params write")
            _write_ivfpq_params(sess, index_path, q, books, residual)
            params = q, books, residual
            fault("after_params_write", epoch_id)
        phase("cells write")
        _ivfpq_append_cells(
            batch_df, *params,
            f"{index_path}/cells/epoch={epoch_id}",
            "overwrite")
        fault("after_cells_write", epoch_id)

    drain(spark, "ivfpq_ingest", source_path, checkpoint_path, handle,
          schema=schema)
