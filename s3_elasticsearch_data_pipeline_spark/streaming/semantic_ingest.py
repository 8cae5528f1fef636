"""Streaming semantic dedup-at-ingest — the EMBEDDING twin of
``streaming/lsh_ingest.py``, completing the streamed dedup family
(exact/MinHash text dedup there; cosine near-dup here) and the
batch/streaming symmetry with ``operators.dedup
.incremental_semantic_dedup``.

Loop shape (the drain loop, ``streaming.epochs``):

- the FIRST non-empty micro-batch trains the coarse blocking cells
  (deterministic k-means — a replayed bootstrap epoch rewrites
  byte-identical centroids); every later batch assigns against the
  PERSISTED centroids — add-after-train, like the IVF ingest;
- each batch is multi-assigned to its ``n_assign`` nearest cells and
  probed per cell against (a) the persisted cell store of all PRIOR
  epochs and (b) lower-``vec_id`` vectors of the same batch
  (deterministic greedy admission, exactly the lsh_ingest rule);
  round-6 cosine ≥ ``threshold`` drops the vector;
- survivors append to the corpus sink and their (vec_id, cell, vec)
  rows append to the cell store, both under ``epoch=<id>`` (the
  loop's replay rule).

Scale shape: the probe cogroups on the compact cell key — candidates
only where cells collide, never batch × corpus; the cell store is
n_assign×docs rows (what a 100 TB semantic-dedup pipeline persists
anyway); per-epoch appends are small files
``maintenance.compact_partitions`` can heal offline. Cell-count
resizing is a REBUILD decision (offline, through the batch operator),
the same contract as the IVF ingest's centroid drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import storage
from s3_elasticsearch_data_pipeline_spark.operators.dedup import (
    _PAIR_SCHEMA, _blocked_cross_kernel, _blocked_pair_kernel)
from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
    _load_quantizer, _quantizer_cells_fn, _train_quantizer,
    _write_centroid_tables)
from s3_elasticsearch_data_pipeline_spark.streaming.epochs import (
    _read_optional_parquet, drain, read_corpus)

_CELL_SCHEMA = "vec_id long, cell int, vec array<double>"


def semantic_ingest_stream(spark: SparkSession, source_path: str,
                           corpus_path: str, index_path: str,
                           checkpoint_path: str,
                           threshold: float = 0.4,
                           n_cells: int = 8, n_assign: int = 2,
                           iters: int = 2, schema=None,
                           fault_hook=None) -> None:
    """Drain all new embedding files through the semantic dedup-at-
    ingest loop (``streaming.epochs.drain``: run repeatedly; each call
    processes exactly the files that arrived since the last call).

    Admission rule (deterministic): a vector is DROPPED when its
    round-6 cosine against any already-admitted vector sharing a
    blocking cell, or any lower-``vec_id`` vector of the same
    micro-batch sharing a cell, reaches ``threshold``; otherwise it is
    admitted and immediately becomes part of the cell store later
    arrivals probe. Null embeddings are admitted unprobed (no cosine
    is defined for them; a production pipeline filters them upstream).

    ``fault_hook(stage, epoch_id)``: called after the
    ``"after_centroids_write"`` (bootstrap epoch only),
    ``"after_corpus_write"`` and ``"after_index_write"`` stages."""
    fault = fault_hook or (lambda stage, epoch_id: None)

    def handle(batch_df: DataFrame, epoch_id: int, phase) -> None:
        sess = batch_df.sparkSession
        probe_src = batch_df.where(
            F.col("embedding").isNotNull()
            & F.forall("embedding", lambda x: x.isNotNull()))
        if probe_src.select("vec_id").first() is None:
            # nothing trainable/probable in this batch (all-null
            # embeddings): admit it whole and leave the index
            # untrained/unchanged — a later informative batch still
            # bootstraps (writing EMPTY centroids here would poison
            # every later epoch's probe)
            phase("corpus write")
            (batch_df.write.mode("overwrite")
             .parquet(f"{corpus_path}/epoch={epoch_id}"))
            fault("after_corpus_write", epoch_id)
            return
        q = _load_quantizer(sess, index_path)
        if q is None:
            # The ingest always writes centroids BEFORE any cells and
            # never deletes them; only a crashed rebuild_semantic_index
            # (which deletes the commit marker first) can leave a cell
            # store with no centroid table. Bootstrapping over that
            # state would silently commit a mixed-generation index —
            # this batch's centroids probing cells assigned under the
            # rebuild's never-committed quantizer, missing near-dups
            # forever — so refuse and demand the documented recovery.
            if storage.children(sess, f"{index_path}/cells"):
                raise ValueError(
                    "semantic index at %r has a cell store but no "
                    "centroid table — a rebuild_semantic_index crashed "
                    "mid-commit; re-run the rebuild before ingesting"
                    % (index_path,))
            # bootstrap: train on this batch through the SHARED
            # quantizer trainer (deterministic k-means below the
            # 64-cell two-level gate — a replayed epoch rewrites
            # byte-identical centroids; two-level above it, same as
            # every other coarse-training site)
            phase("train")
            q = _train_quantizer(probe_src, n_cells, iters)
            phase("centroids write")
            _write_centroid_tables(sess, index_path, q)
            fault("after_centroids_write", epoch_id)
        phase("probe build")
        probe = (probe_src.select("vec_id", "embedding")
                 .mapInPandas(_quantizer_cells_fn(q, n_assign,
                                                  carry_vec=True),
                              _CELL_SCHEMA)
                 .localCheckpoint(eager=True))
        # vs prior epochs' cell store (EXCLUDING any half-written copy
        # of this very epoch — replay must see what the failed attempt
        # saw)
        prior = _read_optional_parquet(sess, index_path + "/cells")
        matched = None
        if prior is not None:
            matched = (probe.groupby("cell")
                       .cogroup(prior.where(F.col("epoch") != epoch_id)
                                .select("vec_id", "cell", "vec")
                                .groupby("cell"))
                       .applyInPandas(_blocked_cross_kernel(threshold),
                                      "vec_id long")
                       .distinct())
        # vs lower-id vectors of the SAME batch (deterministic greedy)
        in_batch = (probe.groupby("cell")
                    .applyInPandas(_blocked_pair_kernel(threshold),
                                   _PAIR_SCHEMA)
                    .select(F.col("vec_id_b").alias("vec_id"))
                    .distinct())
        dropped = (in_batch if matched is None
                   else matched.unionByName(in_batch).distinct())
        survivors = batch_df.join(dropped, "vec_id", "left_anti")
        phase("corpus write")
        (survivors.write.mode("overwrite")
         .parquet(f"{corpus_path}/epoch={epoch_id}"))
        fault("after_corpus_write", epoch_id)
        phase("index write")
        (probe.join(dropped, "vec_id", "left_anti")
         .write.mode("overwrite")
         .parquet(f"{index_path}/cells/epoch={epoch_id}"))
        fault("after_index_write", epoch_id)

    drain(spark, "semantic_ingest", source_path, checkpoint_path, handle,
          schema=schema)


def rebuild_semantic_index(spark: SparkSession, corpus_path: str,
                           index_path: str, n_cells: int = 8,
                           n_assign: int = 2, iters: int = 2) -> int:
    """OFFLINE maintenance: the documented centroid-drift rebuild
    decision for the semantic dedup-at-ingest index. Epoch by epoch the
    streamed corpus drifts away from the bootstrap batch's centroids
    (they are trained once, on the FIRST batch, and never updated);
    when blocking recall degrades, this op collapses the epochs and
    retrains the quantizer on the CURRENT admitted corpus through the
    same shared trainer (flat below the 64-cell two-level gate,
    two-level above), then reassigns every corpus vector and rewrites
    the cell store as one ``epoch=-1`` partition (compacting the
    per-epoch small files as a side effect).

    Crash contract: idempotent, not transactional — the trainer and
    assignment are deterministic functions of the admitted corpus, so
    re-running after a crash at ANY point converges to the same final
    state. The centroid table is the COMMIT MARKER (same discipline
    as ``_write_centroid_tables``): it is deleted BEFORE the cell
    store is swapped and rewritten LAST, so no reader can ever see
    old centroids routing into new cells (the mixed-generation state
    that silently mis-probes); every crash window reads as UNTRAINED
    instead, and the documented recovery is re-running this op. Must
    not run concurrently with the ingest stream (same rule as
    ``maintenance.compact_partitions`` — an ingest racing a crashed
    rebuild would re-bootstrap on its own batch). Returns the number
    of cell rows written."""
    corpus = read_corpus(spark, corpus_path)
    if corpus is None:
        raise ValueError(
            "rebuild_semantic_index: no admitted corpus at %r"
            % (corpus_path,))
    probe_src = corpus.where(
        F.col("embedding").isNotNull()
        & F.forall("embedding", lambda x: x.isNotNull()))
    if probe_src.select("vec_id").first() is None:
        raise ValueError(
            "rebuild_semantic_index: corpus has no usable embeddings")
    q = _train_quantizer(probe_src, n_cells, iters)
    assigned = (probe_src.select("vec_id", "embedding")
                .mapInPandas(_quantizer_cells_fn(q, n_assign,
                                                 carry_vec=True),
                             _CELL_SCHEMA))
    # stage the new cell store, then: delete the commit marker ->
    # swap cells -> write the marker last. Every crash window reads
    # UNTRAINED (centroids absent), never old-centroids-over-new-cells.
    cells_dir, tmp_dir = f"{index_path}/cells", f"{index_path}/cells.rebuild"
    storage.delete(spark, tmp_dir)
    assigned.write.mode("overwrite").parquet(f"{tmp_dir}/epoch=-1")
    n_rows = spark.read.option("basePath", tmp_dir).parquet(tmp_dir).count()
    storage.delete(spark, f"{index_path}/centroids")  # commit marker off
    storage.delete(spark, f"{index_path}/supers")
    storage.rename(spark, tmp_dir, cells_dir)
    _write_centroid_tables(spark, index_path, q)      # commit marker on
    return n_rows
