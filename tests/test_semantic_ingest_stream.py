"""Streaming semantic dedup-at-ingest (streaming/semantic_ingest.py):
cross-batch cosine rejection against the persisted cell store,
deterministic in-batch admission, idempotent re-runs, and
crash-window replay healing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.streaming.semantic_ingest import (
    read_corpus, semantic_ingest_stream)
from tests.conftest import spelled


def _embs(spark, sf_smoke):
    return (spark.read.parquet(os.path.join(sf_smoke,
                                            "embeddings.parquet"))
            .select("vec_id", "embedding"))


def test_cross_batch_copies_rejected_and_rerun_noop(spark, sf_smoke,
                                                    tmp_path):
    src = str(tmp_path / "src")
    corpus, index = str(tmp_path / "c"), str(tmp_path / "i")
    ckpt = str(tmp_path / "k")
    base = _embs(spark, sf_smoke).where(F.col("vec_id") < 120)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    base.write.parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    first = {r["vec_id"] for r in
             read_corpus(spark, corpus).select("vec_id").collect()}
    # in-batch natural near-dups may drop a few; admission is a
    # non-empty subset
    assert first and first <= base_ids

    # second drop: EXACT copies of every base vector under shifted ids
    # (cosine 1.0 — each must collide with its admitted original or
    # whatever its original collided with) plus genuinely new vectors
    dups = base.withColumn("vec_id", F.col("vec_id") + 500_000)
    fresh = _embs(spark, sf_smoke).where(
        (F.col("vec_id") >= 120) & (F.col("vec_id") < 160))
    fresh_ids = {r["vec_id"] for r in fresh.select("vec_id").collect()}
    dups.unionByName(fresh).write.mode("append").parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    ids = {r["vec_id"] for r in
           read_corpus(spark, corpus).select("vec_id").collect()}
    assert not any(i >= 500_000 for i in ids), \
        "exact copies of admitted vectors must be rejected"
    assert ids >= first, "prior admissions must be retained"
    assert ids - first <= fresh_ids
    assert ids & fresh_ids, "novel vectors must be admitted"

    # a third run with no new files changes nothing
    before = sorted(ids)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    after = sorted(r["vec_id"] for r in
                   read_corpus(spark, corpus).select("vec_id").collect())
    assert after == before


def test_in_batch_lower_id_wins(spark, sf_smoke, tmp_path):
    src = str(tmp_path / "src")
    base = _embs(spark, sf_smoke).where(F.col("vec_id") < 30)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    both = base.unionByName(
        base.withColumn("vec_id", F.col("vec_id") + 700_000))
    both.write.parquet(src)
    semantic_ingest_stream(spark, src, str(tmp_path / "c"),
                           str(tmp_path / "i"), str(tmp_path / "k"))
    ids = {r["vec_id"] for r in
           read_corpus(spark, str(tmp_path / "c"))
           .select("vec_id").collect()}
    assert ids and ids <= base_ids, \
        "shifted exact twins must always lose to their lower id"


def test_crash_between_write_and_commit_heals_on_replay(
        spark, sf_smoke, tmp_path):
    """Kill the loop in each torn window (after corpus write, after
    index write, before checkpoint commit): the rerun must rewrite the
    same epoch in place — no duplicate corpus rows, no duplicate index
    rows, same final admissions as an uninterrupted run."""
    import pytest

    base = _embs(spark, sf_smoke).where(F.col("vec_id") < 80)
    for stage in ("after_corpus_write", "after_index_write"):
        src = str(tmp_path / f"src_{stage}")
        corpus = str(tmp_path / f"c_{stage}")
        index = str(tmp_path / f"i_{stage}")
        ckpt = str(tmp_path / f"k_{stage}")
        base.write.parquet(src)

        def bomb(st, epoch_id, _stage=stage):
            if st == _stage:
                raise RuntimeError(f"injected crash at {_stage}")

        from pyspark.errors import StreamingQueryException
        with pytest.raises((RuntimeError, StreamingQueryException)):
            semantic_ingest_stream(spark, src, corpus, index, ckpt,
                                   fault_hook=bomb)
        # replay without the bomb: heals, no duplicates
        semantic_ingest_stream(spark, src, corpus, index, ckpt)
        got = read_corpus(spark, corpus)
        ids = [r["vec_id"] for r in got.select("vec_id").collect()]
        assert len(ids) == len(set(ids)), "replay must not duplicate"

        # control run (never crashed) must agree exactly
        src2, c2 = str(tmp_path / f"s2_{stage}"), str(tmp_path / f"c2_{stage}")
        base.write.parquet(src2)
        semantic_ingest_stream(spark, src2, c2,
                               str(tmp_path / f"i2_{stage}"),
                               str(tmp_path / f"k2_{stage}"))
        want = sorted(r["vec_id"] for r in
                      read_corpus(spark, c2).select("vec_id").collect())
        assert sorted(ids) == want


def test_all_null_first_batch_does_not_poison_bootstrap(spark, sf_smoke,
                                                        tmp_path):
    """A first drop of all-null embeddings must be admitted whole
    WITHOUT writing (empty) centroids; the next informative drop
    bootstraps normally and dedups against itself."""
    src = str(tmp_path / "src")
    corpus, index = str(tmp_path / "c"), str(tmp_path / "i")
    ckpt = str(tmp_path / "k")
    nulls = spark.createDataFrame(
        [(900_001, None), (900_002, None)],
        "vec_id long, embedding array<double>")
    nulls.write.parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    assert not os.path.exists(os.path.join(index, "centroids")), \
        "untrainable batch must not write centroids"
    got = {r["vec_id"] for r in
           read_corpus(spark, corpus).select("vec_id").collect()}
    assert got == {900_001, 900_002}

    base = _embs(spark, sf_smoke).where(F.col("vec_id") < 40)
    both = base.unionByName(
        base.withColumn("vec_id", F.col("vec_id") + 800_000))
    both.write.mode("append").parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    assert os.path.exists(os.path.join(index, "centroids"))
    ids = {r["vec_id"] for r in
           read_corpus(spark, corpus).select("vec_id").collect()}
    assert {900_001, 900_002} <= ids
    assert not any(800_000 <= i < 900_000 for i in ids), \
        "in-batch exact twins must still dedup after late bootstrap"


def test_bootstrap_centroids_identical_to_flat_trainer(spark, sf_smoke,
                                                       tmp_path):
    """r9 routed the bootstrap through the SHARED quantizer trainer
    (quantizer._train_quantizer). Below the 64-cell two-level gate
    that must be byte-identical to the pre-r9 path (_kmeans_centroids
    on the probeable batch) — the persisted centroid table proves it,
    and the DuckDB twin's unrolled-k-means replay stays valid."""
    import numpy as np

    from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
        _kmeans_centroids)
    src = str(tmp_path / "src")
    corpus, index = str(tmp_path / "c"), str(tmp_path / "i")
    base = _embs(spark, sf_smoke).where(F.col("vec_id") < 100)
    base.write.parquet(src)
    semantic_ingest_stream(spark, src, corpus, index,
                           str(tmp_path / "k"))
    got = np.array([list(r["centroid"]) for r in
                    spark.read.parquet(index + "/centroids")
                    .orderBy("cell").collect()])
    want = _kmeans_centroids(
        base.where(F.col("embedding").isNotNull()
                   & F.forall("embedding", lambda x: x.isNotNull())),
        8, 2)
    np.testing.assert_array_equal(got, want)


def test_rebuild_semantic_index_on_drifted_corpus(spark, sf_smoke,
                                                  tmp_path):
    """The documented centroid-drift maintenance op: after several
    epochs the bootstrap centroids describe only the first batch;
    rebuild retrains on the CURRENT corpus, collapses the per-epoch
    cell store to one partition, and later ingest epochs keep working
    against the rebuilt index (same dedup contract)."""
    import numpy as np

    from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
        _kmeans_centroids)
    from s3_elasticsearch_data_pipeline_spark.streaming.semantic_ingest \
        import rebuild_semantic_index
    src = str(tmp_path / "src")
    corpus, index = str(tmp_path / "c"), str(tmp_path / "i")
    ckpt = str(tmp_path / "k")
    # epoch 0: a SKEWED bootstrap slice (low ids), epoch 1: the drift
    first = _embs(spark, sf_smoke).where(F.col("vec_id") < 60)
    first.write.parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    boot = np.array([list(r["centroid"]) for r in
                     spark.read.parquet(index + "/centroids")
                     .orderBy("cell").collect()])
    drift = _embs(spark, sf_smoke).where(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 420))
    drift.write.mode("append").parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    admitted = read_corpus(spark, corpus)
    n_admitted = admitted.count()
    epochs_before = {r["epoch"] for r in
                     spark.read.parquet(index + "/cells")
                     .select("epoch").distinct().collect()}
    assert len(epochs_before) == 2

    n_rows = rebuild_semantic_index(spark, corpus, index)
    # centroids retrained on the WHOLE admitted corpus (drifted away
    # from the bootstrap), deterministic = the batch trainer's output
    rebuilt = np.array([list(r["centroid"]) for r in
                        spark.read.parquet(index + "/centroids")
                        .orderBy("cell").collect()])
    want = _kmeans_centroids(
        admitted.where(F.col("embedding").isNotNull()
                       & F.forall("embedding", lambda x: x.isNotNull()))
        .select("vec_id", "embedding"), 8, 2)
    np.testing.assert_array_equal(rebuilt, want)
    assert not np.array_equal(rebuilt, boot), \
        "a drifted corpus must move the centroids"
    # cell store collapsed to the single rebuild epoch, row count
    # = n_assign x usable corpus (all fixture embeddings are non-null)
    cells = spark.read.parquet(index + "/cells")
    assert {r["epoch"] for r in
            cells.select("epoch").distinct().collect()} == {-1}
    assert n_rows == cells.count() == 2 * n_admitted
    # idempotent: re-running converges to the same state
    again = rebuild_semantic_index(spark, corpus, index)
    assert again == n_rows
    # the stream keeps working against the rebuilt index: exact
    # copies of admitted vectors are still rejected
    dups = admitted.select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding")
    dups.write.mode("append").parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, ckpt)
    ids = {r["vec_id"] for r in
           read_corpus(spark, corpus).select("vec_id").collect()}
    assert not any(i >= 900_000 for i in ids)
    # and the rebuilt cells survive alongside the new epoch
    assert {r["epoch"] for r in
            spark.read.parquet(index + "/cells")
            .select("epoch").distinct().collect()} >= {-1}


def test_rebuild_crash_window_reads_untrained_and_heals(spark, sf_smoke,
                                                        tmp_path,
                                                        spelling="bare"):
    """The rebuild's commit-marker discipline: simulate a crash AFTER
    the cell-store swap but BEFORE the centroid write (the torn
    window) — the index must read as untrained (never old centroids
    over new cells), and re-running the rebuild must converge to the
    same final state as an uncrashed run."""
    import os as _os
    import shutil

    from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
        _load_quantizer)
    from s3_elasticsearch_data_pipeline_spark.streaming.semantic_ingest \
        import rebuild_semantic_index
    root = spelled(tmp_path, spelling)
    src, corpus, index = root + "/src", root + "/c", root + "/i"
    _embs(spark, sf_smoke).where(F.col("vec_id") < 150).write.parquet(src)
    semantic_ingest_stream(spark, src, corpus, index, root + "/k")
    # uncrashed rebuild = the reference final state
    n_ref = rebuild_semantic_index(spark, corpus, index)
    ref_cents = sorted(map(tuple, (
        (r["cell"], tuple(r["centroid"])) for r in
        spark.read.parquet(index + "/centroids").collect())))
    # simulate the torn window: marker off + cells already swapped
    shutil.rmtree(tmp_path / "i" / "centroids")
    assert _load_quantizer(spark, index) is None, \
        "torn rebuild window must read as untrained"
    # an ingest racing the crashed rebuild must REFUSE to bootstrap
    # (bootstrapping would commit a mixed-generation index)
    import pytest
    _embs(spark, sf_smoke).where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 220)) \
        .write.mode("append").parquet(src)
    with pytest.raises(Exception, match="rebuild_semantic_index"):
        semantic_ingest_stream(spark, src, corpus, index, root + "/k")
    # heal by re-running (the documented recovery)
    n2 = rebuild_semantic_index(spark, corpus, index)
    assert n2 == n_ref
    got_cents = sorted(map(tuple, (
        (r["cell"], tuple(r["centroid"])) for r in
        spark.read.parquet(index + "/centroids").collect())))
    assert got_cents == ref_cents
    assert not _os.path.exists(tmp_path / "i" / "cells.rebuild")


def test_rebuild_crash_window_reads_untrained_and_heals_file_uri(
        spark, sf_smoke, tmp_path):
    test_rebuild_crash_window_reads_untrained_and_heals(
        spark, sf_smoke, tmp_path, "file_uri")
