"""Streaming IVF-PQ ingest: bootstrap-train (centroids + codebooks +
residual flag), add-after-train epochs through the shared assign+encode
kernel, effectively-once replay layout, probe-equivalence with the
batch build+append path, and mid-epoch crash recovery."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.operators import similarity
from s3_elasticsearch_data_pipeline_spark.streaming.ivfpq_ingest import (
    ivfpq_ingest_stream)
from s3_elasticsearch_data_pipeline_spark.tables import load_table
from tests.conftest import spelled


def _paths(root, name):
    base = f"{root}/{name}"
    return (os.path.join(base, "src"), os.path.join(base, "index"),
            os.path.join(base, "ckpt"))


def test_stream_ivfpq_matches_batch_build_plus_append(spark, sf_oracle,
                                                      tmp_path):
    """Two streamed drops (even ids, then odd ids) must serve the SAME
    top-k as build-on-even + append-odd: deterministic shared training
    on the same bootstrap set ⇒ identical parameters ⇒ identical codes
    and probes."""
    emb = (load_table(spark, sf_oracle, "embeddings")
           .select("vec_id", "embedding"))
    queries = emb.where(F.col("vec_id") < 10)
    src, index, ckpt = _paths(tmp_path, "stream")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(src)
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(src)
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)
    streamed = {(r.query_id, r.neighbor_id, r.sim, r.rank)
                for r in similarity.ivfpq_probe_topk(
                    spark, index, queries, k=10).collect()}

    batch_index = str(tmp_path / "batch")
    similarity.build_ivfpq_index(emb.where(F.col("vec_id") % 2 == 0),
                                 batch_index, n_cells=8)
    similarity.ivfpq_index_append(spark, batch_index,
                                  emb.where(F.col("vec_id") % 2 == 1))
    batch = {(r.query_id, r.neighbor_id, r.sim, r.rank)
             for r in similarity.ivfpq_probe_topk(
                 spark, batch_index, queries, k=10).collect()}
    assert streamed == batch
    # every vector indexed exactly once, codes present, epochs layered
    cells = spark.read.parquet(index + "/cells")
    assert cells.count() == emb.count()
    assert cells.select("vec_id").distinct().count() == emb.count()
    assert cells.select("epoch").distinct().count() >= 2
    assert cells.where(F.size("codes") == 8).count() == emb.count()


def test_stream_ivfpq_residual_bootstrap_and_rerun_noop(spark, sf_oracle,
                                                        tmp_path):
    """residual=True at bootstrap persists the flag; later drains follow
    the PERSISTED flag (even when called without it); draining with no
    new files changes nothing."""
    emb = (load_table(spark, sf_oracle, "embeddings")
           .select("vec_id", "embedding").where(F.col("vec_id") < 300))
    src, index, ckpt = _paths(tmp_path, "res")
    emb.where(F.col("vec_id") < 150).write.parquet(src)
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8,
                        residual=True)
    assert similarity._load_ivfpq_residual(spark, index) is True
    emb.where(F.col("vec_id") >= 150).write.mode("append").parquet(src)
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)  # no flag
    assert similarity._load_ivfpq_residual(spark, index) is True
    before = sorted(map(tuple, spark.read.parquet(index + "/cells")
                        .select("vec_id", "cell", "codes").collect()))
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)
    after = sorted(map(tuple, spark.read.parquet(index + "/cells")
                       .select("vec_id", "cell", "codes").collect()))
    assert before == after and len(before) == 300
    # residual semantics actually applied: probe serves sane top-k
    out = similarity.ivfpq_probe_topk(
        spark, index, emb.where(F.col("vec_id") < 3), k=5)
    assert out.count() == 15


@pytest.mark.parametrize("crash_stage", ["after_params_write",
                                         "after_cells_write"])
def test_stream_ivfpq_crash_mid_epoch_recovers(spark, sf_oracle,
                                               tmp_path, crash_stage):
    """A process kill in the torn window between a sink write and the
    checkpoint commit must heal on the next drain: the replayed epoch
    rewrites byte-identical parameters and per-epoch cell files —
    effectively-once, no duplicates, no drift vs an uncrashed run."""
    emb = (load_table(spark, sf_oracle, "embeddings")
           .select("vec_id", "embedding").where(F.col("vec_id") < 400))
    src, index, ckpt = _paths(tmp_path, "crash-" + crash_stage)
    emb.write.parquet(src)

    class Boom(RuntimeError):
        pass

    def hook(stage, epoch_id):
        if stage == crash_stage:
            raise Boom(stage)

    with pytest.raises(Exception):
        ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8,
                            fault_hook=hook)
    # recovery drain (no hook) replays the uncommitted epoch
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)
    cells = spark.read.parquet(index + "/cells")
    assert cells.count() == 400
    assert cells.select("vec_id").distinct().count() == 400
    # equivalent to an uncrashed stream of the same drop
    src2, index2, ckpt2 = _paths(tmp_path, "clean-" + crash_stage)
    emb.write.parquet(src2)
    ivfpq_ingest_stream(spark, src2, index2, ckpt2, n_cells=8)
    a = sorted(map(tuple, cells.select("vec_id", "cell",
                                       "codes").collect()))
    b = sorted(map(tuple, spark.read.parquet(index2 + "/cells")
                   .select("vec_id", "cell", "codes").collect()))
    assert a == b


def test_stream_ivfpq_torn_bootstrap_params_read_as_untrained(
        spark, sf_oracle, tmp_path):
    """The parameter-write crash contract: meta is written FIRST and
    codebooks LAST, so ANY torn prefix (crash mid-bootstrap between
    parameter writes) reads as untrained and the replay retrains —
    a residual=True bootstrap can never silently recover as
    residual=False with residual-trained codebooks."""
    import shutil

    emb = (load_table(spark, sf_oracle, "embeddings")
           .select("vec_id", "embedding").where(F.col("vec_id") < 200))
    src, index, ckpt = _paths(tmp_path, "torn")
    emb.write.parquet(src)

    def boom(stage, epoch_id):
        if stage == "after_params_write":
            raise RuntimeError(stage)

    with pytest.raises(Exception):
        ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8,
                            residual=True, fault_hook=boom)
    # simulate the torn prefix: params written, commit marker removed
    shutil.rmtree(index + "/codebooks")
    assert similarity._load_ivfpq_params(spark, index) is None, \
        "meta+centroids without codebooks must read as untrained"
    # recovery drain re-bootstraps (caller re-passes the flag) — the
    # healed index is residual and fully populated
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8,
                        residual=True)
    assert similarity._load_ivfpq_residual(spark, index) is True
    cells = spark.read.parquet(index + "/cells")
    assert cells.count() == 200
    assert cells.select("vec_id").distinct().count() == 200
    # torn META dir (exists, no parquet) must not crash the flag reader
    import os
    os.makedirs(str(tmp_path / "tornmeta" / "meta"))
    assert similarity._load_ivfpq_residual(
        spark, str(tmp_path / "tornmeta")) is False


def test_batch_append_onto_stream_layout_is_refused(spark, sf_oracle,
                                                    tmp_path,
                                                    spelling="bare"):
    """A stream-built index lays files as cells/epoch=K/cell=N; a batch
    append would write cells/cell=N next to them — parameter loading
    succeeds, so without the guard the append is silently accepted and
    every later probe read of {path}/cells dies on mixed partition
    depths. The guard must refuse BEFORE any write, leaving the index
    byte-identical and probes working."""
    emb = (load_table(spark, sf_oracle, "embeddings")
           .select("vec_id", "embedding"))
    queries = emb.where(F.col("vec_id") < 5)
    root = spelled(tmp_path, spelling)
    src, index, ckpt = _paths(root, "guard")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(src)
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)
    before = {(r.query_id, r.neighbor_id, r.sim, r.rank)
              for r in similarity.ivfpq_probe_topk(
                  spark, index, queries, k=5).collect()}
    with pytest.raises(ValueError, match="streaming ingest"):
        similarity.ivfpq_index_append(
            spark, index, emb.where(F.col("vec_id") % 2 == 1))
    # the cell store is untouched and still serves
    after = {(r.query_id, r.neighbor_id, r.sim, r.rank)
             for r in similarity.ivfpq_probe_topk(
                 spark, index, queries, k=5).collect()}
    assert after == before
    # same guard on the plain-IVF append (shared layout contract)
    from s3_elasticsearch_data_pipeline_spark.streaming.ivf_ingest import (
        ivf_ingest_stream)
    src2, index2, ckpt2 = _paths(root, "guard_ivf")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(src2)
    ivf_ingest_stream(spark, src2, index2, ckpt2, n_cells=8)
    with pytest.raises(ValueError, match="streaming ingest"):
        similarity.ivf_index_append(
            spark, index2, emb.where(F.col("vec_id") % 2 == 1))


def test_batch_append_onto_stream_layout_is_refused_file_uri(
        spark, sf_oracle, tmp_path):
    test_batch_append_onto_stream_layout_is_refused(
        spark, sf_oracle, tmp_path, "file_uri")


def test_stream_ingest_onto_batch_layout_is_refused(spark, sf_oracle,
                                                    tmp_path):
    """The reverse direction of the append guard: a streaming ingest
    pointed at a BATCH-built index (flat cells/cell=N) would write
    epoch= dirs beside the flat ones and brick partition discovery.
    It must refuse up front, before any write."""
    emb = (load_table(spark, sf_oracle, "embeddings")
           .select("vec_id", "embedding"))
    batch_index = str(tmp_path / "batch_ix")
    similarity.build_ivfpq_index(emb.where(F.col("vec_id") % 2 == 0),
                                 batch_index, n_cells=8)
    src, _, ckpt = _paths(tmp_path, "rev_guard")
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(src)
    with pytest.raises(ValueError, match="batch build"):
        ivfpq_ingest_stream(spark, src, batch_index, ckpt, n_cells=8)
    # the flat index still serves
    queries = emb.where(F.col("vec_id") < 5)
    assert similarity.ivfpq_probe_topk(
        spark, batch_index, queries, k=5).count() > 0
    # same for the plain-IVF stream
    from s3_elasticsearch_data_pipeline_spark.streaming.ivf_ingest import (
        ivf_ingest_stream)
    batch_ivf = str(tmp_path / "batch_ivf")
    similarity.build_ivf_index(emb.where(F.col("vec_id") % 2 == 0),
                               batch_ivf, n_cells=8)
    with pytest.raises(ValueError, match="batch build"):
        ivf_ingest_stream(spark, src, batch_ivf, str(tmp_path / "c2"),
                          n_cells=8)
