"""The coarse quantizer (``operators/quantizer.py``) in the default
test selection: two-level training and assignment, the persisted
parameter tables and how they read back (absent, torn, broken, or
behind a ``file://`` URI), and the build / append / probe lockstep
over them."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.operators import (
    dedup, quantizer, similarity)


def _embeddings(spark, sf):
    return spark.read.parquet(os.path.join(sf, "embeddings.parquet"))


def test_ivf_index_append_equals_bulk_assign(spark, sf_smoke, tmp_path):
    """Appending a batch against persisted centroids must land every
    vector exactly where a bulk assignment with the SAME centroids
    would — probe results over (build-half + append-half) equal a
    probe over an index whose cells hold all vectors assigned by those
    half-trained centroids (i.e. build(half) then append(rest) is the
    canonical ingest, not a degraded one)."""
    embeddings = _embeddings(spark, sf_smoke)
    half = embeddings.where(F.col("vec_id") % 2 == 0)
    rest = embeddings.where(F.col("vec_id") % 2 == 1)
    queries = embeddings.where(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf_inc")
    similarity.build_ivf_index(half, path, n_cells=8)
    similarity.ivf_index_append(spark, path, rest)
    got = {(r.query_id, r.neighbor_id, r.sim, r.rank)
           for r in similarity.ivf_probe_topk(
               spark, path, queries, k=10, n_probe=4).collect()}
    # reference: every appended vec_id present exactly once in cells
    cells = spark.read.parquet(path + "/cells")
    assert cells.count() == embeddings.count()
    assert cells.select("vec_id").distinct().count() == embeddings.count()
    # EXACT: the persisted (vec_id, cell) assignment equals a bulk
    # assignment of the full corpus with the index's own centroids —
    # append is the canonical ingest, not an approximation of build
    q = quantizer._load_quantizer(spark, path)
    bulk = embeddings.select("vec_id", "embedding").mapInPandas(
        quantizer._quantizer_cells_fn(q, 1), "vec_id long, cell int")
    diff = (cells.select("vec_id", "cell")
            .exceptAll(bulk).unionAll(
                bulk.exceptAll(cells.select("vec_id", "cell"))))
    assert diff.count() == 0
    # and the probe still finds true neighbors (sanity recall floor)
    exact = similarity.brute_force_topk(embeddings, queries, k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    found = {(q, n) for q, n, _, _ in got}
    assert len(truth & found) / len(truth) >= 0.4
    # appending an empty batch is a no-op
    similarity.ivf_index_append(spark, path, rest.where(F.lit(False)))
    assert spark.read.parquet(path + "/cells").count() == embeddings.count()


def test_two_level_blocking_partition_invariant(spark):
    """The two-level path must be partition-invariant end to end: the
    training sample is hash-selected (not partition-dependent), the
    driver Lloyd is deterministic, and assignment is per-row pure —
    so wildly different input partitionings must yield the identical
    pair set."""
    import numpy as np
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=12)])
            for i in range(5000)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    a = {(r.vec_id_a, r.vec_id_b, r.cosine_sim) for r in
         dedup.embedding_blocked_near_dup(
             emb.repartition(3), threshold=0.7).collect()}
    b = {(r.vec_id_a, r.vec_id_b, r.cosine_sim) for r in
         dedup.embedding_blocked_near_dup(
             emb.repartition(17), threshold=0.7).collect()}
    assert a == b


def test_ivf_two_level_inline_equals_build_probe(spark, big_emb,
                                                 tmp_path):
    """The build/probe lockstep contract must hold THROUGH the
    two-level gate: inline ivf_topk(n_cells=64) and
    build_ivf_index(n_cells=64) + ivf_probe_topk return bit-identical
    results (same quantizer training, same assignment kernel on both
    the corpus and query sides, exact parquet float64 roundtrip of the
    supers/centroids tables)."""
    queries = big_emb.where("vec_id < 8")
    inline = {tuple(r) for r in similarity.ivf_topk(
        big_emb, queries, k=5, n_cells=64).collect()}
    path = str(tmp_path / "ivf64")
    similarity.build_ivf_index(big_emb, path, n_cells=64)
    # the persisted layout carries the two-level structure
    q = quantizer._load_quantizer(spark, path)
    assert q.two_level and len(q.centroids) >= 64
    probed = {tuple(r) for r in similarity.ivf_probe_topk(
        spark, path, queries, k=5).collect()}
    # ivf_topk excludes self-matches; ivf_probe_topk (pq contract)
    # does not — align by dropping self rows before comparing
    probed = {t for t in probed if t[0] != t[1]}
    inline_top = {t[:2] for t in inline}
    probed_top = {t[:2] for t in probed}
    # rank columns can shift by the self-row removal; compare the
    # (query, neighbor, sim) triples
    assert ({t[:3] for t in inline} - {t[:3] for t in probed}
            == set()), "inline result must be a subset after self-drop"
    assert inline_top <= probed_top


def test_two_level_quantizer_roundtrip(spark, big_emb, tmp_path):
    """_write_centroid_tables/_load_quantizer must roundtrip the
    two-level structure exactly: flat matrix, supers, per-super
    blocks, offsets — and a FLAT overwrite of the same path must read
    back as flat (staleness decided by the super column, not the
    leftover supers directory)."""
    import numpy as np
    q = quantizer._train_quantizer(big_emb, 64, 2)
    path = str(tmp_path / "idx")
    quantizer._write_centroid_tables(spark, path, q)
    r = quantizer._load_quantizer(spark, path)
    assert r.two_level
    np.testing.assert_array_equal(q.centroids, r.centroids)
    np.testing.assert_array_equal(q.super_cents, r.super_cents)
    assert q.offsets == r.offsets
    for a, b in zip(q.subs, r.subs):
        np.testing.assert_array_equal(a, b)
    # flat overwrite wins over the stale supers dir
    flat_q = quantizer._train_quantizer(big_emb, 8, 1)
    quantizer._write_centroid_tables(spark, path, flat_q)
    r2 = quantizer._load_quantizer(spark, path)
    assert not r2.two_level
    np.testing.assert_array_equal(flat_q.centroids, r2.centroids)


def test_load_quantizer_rejects_torn_pair(spark, big_emb, tmp_path):
    """Externally-torn parameter tables (centroids and supers from
    different generations — impossible from our own writer, possible
    from a partial copy) must fail loudly with a torn-index error,
    not silently route probes into the wrong sub-centroid blocks."""
    q = quantizer._train_quantizer(big_emb, 64, 2)
    path = str(tmp_path / "idx")
    quantizer._write_centroid_tables(spark, path, q)
    # generation mismatch: replace supers with a table of a different
    # super count than the centroids reference
    (spark.createDataFrame(
        [(s, [float(x) for x in q.super_cents[s]])
         for s in range(max(1, len(q.super_cents) // 2))],
        "super int, centroid array<double>")
     .write.mode("overwrite").parquet(path + "/supers"))
    with pytest.raises(ValueError, match="torn IVF index"):
        quantizer._load_quantizer(spark, path)
    # offset corruption: right super count, non-contiguous cell ids
    (spark.createDataFrame(
        [(s, [float(x) for x in q.super_cents[s]])
         for s in range(len(q.super_cents))],
        "super int, centroid array<double>")
     .write.mode("overwrite").parquet(path + "/supers"))
    rows = [(1000 + i, [0.0, 0.0], s)
            for s in range(len(q.super_cents)) for i in (0, 1)]
    (spark.createDataFrame(
        rows, "cell int, centroid array<double>, super int")
     .write.mode("overwrite").parquet(path + "/centroids"))
    with pytest.raises(ValueError, match="torn IVF index"):
        quantizer._load_quantizer(spark, path)


@pytest.mark.parametrize("file_uri", [False, True], ids=["bare", "file_uri"])
def test_index_round_trip_at_file_uri(spark, sf_oracle, tmp_path, file_uri):
    """An IVF and an IVF-PQ index built at a ``file://`` URI probe to the
    same rows as through the bare path of the same directory, and
    neither is empty: the parameter tables are found through the URI,
    not through a local-path existence check that reads every other
    scheme as untrained."""
    emb = _embeddings(spark, sf_oracle).select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < 5)
    bare = str(tmp_path)
    built_at = ("file://" + bare) if file_uri else bare
    other = bare if file_uri else ("file://" + bare)
    similarity.build_ivf_index(emb, built_at + "/ivf", n_cells=8)
    similarity.build_ivfpq_index(emb, built_at + "/ivfpq", n_cells=8)
    for probe, name in ((similarity.ivf_probe_topk, "/ivf"),
                        (similarity.ivfpq_probe_topk, "/ivfpq")):
        got = sorted(map(tuple, probe(spark, built_at + name, queries,
                                      k=5).collect()))
        assert len(got) == 25, (name, got)
        assert got == sorted(map(tuple, probe(spark, other + name, queries,
                                              k=5).collect()))


def test_broken_centroid_table_raises(spark, sf_oracle, tmp_path):
    """A centroid table that is present but unreadable is an error for
    every reader: the probe must not answer 0 rows, and neither the
    batch append nor the streaming ingest may treat the index as
    untrained and retrain over it."""
    from s3_elasticsearch_data_pipeline_spark.streaming.ivf_ingest import (
        ivf_ingest_stream)
    garbage = b"not a parquet file" * 8

    def corrupt(index):
        part = sorted(glob.glob(index + "/centroids/part-*"))[0]
        with open(part, "wb") as fh:
            fh.write(garbage)
        return part

    emb = _embeddings(spark, sf_oracle).select("vec_id", "embedding")
    batch = str(tmp_path / "batch")
    similarity.build_ivf_index(emb, batch, n_cells=8)
    corrupt(batch)
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        similarity.ivf_probe_topk(spark, batch, emb.where(
            F.col("vec_id") < 3), k=5).collect()
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        similarity.ivf_index_append(spark, batch, emb)
    assert spark.read.parquet(batch + "/cells").count() == emb.count()

    src, index = str(tmp_path / "src"), str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(src)
    ivf_ingest_stream(spark, src, index, ckpt, n_cells=8)
    part = corrupt(index)
    emb.where(F.col("vec_id") % 2 == 1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        ivf_ingest_stream(spark, src, index, ckpt, n_cells=8)
    # no retrain rewrote the table, and no epoch landed past the first
    with open(part, "rb") as fh:
        assert fh.read() == garbage
    assert os.listdir(index + "/cells") == ["epoch=0"]
