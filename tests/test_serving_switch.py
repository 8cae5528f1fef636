"""The serving-size switch: the row and byte caps that send a
serving-sized call down a driver-resident path, the byte cap that
writes a small partitioned output from one task, and the decision event
each switch logs (``offload.decide``).

Default selection: these are the thin, fast twins of the byte-cap
checks in the all-``slow`` ``test_approx_ops.py``."""

from __future__ import annotations

import itertools
import logging
import os

import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.operators import (
    dedup, ml, similarity, text, unigram)
from s3_elasticsearch_data_pipeline_spark.offload import DECISION_LOGGER
from s3_elasticsearch_data_pipeline_spark.streaming import lsh_ingest
from tests.conftest import count_jobs, shuffle_bytes


@pytest.fixture(scope="module")
def embeddings(spark, sf_smoke):
    return spark.read.parquet(os.path.join(sf_smoke, "embeddings.parquet"))


def _decisions(caplog, prefix: str) -> list:
    return [(r.site, r.path, r.rows, r.bytes, r.cap)
            for r in caplog.records
            if r.name == DECISION_LOGGER and r.site.startswith(prefix)]


def test_wide_dim_queries_take_distributed_path_smoke(
        spark, embeddings, monkeypatch, caplog):
    """A query frame under the row cap but over the byte cap takes the
    distributed plan with the same result, and the decision event says
    that the BYTE cap tripped — the byte cap overrides the row cap."""
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    queries = embeddings.where(F.col("vec_id") < 6)

    def topk():
        return {(r.query_id, r.neighbor_id, r.sim, r.rank)
                for r in similarity.ivf_topk(embeddings, queries, k=5,
                                             n_cells=8,
                                             n_probe=4).collect()}

    with_driver = topk()
    # 6 queries x 64 dims x 8 B = 3072 B
    assert _decisions(caplog, "similarity.serving") == [
        ("similarity.serving_queries", "driver", 6, 3072, None)]
    caplog.clear()
    monkeypatch.setattr(offload, "MAX_DRIVER_QUERY_BYTES", 2048)
    assert similarity._collect_queries_if_serving_sized(queries) is None
    assert topk() == with_driver
    assert set(_decisions(caplog, "similarity.serving")) == {
        ("similarity.serving_queries", "distributed", 6, 3072, "bytes")}


def _ingest(spark, root: str, rows, cap: int = 5) -> list:
    """Append ``rows`` as one source file under ``root``, drain it and
    return the corpus doc ids."""
    src, corpus = root + "/src", root + "/c"
    (spark.createDataFrame(rows, "doc_id long, text string")
     .coalesce(1).write.mode("append").parquet(src))
    lsh_ingest.lsh_ingest_stream(spark, src, corpus, root + "/i",
                                 root + "/k", max_bucket_docs=cap)
    return sorted(r["doc_id"] for r in
                  lsh_ingest.read_corpus(spark, corpus).collect())


def test_lsh_ingest_switch_logs_each_side(spark, tmp_path, monkeypatch,
                                          caplog):
    """The LSH ingest logs one event per fetch: the batch's probe rows
    and the prior index rows sharing its buckets. A batch over the row
    or the byte cap, or an index fetch over the row cap, takes the
    distributed path and names the cap; the admissions agree."""
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    boiler = ("the quick brown fox jumps over the lazy dog "
              "again and again " * 3)
    width = 16 * 8  # num_hashes x 8 B
    # 12 boilerplate copies: every band bucket holds 12 > 5 docs, so
    # all are admitted and indexed (48 index rows in 4 buckets)
    family = [(i, boiler) for i in range(12)]
    root = str(tmp_path / "driver")
    assert _ingest(spark, root, family) == list(range(12))
    assert _decisions(caplog, "lsh") == [
        ("lsh_ingest.batch", "driver", 48, 48 * width, None),
        ("lsh_ingest.index", "driver", 0, 0, None)]
    caplog.clear()
    assert _ingest(spark, root, [(100, boiler)]) == list(range(12)) + [100]
    assert _decisions(caplog, "lsh") == [
        ("lsh_ingest.batch", "driver", 4, 4 * width, None),
        ("lsh_ingest.index", "driver", 48, 48 * width, None)]

    root = str(tmp_path / "index-over")
    _ingest(spark, root, family)
    caplog.clear()
    with monkeypatch.context() as m:
        m.setattr(offload, "MAX_DRIVER_QUERIES", 10)
        assert _ingest(spark, root, [(100, boiler)]) == \
            list(range(12)) + [100]
    assert _decisions(caplog, "lsh") == [
        ("lsh_ingest.batch", "driver", 4, 4 * width, None),
        ("lsh_ingest.index", "distributed", 11, 11 * width, "rows")]

    for cap_name, attr, value, rows in (
            ("rows", "MAX_DRIVER_QUERIES", 10, 11),
            ("bytes", "MAX_DRIVER_QUERY_BYTES", 40 * width, 48)):
        caplog.clear()
        with monkeypatch.context() as m:
            m.setattr(offload, attr, value)
            got = _ingest(spark, str(tmp_path / f"over-{cap_name}"),
                          family)
        assert got == list(range(12))
        assert _decisions(caplog, "lsh") == [
            ("lsh_ingest.batch", "distributed", rows, rows * width,
             cap_name)]


_TEXT = ("the quick brown fox jumps over the lazy dog and then it runs "
         "far away into the deep green forest")


@pytest.fixture(scope="module")
def small(spark, embeddings, tmp_path_factory):
    """Tiny inputs for every switch: documents, a pair list, a query
    batch, and an IVF and an IVF-PQ index over the smoke embeddings."""
    import types
    root = str(tmp_path_factory.mktemp("switch"))
    similarity.build_ivf_index(embeddings, root + "/ivf", n_cells=8)
    similarity.build_ivfpq_index(embeddings, root + "/ivfpq", n_cells=8)
    docs = spark.createDataFrame(
        [(1, _TEXT, "en"), (2, _TEXT + " again today", "en"),
         (3, "le renard brun saute par dessus le chien paresseux", "fr")],
        "doc_id long, text string, lang string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "doc_id_a long, doc_id_b long")
    return types.SimpleNamespace(
        root=root, docs=docs, pairs=pairs,
        queries=embeddings.where(F.col("vec_id") < 3))


def _upsert(spark, s):
    from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
        upsert_by_key)
    upsert_by_key(spark, spark.createDataFrame(
        [("a", "m1", 1.0)], "id string, month string, value double"),
        s.root + "/sink")


_fresh = itertools.count()


def _sized_rows(spark):
    """Keyed rows Spark can size (a local relation, not a list-built
    RDD), so a partitioned write of them runs as one task."""
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame(
        {"id": ["a", "b"], "month": ["m1", "m2"], "value": [1.0, 2.0]}))


def _upsert_write(spark, s):
    from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
        upsert_by_key)
    upsert_by_key(spark, _sized_rows(spark), f"{s.root}/w{next(_fresh)}")


def _delete_write(spark, s):
    from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
        delete_by_key, upsert_by_key)
    path = f"{s.root}/w{next(_fresh)}"
    upsert_by_key(spark, _sized_rows(spark), path)
    delete_by_key(spark, spark.createDataFrame([("a",)], "id string"), path)


def _rollup_write(spark, s):
    from s3_elasticsearch_data_pipeline_spark.plans.rollup import (
        maintain_rollup)
    maintain_rollup(spark, _sized_rows(spark).withColumn(
        "event_type", F.lit("click")), f"{s.root}/w{next(_fresh)}")


def _rollup_stream_write(spark, s):
    from s3_elasticsearch_data_pipeline_spark.streaming.rollup_stream \
        import rollup_stream
    root = f"{s.root}/w{next(_fresh)}"
    _sized_rows(spark).withColumn("event_type", F.lit("click")) \
        .write.parquet(root + "/src")
    rollup_stream(spark, root + "/src", root + "/rollup", root + "/ckpt")


#: site -> (the offload cap that a zero forces over, the cap the event
#: names then, the call that decides once)
SWITCHES = {
    "keyed.upsert_write": (
        "MAX_ONE_TASK_WRITE_BYTES", "bytes",
        lambda sp, e, s: _upsert_write(sp, s)),
    "keyed.delete_write": (
        "MAX_ONE_TASK_WRITE_BYTES", "bytes",
        lambda sp, e, s: _delete_write(sp, s)),
    "similarity.ivf_cells_write": (
        "MAX_ONE_TASK_WRITE_BYTES", "bytes",
        lambda sp, e, s: similarity.build_ivf_index(
            e, f"{s.root}/w{next(_fresh)}", n_cells=8)),
    "similarity.ivfpq_cells_write": (
        "MAX_ONE_TASK_WRITE_BYTES", "bytes",
        lambda sp, e, s: similarity.ivfpq_index_append(
            sp, s.root + "/ivfpq", e.where(F.col("vec_id") < 20)
            .withColumn("vec_id", F.col("vec_id") + 10_000 * (
                1 + next(_fresh))))),
    "rollup.partials_write": (
        "MAX_ONE_TASK_WRITE_BYTES", "bytes",
        lambda sp, e, s: _rollup_write(sp, s)),
    "rollup_stream.partials_write": (
        "MAX_ONE_TASK_WRITE_BYTES", "bytes",
        lambda sp, e, s: _rollup_stream_write(sp, s)),
    "similarity.serving_queries": (
        "MAX_DRIVER_QUERIES", "rows", lambda sp, e, s: similarity.ivf_topk(
            e, s.queries, k=5, n_cells=8, n_probe=4).collect()),
    "similarity.brute_force_topk_arrow": (
        "MAX_DRIVER_QUERY_BYTES", "bytes",
        lambda sp, e, s: similarity.brute_force_topk_arrow(
            e, s.queries, k=5).collect()),
    "similarity.pq_topk": (
        "MAX_DRIVER_QUERIES", "rows", lambda sp, e, s: similarity.pq_topk(
            e, s.queries, k=5, m=4, k_codes=8, rerank=12).collect()),
    "similarity.ann_lsh_topk": (
        "MAX_DRIVER_QUERIES", "rows",
        lambda sp, e, s: similarity.ann_lsh_topk(
            e, s.queries, k=5, dims=64).collect()),
    "similarity.margin_bitext_pairs": (
        "MAX_DRIVER_QUERIES", "rows",
        lambda sp, e, s: similarity.margin_bitext_pairs(
            e.where(F.col("vec_id") < 40)).collect()),
    "similarity.ivf_probe_topk": (
        "MAX_DRIVER_CELL_BYTES", "bytes",
        lambda sp, e, s: similarity.ivf_probe_topk(
            sp, s.root + "/ivf", s.queries, k=5).collect()),
    "similarity.ivfpq_probe_topk": (
        "MAX_DRIVER_PROBE_PAIRS", "pairs",
        lambda sp, e, s: similarity.ivfpq_probe_topk(
            sp, s.root + "/ivfpq", s.queries, k=5).collect()),
    "keyed.upsert_by_key": (
        "MAX_UPSERT_DRIVER_ROWS", "rows", lambda sp, e, s: _upsert(sp, s)),
    "dedup.connected_components": (
        "DRIVER_CC_MAX_PAIRS", "rows",
        lambda sp, e, s: dedup.connected_components(s.pairs).collect()),
    "dedup.connected_components_star": (
        "DRIVER_CC_MAX_PAIRS", "rows",
        lambda sp, e, s: dedup.connected_components_star(
            s.pairs).collect()),
    "ml.train_quality_classifier": (
        "DRIVER_GD_MAX_ROWS", "rows",
        lambda sp, e, s: ml.train_quality_classifier(
            s.docs, iters=2).collect()),
    "text.bpe_train": (
        "DRIVER_BPE_MAX_TYPES", "rows",
        lambda sp, e, s: text.bpe_train(s.docs, n_merges=2).collect()),
    "text.bpe_encode": (
        "MAX_BROADCAST_WORDS", "rows",
        lambda sp, e, s: text.bpe_encode(s.docs, n_merges=2).collect()),
    "unigram.unigram_encode": (
        "MAX_BROADCAST_WORDS", "rows",
        lambda sp, e, s: unigram.unigram_encode(s.docs, iters=1).collect()),
}

#: The two paths of a site that does not choose between the driver and
#: Spark: (under its caps, over one).
PATHS = {site: ("one_task", "shuffle")
         for site, (cap_name, _, _) in SWITCHES.items()
         if cap_name == "MAX_ONE_TASK_WRITE_BYTES"}


@pytest.mark.parametrize("site", sorted(SWITCHES))
def test_every_switch_logs_one_event_per_side(spark, embeddings, small,
                                              monkeypatch, caplog, site):
    """Each switch decides through ``offload`` and logs exactly one
    decision event per call at its site: the driver (or one-task) side
    under the default caps, the distributed (or shuffle) side naming
    the cap once that cap is zeroed. The other fields are pinned per
    site by the tests of each operator."""
    cap_name, cap, call = SWITCHES[site]
    under, over = PATHS.get(site, ("driver", "distributed"))
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)

    def sides():
        return [(path, c) for s, path, _, _, c in _decisions(caplog, site)
                if s == site]

    caplog.clear()
    call(spark, embeddings, small)
    assert sides() == [(under, None)]
    caplog.clear()
    with monkeypatch.context() as m:
        m.setattr(offload, cap_name, 0)
        call(spark, embeddings, small)
    assert sides() == [(over, cap)]


def test_quantizer_logs_flat_or_two_level(spark, embeddings, monkeypatch,
                                          caplog):
    """Training the coarse quantizer logs its construction once: flat
    below ``quantizer.IVF_TWO_LEVEL_MIN_CELLS`` cells, two-level (cap
    ``cells``) at or above it."""
    from s3_elasticsearch_data_pipeline_spark.operators import quantizer
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    emb = embeddings.select("vec_id", "embedding")
    quantizer._train_quantizer(emb, 8, 1)
    assert _decisions(caplog, "quantizer") == [
        ("quantizer.train", "flat", 8, 0, None)]
    caplog.clear()
    monkeypatch.setattr(quantizer, "IVF_TWO_LEVEL_MIN_CELLS", 8)
    assert quantizer._train_quantizer(emb, 8, 1).two_level
    assert _decisions(caplog, "quantizer") == [
        ("quantizer.train", "two_level", 8, 0, "cells")]


def test_aqe_disabled_scope_logs_one_event(spark, caplog):
    """Each AQE-off scope logs one event as it opens."""
    from s3_elasticsearch_data_pipeline_spark.session import aqe_disabled
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    with aqe_disabled(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert _decisions(caplog, "session") == [
        ("session.aqe_disabled", "aqe_off", 0, 0, None)]


def test_cc_driver_fetch_is_one_unshuffled_job(spark):
    """A serving-sized ``connected_components`` runs two jobs and
    shuffles nothing: the checkpoint of its pairs, and one fetch of one
    task over that checkpoint. (A ``limit(cap+1).toPandas()`` fetch
    shuffles every fetched pair into one partition first.)"""
    pairs = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2), (2, 3), (5, 6), (7, 8)], 4),
        "doc_id_a long, doc_id_b long")
    got = []
    assert count_jobs(spark, "cc-fetch-shape", lambda: got.extend(
        dedup.connected_components(pairs).collect())) == 2
    assert shuffle_bytes(spark, "cc-fetch-shape") == 0
    assert sorted(map(tuple, got)) == [(1, 1), (2, 1), (3, 1), (5, 5),
                                       (6, 5), (7, 7), (8, 7)]
