"""The serving-size switch: the row and byte caps that send a
serving-sized call down a driver-resident path, and the decision event
each switch logs (``session.log_decision``).

Default selection: these are the thin, fast twins of the byte-cap
checks in the all-``slow`` ``test_approx_ops.py``."""

from __future__ import annotations

import logging
import os

import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.operators import similarity
from s3_elasticsearch_data_pipeline_spark.session import DECISION_LOGGER
from s3_elasticsearch_data_pipeline_spark.streaming import lsh_ingest


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
    monkeypatch.setattr(similarity, "MAX_DRIVER_QUERY_BYTES", 2048)
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
        m.setattr(similarity, "MAX_DRIVER_QUERIES", 10)
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
            m.setattr(similarity, attr, value)
            got = _ingest(spark, str(tmp_path / f"over-{cap_name}"),
                          family)
        assert got == list(range(12))
        assert _decisions(caplog, "lsh") == [
            ("lsh_ingest.batch", "distributed", rows, rows * width,
             cap_name)]
