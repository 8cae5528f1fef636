"""Sink contracts: ES connector option mapping (no live cluster — the
option builder IS the testable surface) and keyed-upsert semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.sinks.es import (
    DEFAULT_ES_OPTIONS, es_write_options, write_to_es)
from s3_elasticsearch_data_pipeline_spark.sinks.keyed import upsert_by_key
from tests.conftest import spelled


def test_es_options_keyed_upsert():
    opts = es_write_options("docs-index", nodes="es.example.com", port=9201,
                            id_col="id")
    assert opts["es.resource"] == "docs-index"
    assert opts["es.nodes"] == "es.example.com" and opts["es.port"] == "9201"
    # keyed upsert = the reference's _id=doc['id'] (ID-based-transfer.py:202)
    assert opts["es.mapping.id"] == "id"
    # reference tuning constants carried over (SURVEY.md §6)
    assert opts["es.batch.size.entries"] == "50000"
    assert opts["es.batch.write.retry.count"] == "3"


def test_es_options_auto_id_and_overrides():
    opts = es_write_options("idx", id_col=None,
                            overrides={"es.batch.size.entries": "100000"})
    assert "es.mapping.id" not in opts
    assert opts["es.batch.size.entries"] == "100000"
    assert DEFAULT_ES_OPTIONS["es.batch.size.entries"] == "50000"  # untouched


def test_write_to_es_raises_cleanly_without_connector(spark):
    df = spark.range(3).select(F.col("id").cast("string").alias("id"))
    with pytest.raises(RuntimeError, match="connector not available"):
        write_to_es(df, "idx")


def test_write_to_es_propagates_genuine_write_failures():
    """Only the jar-missing failure shapes map to the friendly
    RuntimeError; a data/transport error from a cluster that HAS the
    connector must surface unchanged (was: blanket except mislabeling
    every failure as 'connector not available')."""
    from s3_elasticsearch_data_pipeline_spark.sinks.es import (
        _is_connector_missing)
    assert _is_connector_missing(Exception(
        "[DATA_SOURCE_NOT_FOUND] Failed to find data source: "
        "org.elasticsearch.spark.sql."))
    assert _is_connector_missing(Exception(
        "java.lang.ClassNotFoundException: org.elasticsearch.spark.sql"))
    assert not _is_connector_missing(Exception(
        "org.elasticsearch.hadoop.rest.EsHadoopRemoteException: "
        "mapper_parsing_exception: failed to parse field [value]"))
    assert not _is_connector_missing(Exception(
        "Connection refused: es-node-7:9200"))


def test_upsert_last_write_wins(spark, tmp_path, spelling="bare"):
    """Incoming rows win by key; keys the update does not carry (``b``)
    survive in the partition it rewrites."""
    path = spelled(tmp_path, spelling) + "/serving"
    v1 = spark.createDataFrame(
        [("a", "2024-01", 1.0), ("b", "2024-01", 2.0)],
        "id string, month string, value double")
    upsert_by_key(spark, v1, path)
    v2 = spark.createDataFrame(
        [("a", "2024-01", 99.0), ("c", "2024-02", 3.0)],
        "id string, month string, value double")
    upsert_by_key(spark, v2, path)
    got = {r.id: r.value for r in spark.read.parquet(path).collect()}
    assert got == {"a": 99.0, "b": 2.0, "c": 3.0}
    # hive layout: months are directories; untouched partitions survive
    assert sorted(d for d in os.listdir(tmp_path / "serving")
                  if d.startswith("month=")) == \
        ["month=2024-01", "month=2024-02"]


def test_upsert_last_write_wins_file_uri(spark, tmp_path):
    test_upsert_last_write_wins(spark, tmp_path, "file_uri")


def test_csv_json_round_trip(spark, tmp_path):
    from s3_elasticsearch_data_pipeline_spark.sources.parquet import (
        scan_csv, scan_json)
    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5)], "k string, n long, v double")
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", "true").csv(csv_path)
    df.write.json(json_path)
    back_csv = scan_csv(spark, csv_path, schema="k string, n long, v double")
    back_json = scan_json(spark, json_path, schema="k string, n long, v double")
    want = {("a", 1, 1.5), ("b", 2, 2.5)}
    assert {tuple(r) for r in back_csv.collect()} == want
    assert {tuple(r) for r in back_json.collect()} == want


def test_multimodal_resize_and_frames(spark, sf_smoke):
    import os
    from s3_elasticsearch_data_pipeline_spark.operators.multimodal import (
        attach_payload, resize_images, sample_frames, decode_image,
        decode_audio)
    import pytest as _pytest
    docs = spark.read.parquet(os.path.join(sf_smoke, "documents.parquet")) \
        .limit(20)
    payloads = attach_payload(docs)
    resized = resize_images(payloads, 32, 32).collect()
    assert len(resized) == 20
    assert all(r.width == 32 and len(r.resized_md5) == 32 for r in resized)
    frames = sample_frames(payloads, 4).collect()
    assert len(frames) == 80                       # 1 → 4 fan-out
    assert {f.frame_index for f in frames} == {0, 1, 2, 3}
    # determinism across runs
    again = {(f.doc_id, f.frame_index): f.frame_md5
             for f in sample_frames(payloads, 4).collect()}
    for f in frames:
        assert again[(f.doc_id, f.frame_index)] == f.frame_md5
    # the real decoders reject formats they can't honestly parse
    for decoder in (decode_image, decode_audio):
        with _pytest.raises(NotImplementedError):
            decoder(b"xx")
    # empty payload: every frame window substitutes b"\x00" — the exact
    # constant the registry oracle encodes, so a future corpus with an
    # empty document stays oracle-covered rather than hash-mismatching
    empty = spark.createDataFrame([(999, bytearray(b""), 0)],
                                  "doc_id long, payload binary, "
                                  "n_payload_bytes long")
    efr = sample_frames(empty, 4).collect()
    assert len(efr) == 4
    assert all(f.frame_md5 == "93b885adfe0da089cdf634904fd59f71"
               and f.frame_offset_bytes == 0 for f in efr)


def test_orc_round_trip(spark, tmp_path):
    """ORC sink/source round trip preserves values and schema — the
    non-parquet columnar format path."""
    from s3_elasticsearch_data_pipeline_spark.sources.parquet import scan_orc
    df = spark.createDataFrame(
        [("a", 1, 2.5), ("b", 2, 3.5)], "k string, n long, v double")
    p = str(tmp_path / "orc")
    df.write.orc(p)
    back = scan_orc(spark, p)
    assert back.schema == df.schema
    assert {tuple(r) for r in back.collect()} == {("a", 1, 2.5), ("b", 2, 3.5)}
