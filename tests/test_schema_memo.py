"""``tables.load_table`` infers a parquet file's schema once: later loads
of the same file version pass the memoized schema and run no Spark job.
These tests pin that, and that the memo never serves a stale or wrong
schema (rewritten file, directory, URI spelling, nanos timestamps)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from s3_elasticsearch_data_pipeline_spark import tables
from tests.conftest import count_jobs


def _copy(sf_dir: str, name: str, dest) -> str:
    os.makedirs(dest, exist_ok=True)
    shutil.copy(tables.table_path(sf_dir, name),
                tables.table_path(dest, name))
    return str(dest)


def test_repeat_load_of_unchanged_file_runs_no_job(spark, sf_smoke, tmp_path):
    d = _copy(sf_smoke, "documents", tmp_path)

    def load():
        tables.load_table(spark, d, "documents")
    first = count_jobs(spark, "memo-first", load)
    second = count_jobs(spark, "memo-second", load)
    assert first == 1, first  # the one schema-inference job
    assert second == 0, second
    a = tables.load_table(spark, d, "documents")
    b = spark.read.parquet(tables.table_path(d, "documents"))
    assert a.schema == b.schema
    assert (sorted(map(str, a.collect()))
            == sorted(map(str, b.collect())))


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    d = str(tmp_path)
    path = tables.table_path(d, "tbl")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert tables.load_table(spark, d, "tbl").columns == ["a"]
    pq.write_table(pa.table({"a": pa.array([3], pa.int64()),
                             "b": pa.array(["x"], pa.string())}), path)
    df = tables.load_table(spark, d, "tbl")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_file_uri_and_bare_path_load_the_same(spark, sf_smoke, tmp_path):
    d = _copy(sf_smoke, "region", tmp_path)
    bare = tables.load_table(spark, d, "region")
    uri = tables.load_table(spark, "file://" + d, "region")
    assert bare.schema == uri.schema
    assert (sorted(map(str, bare.collect()))
            == sorted(map(str, uri.collect())))
    # both spellings qualify to one FileStatus path: one memo entry
    assert (tables._schema_key(spark, tables.table_path(d, "region"))
            == tables._schema_key(spark, "file://"
                                  + tables.table_path(d, "region")))
    assert count_jobs(spark, "memo-uri", lambda: tables.load_table(
        spark, "file://" + d, "region")) == 0


def test_directory_path_bypasses_the_memo(spark, tmp_path):
    d = str(tmp_path)
    path = tables.table_path(d, "dirtbl")
    spark.range(3).write.parquet(path)
    assert tables._schema_key(spark, path) is None
    df = tables.load_table(spark, d, "dirtbl")
    assert sorted(r.id for r in df.collect()) == [0, 1, 2]
    assert not any(k[0].endswith("/dirtbl.parquet")
                   for k in tables._SCHEMA_CACHE)


def test_events_ts_loads_as_timestamp_from_the_memo(spark, sf_smoke,
                                                    tmp_path):
    d = _copy(sf_smoke, "events", tmp_path)
    first = tables.load_table(spark, d, "events")
    second = tables.load_table(spark, d, "events")
    assert dict(first.dtypes)["ts"] == "timestamp"
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert (first.agg({"ts": "max"}).collect()
            == second.agg({"ts": "max"}).collect())
