"""``offload.by_partition``: a partitioned write whose planned bytes fit
``offload.MAX_ONE_TASK_WRITE_BYTES`` runs as one task, a larger one
shuffles by the partition column first. Both sides must leave the same
rows and one new file per written partition directory; each test
forces the shuffle by zeroing the cap. The inputs are local relations
(built from pandas), which Spark can size: a list-built frame's size
is unknown and always takes the shuffle."""

from __future__ import annotations

import logging
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.offload import DECISION_LOGGER
from s3_elasticsearch_data_pipeline_spark.operators import similarity
from s3_elasticsearch_data_pipeline_spark.plans.rollup import (
    maintain_rollup, read_rollup)
from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
    delete_by_key, upsert_by_key)
from tests.conftest import count_jobs, shuffle_bytes, spelled

SIDES = ("one_task", "shuffle")


def _force(monkeypatch, side: str) -> None:
    if side == "shuffle":
        monkeypatch.setattr(offload, "MAX_ONE_TASK_WRITE_BYTES", 0)


def _keyed(spark, ids, months, values):
    return spark.createDataFrame(pd.DataFrame(
        {"id": ids, "month": months, "value": values}))


def _files(root) -> dict[str, set[str]]:
    """Data files under ``root`` by partition directory (relative)."""
    out: dict[str, set[str]] = {}
    for d, _, names in os.walk(root):
        names = {n for n in names if not n.startswith((".", "_"))}
        if names:
            out[os.path.relpath(d, root)] = names
    return out


def _new_files(before: dict, after: dict) -> dict[str, int]:
    return {d: len(names - before.get(d, set()))
            for d, names in after.items() if names - before.get(d, set())}


def _write_paths(caplog, suffix: str = "_write") -> list:
    return [(r.site, r.path) for r in caplog.records
            if r.name == DECISION_LOGGER and r.site.endswith(suffix)]


def _upsert_sides(spark, tmp_path, monkeypatch, caplog, spelling):
    base = _keyed(spark, [f"k{i}" for i in range(30)],
                  [f"m{i % 3}" for i in range(30)],
                  [float(i) for i in range(30)])
    delta = _keyed(spark, ["k1", "k2", "z"], ["m1", "m2", "m1"],
                   [10.0, 20.0, 30.0])
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    got = {}
    for side in SIDES:
        local = tmp_path / side
        path = spelled(local, spelling)
        with monkeypatch.context() as m:
            _force(m, side)
            upsert_by_key(spark, base, path)
            before = _files(local)
            caplog.clear()
            upsert_by_key(spark, delta, path)
        assert _write_paths(caplog) == [("keyed.upsert_write", side)]
        assert _new_files(before, _files(local)) == {
            "month=m1": 1, "month=m2": 1}
        got[side] = sorted(map(tuple, spark.read.parquet(path)
                               .select("id", "month", "value").collect()))
    return got


@pytest.mark.parametrize("spelling", ["bare", "file_uri"])
def test_upsert_write_sides_agree(spark, tmp_path, monkeypatch, caplog,
                                  spelling):
    """An upsert writes the same rows from one task as after the
    shuffle, one new file in each touched partition, through either
    spelling of the sink path."""
    got = _upsert_sides(spark, tmp_path, monkeypatch, caplog, spelling)
    assert got["one_task"] == got["shuffle"]
    assert ("k1", "m1", 10.0) in got["one_task"]
    assert len(got["one_task"]) == 31


def test_delete_write_sides_agree(spark, tmp_path, monkeypatch, caplog):
    """A delete rewrites each touched partition as one file, the same
    surviving rows either way."""
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    base = _keyed(spark, [f"k{i}" for i in range(30)],
                  [f"m{i % 3}" for i in range(30)],
                  [float(i) for i in range(30)])
    doomed = spark.createDataFrame(pd.DataFrame({"id": ["k1", "k2", "k4"]}))
    got = {}
    for side in SIDES:
        path = str(tmp_path / side)
        upsert_by_key(spark, base, path)
        before = _files(path)
        caplog.clear()
        with monkeypatch.context() as m:
            _force(m, side)
            assert delete_by_key(spark, doomed, path) == 3
        assert _write_paths(caplog) == [("keyed.delete_write", side)]
        assert _new_files(before, _files(path)) == {
            "month=m1": 1, "month=m2": 1}
        got[side] = sorted(map(tuple, spark.read.parquet(path)
                               .select("id", "month", "value").collect()))
    assert got["one_task"] == got["shuffle"]
    assert len(got["one_task"]) == 27


def test_ivfpq_append_sides_agree(spark, sf_smoke, tmp_path, monkeypatch,
                                  caplog):
    """An IVF-PQ append assigns and encodes the same rows in one task
    as across the shuffle, one new file in each cell it reaches."""
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    emb = spark.read.parquet(os.path.join(sf_smoke, "embeddings.parquet"))
    batch = (emb.where("vec_id % 5 = 0")
             .withColumn("vec_id", F.col("vec_id") + 100_000))
    got = {}
    for side in SIDES:
        path = str(tmp_path / side)
        similarity.build_ivfpq_index(emb, path, n_cells=8)
        before = _files(path + "/cells")
        caplog.clear()
        with monkeypatch.context() as m:
            _force(m, side)
            similarity.ivfpq_index_append(spark, path, batch)
        assert _write_paths(caplog) == [
            ("similarity.ivfpq_cells_write", side)]
        cells = spark.read.parquet(path + "/cells")
        reached = {f"cell={r.cell}" for r in cells.where(
            "vec_id >= 100000").select("cell").distinct().collect()}
        assert _new_files(before, _files(path + "/cells")) == dict.fromkeys(
            reached, 1)
        got[side] = sorted(
            (r.vec_id, r.cell, tuple(r.codes), tuple(r.embedding))
            for r in cells.collect())
    assert got["one_task"] == got["shuffle"]
    assert len(got["one_task"]) == emb.count() + batch.count()


def test_rollup_write_sides_agree(spark, tmp_path, monkeypatch, caplog):
    """An incremental rollup run appends the same partials in one task
    as after the shuffle: one new file per newly rolled-up month."""
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    first = spark.createDataFrame(pd.DataFrame({
        "month": ["2024-01", "2024-01", "2024-02"],
        "event_type": ["a", "b", "a"], "value": [1.5, 2.0, 4.25]}))
    later = first.unionByName(spark.createDataFrame(pd.DataFrame({
        "month": ["2024-03", "2024-04", "2024-04"],
        "event_type": ["a", "a", "c"], "value": [3.0, 1.0, 0.5]})))
    got = {}
    for side in SIDES:
        path = str(tmp_path / side)
        maintain_rollup(spark, first, path)
        before = _files(path)
        caplog.clear()
        with monkeypatch.context() as m:
            _force(m, side)
            assert maintain_rollup(spark, later, path) == [
                "2024-03", "2024-04"]
        assert _write_paths(caplog) == [("rollup.partials_write", side)]
        assert _new_files(before, _files(path)) == {
            "month=2024-03": 1, "month=2024-04": 1}
        got[side] = sorted(map(tuple, read_rollup(spark, path).collect()))
    assert got["one_task"] == got["shuffle"]
    assert len(got["one_task"]) == 6


def test_warm_serving_sized_upsert_shuffles_nothing(spark, tmp_path):
    """A warm serving-sized upsert into an existing sink writes its
    merged rows from one task: no shuffle bytes at all."""
    path = str(tmp_path / "serving")
    upsert_by_key(spark, _keyed(spark, [f"k{i}" for i in range(30)],
                                [f"m{i % 3}" for i in range(30)],
                                [float(i) for i in range(30)]), path)
    delta = _keyed(spark, ["k1", "z"], ["m1", "m2"], [9.0, 1.0])
    upsert_by_key(spark, delta, path)
    count_jobs(spark, "upsert-one-task",
               lambda: upsert_by_key(spark, delta, path))
    assert shuffle_bytes(spark, "upsert-one-task") == 0


def test_planned_bytes_sums_the_leaves(spark, tmp_path):
    """The estimate is the leaves' sum: a join of two scans reports
    their two sizes, not the root's product, and a list-built frame,
    which Spark cannot size, reports Long.MaxValue."""
    path = str(tmp_path / "t")
    _keyed(spark, ["a", "b"], ["m1", "m2"], [1.0, 2.0]).write.parquet(path)
    scan = spark.read.parquet(path)
    one = offload.planned_bytes(scan)
    assert 0 < one < 1 << 20
    assert offload.planned_bytes(scan.join(scan, "id")) == 2 * one
    listed = spark.createDataFrame([("a",)], "id string")
    assert offload.planned_bytes(scan.join(listed, "id")) == (1 << 63) - 1
