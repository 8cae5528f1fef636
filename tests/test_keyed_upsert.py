"""``upsert_by_key``'s two merge plans: the keyed merge a serving-sized
delta takes (a null-safe anti join, then at most one shuffle, by
partition column) and the window merge over the caps (forced here by a zero
``offload.MAX_UPSERT_DRIVER_ROWS``). Both must leave the same sink."""

from __future__ import annotations

import logging
import os
import re
import time

import pytest

from s3_elasticsearch_data_pipeline_spark.offload import DECISION_LOGGER
from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
    delete_by_key, upsert_by_key)
from tests.conftest import count_jobs, spelled

STRATEGIES = ("keyed", "window")
SCHEMA = "id string, month string, value double"


def _force(monkeypatch, strategy: str) -> None:
    if strategy == "window":
        monkeypatch.setattr(offload, "MAX_UPSERT_DRIVER_ROWS", 0)


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _sink(spark, path) -> list:
    """The sink's rows as sorted (id, month, value) tuples, the month
    read as a string."""
    df = spark.read.schema("id string, value double, month string") \
        .parquet(path)
    return sorted(((r.id, r.month, r.value) for r in df.collect()),
                  key=repr)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_upsert_keeps_untouched_keys_of_the_null_partition(
        spark, tmp_path, monkeypatch, strategy, spelling="bare"):
    """A delta in the NULL partition rewrites
    ``__HIVE_DEFAULT_PARTITION__`` with the keys it does not carry."""
    _force(monkeypatch, strategy)
    path = spelled(tmp_path, spelling) + "/serving"
    upsert_by_key(spark, _rows(spark, [
        ("a", None, 1.0), ("b", None, 2.0), ("c", "m1", 3.0)]), path)
    upsert_by_key(spark, _rows(spark, [("a", None, 9.0)]), path)
    assert _sink(spark, path) == [
        ("a", None, 9.0), ("b", None, 2.0), ("c", "m1", 3.0)]


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_upsert_keeps_untouched_keys_of_the_null_partition_file_uri(
        spark, tmp_path, monkeypatch, strategy):
    test_upsert_keeps_untouched_keys_of_the_null_partition(
        spark, tmp_path, monkeypatch, strategy, "file_uri")


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_upsert_rewrites_a_numeric_looking_partition_in_place(
        spark, tmp_path, monkeypatch, strategy):
    """A string month ``"01"`` would infer back as the int 1: the merge
    reads the sink with the incoming frame's partition type, so the
    second upsert replaces ``month=01`` instead of writing ``month=1``
    beside it."""
    _force(monkeypatch, strategy)
    path = str(tmp_path / "serving")
    upsert_by_key(spark, _rows(spark, [("a", "01", 1.0), ("b", "01", 2.0)]),
                  path)
    upsert_by_key(spark, _rows(spark, [("a", "01", 5.0)]), path)
    assert sorted(d for d in os.listdir(path)
                  if d.startswith("month=")) == ["month=01"]
    assert _sink(spark, path) == [("a", "01", 5.0), ("b", "01", 2.0)]


def test_delete_keeps_a_numeric_looking_partition_in_place(
        spark, tmp_path, spelling="bare"):
    """A delete rewrites ``month=01`` as ``month=01``: it reads the sink
    with partition type inference off, as the upsert does, so the
    surviving row is not moved to ``month=1``."""
    path = spelled(tmp_path, spelling) + "/serving"
    upsert_by_key(spark, _rows(spark, [("a", "01", 1.0), ("b", "01", 2.0)]),
                  path)
    doomed = spark.createDataFrame([("a",)], "id string")
    assert delete_by_key(spark, doomed, path) == 1
    assert sorted(d for d in os.listdir(tmp_path / "serving")
                  if d.startswith("month=")) == ["month=01"]
    assert _sink(spark, path) == [("b", "01", 2.0)]


def test_delete_keeps_a_numeric_looking_partition_in_place_file_uri(
        spark, tmp_path):
    test_delete_keeps_a_numeric_looking_partition_in_place(
        spark, tmp_path, "file_uri")


def test_upsert_strategies_leave_the_same_sink(spark, tmp_path, monkeypatch,
                                               caplog):
    """One delta with an update, an insert, a key repeated (as the same
    row), a NULL key and a key moving between two touched partitions:
    both plans leave the same sink, each logging its decision."""
    base = [("u1", "m1", 1.0), ("u2", "m2", 2.0), ("mv", "m1", 3.0),
            (None, "m2", 4.0), ("x", "m3", 5.0)]
    delta = [("u1", "m1", 10.0), ("mv", "m2", 30.0), (None, "m2", 40.0),
             ("n1", "m1", 50.0), ("d", "m2", 60.0), ("d", "m2", 60.0)]
    want = sorted([("u1", "m1", 10.0), ("u2", "m2", 2.0),
                   ("mv", "m2", 30.0), (None, "m2", 40.0),
                   ("n1", "m1", 50.0), ("d", "m2", 60.0),
                   ("x", "m3", 5.0)], key=repr)
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    got, events = {}, {}
    for strategy in STRATEGIES:
        path = str(tmp_path / strategy)
        with monkeypatch.context() as m:
            _force(m, strategy)
            upsert_by_key(spark, _rows(spark, base), path)
            caplog.clear()
            upsert_by_key(spark, _rows(spark, delta), path)
        got[strategy] = _sink(spark, path)
        events[strategy] = [
            (r.path, r.rows, r.cap) for r in caplog.records
            if r.name == DECISION_LOGGER and r.site == "keyed.upsert_by_key"]
    assert got["keyed"] == got["window"] == want
    assert events == {"keyed": [("driver", 6, None)],
                      "window": [("distributed", 1, "rows")]}


def test_upsert_byte_cap_takes_the_window_merge(spark, tmp_path, monkeypatch,
                                                caplog):
    """The byte cap alone switches a delta to the window merge."""
    monkeypatch.setattr(offload, "MAX_UPSERT_DRIVER_BYTES", 1)
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    path = str(tmp_path / "serving")
    upsert_by_key(spark, _rows(spark, [("a", "m1", 1.0)]), path)
    upsert_by_key(spark, _rows(spark, [("a", "m1", 2.0), ("b", "m1", 3.0)]),
                  path)
    assert _sink(spark, path) == [("a", "m1", 2.0), ("b", "m1", 3.0)]
    assert [(r.path, r.cap) for r in caplog.records
            if r.name == DECISION_LOGGER
            and r.site == "keyed.upsert_by_key"] == [
        ("distributed", "bytes")] * 2


def _write_plan(spark, after: int) -> str:
    """The physical plan of the one file write that ran as an SQL
    execution with an id above ``after``."""
    store = spark._jsparkSession.sharedState().statusStore()
    for _ in range(40):
        execs = store.executionsList()
        writes = [e for e in (execs.apply(i) for i in range(execs.size()))
                  if e.executionId() > after
                  and e.completionTime().isDefined()
                  and "InsertIntoHadoopFsRelationCommand"
                  in e.physicalPlanDescription()]
        if writes:
            assert len(writes) == 1
            return writes[0].physicalPlanDescription()
        time.sleep(0.1)
    raise AssertionError("no write execution recorded")


def _shuffle_partitionings(plan: str) -> list[str]:
    """The partitioning of each shuffle exchange (broadcasts aside) in
    the plan's tree, as its formatted ``Arguments``."""
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[-1]
    out = []
    for node in re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", tree):
        out.append(re.search(rf"^\({node}\) Exchange\n(?:.*\n)*?"
                             r"Arguments: (.*)$", plan, re.M).group(1))
    return out


def _last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())),
               default=-1)


def _local_rows(spark, rows):
    """``rows`` as a local relation, which Spark can size (a list-built
    frame's size is unknown, so its write always shuffles)."""
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame(rows, columns=[
        "id", "month", "value"]))


@pytest.mark.parametrize("strategy", STRATEGIES + ("keyed_one_task",))
def test_upsert_merge_write_shuffles_once_by_partition(
        spark, tmp_path, monkeypatch, strategy):
    """With the one-task write cap zeroed, the keyed merge's write
    holds one shuffle exchange, hash partitioned on the partition
    column; the window merge's also shuffles by key. Under the default
    caps a serving-sized keyed merge's write holds no shuffle exchange
    at all: one task writes it."""
    _force(monkeypatch, strategy)
    if strategy in STRATEGIES:
        monkeypatch.setattr(offload, "MAX_ONE_TASK_WRITE_BYTES", 0)
    path = str(tmp_path / "serving")
    upsert_by_key(spark, _rows(spark, [(f"k{i}", f"m{i % 3}", float(i))
                                       for i in range(30)]), path)
    before = _last_execution_id(spark)
    upsert_by_key(spark, _local_rows(spark, [("k1", "m1", 9.0),
                                             ("z", "m2", 1.0)]), path)
    shuffles = _shuffle_partitionings(_write_plan(spark, before))
    if strategy == "keyed":
        assert len(shuffles) == 1, shuffles
        assert shuffles[0].startswith("hashpartitioning(month#"), shuffles
    elif strategy == "window":
        assert any(s.startswith("hashpartitioning(id#") for s in shuffles)
        assert shuffles[0].startswith("hashpartitioning(month#"), shuffles
    else:
        assert shuffles == [], shuffles


def test_serving_sized_upsert_job_count(spark, tmp_path):
    """A warm serving-sized upsert of a parquet delta into an existing
    sink runs the delta facts collect, the sink's schema read and the
    merge write's broadcast and one-task write jobs: 4 (the window
    merge ran 6; the shuffled write's map job made 5). A list-built
    delta, whose size Spark cannot plan, keeps the shuffle and its 5
    jobs."""
    path = str(tmp_path / "serving")
    upsert_by_key(spark, _rows(spark, [(f"k{i}", f"m{i % 3}", float(i))
                                       for i in range(30)]), path)
    rows = [("k1", "m1", 9.0), ("z", "m2", 1.0)]
    _rows(spark, rows).write.parquet(str(tmp_path / "delta"))
    for label, delta, jobs in (
            ("parquet", spark.read.parquet(str(tmp_path / "delta")), 4),
            ("listed", _rows(spark, rows), 5)):
        upsert_by_key(spark, delta, path)
        assert count_jobs(spark, f"keyed-upsert-jobs-{label}",
                          lambda: upsert_by_key(spark, delta, path)) == jobs
