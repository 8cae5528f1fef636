"""Incremental rollup maintenance + small-file compaction properties:
maintenance cost tracks the delta, results track a full recompute."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.maintenance import (
    compact_partitions, partition_file_stats)
from s3_elasticsearch_data_pipeline_spark.plans.rollup import (
    maintain_rollup, read_rollup)


@pytest.fixture()
def monthly_events(spark, sf_smoke):
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    ev = load_table(spark, sf_smoke, "events")
    return ev.withColumn("month", F.date_format("ts", "yyyy-MM-dd"))


def _finalized(df):
    return {(r["month"], r["event_type"]): (r["n_rows"], r["sum_value"])
            for r in df.collect()}


def test_rollup_incremental_matches_full_recompute(spark, monthly_events,
                                                   tmp_path):
    months = sorted(r[0] for r in
                    monthly_events.select("month").distinct().collect())
    assert len(months) >= 2
    first, rest = months[0], months[1:]
    rollup = str(tmp_path / "rollup")

    added = maintain_rollup(
        spark, monthly_events.where(F.col("month") == first), rollup)
    assert added == [first]
    # second run over the SAME source slice is a no-op (idempotent)
    assert maintain_rollup(
        spark, monthly_events.where(F.col("month") == first), rollup) == []

    # new months arrive; only they are aggregated
    assert maintain_rollup(spark, monthly_events, rollup) == sorted(rest)

    want = _finalized(
        monthly_events.groupBy("month", "event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value")))
    got = _finalized(read_rollup(spark, rollup))
    assert got == want


def test_compaction_preserves_rows_and_reduces_files(spark, monthly_events,
                                                     tmp_path):
    path = str(tmp_path / "tbl")
    (monthly_events.repartition(16)
     .write.partitionBy("month").parquet(path))
    stats = {r["month"]: r for r in
             partition_file_stats(spark, path).collect()}
    months = sorted(stats)
    target = months[0]
    assert stats[target]["n_files"] >= 8
    before = {tuple(r) for r in spark.read.parquet(path)
              .where(F.col("month") == target).collect()}
    other_files_before = len(
        glob.glob(os.path.join(path, f"month={months[-1]}", "*.parquet")))

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prior_mode = spark.conf.get(mode_key, None)
    compact_partitions(spark, path, [target])

    stats2 = {r["month"]: r for r in
              partition_file_stats(spark, path).collect()}
    assert stats2[target]["n_files"] == 1
    assert stats2[target]["n_rows"] == stats[target]["n_rows"]
    after = {tuple(r) for r in spark.read.parquet(path)
             .where(F.col("month") == target).collect()}
    assert after == before
    # untouched partitions keep their layout (dynamic overwrite)
    assert len(glob.glob(os.path.join(
        path, f"month={months[-1]}", "*.parquet"))) == other_files_before
    # the dynamic-overwrite override must not leak into the session:
    # an unrelated writer relying on the static default would silently
    # switch from whole-table to matched-partition overwrites. The
    # prior state comes back exactly: unset stays unset (the static
    # default), a set value is set again
    assert spark.conf.get(mode_key, None) == prior_mode
    assert spark.conf.get(mode_key).lower() == "static"


def test_partition_file_stats_bytes_are_each_files_own_size(spark,
                                                           tmp_path):
    """One write task names its part file the same way in every
    partition, so each partition's ``bytes`` must come from its own
    file, not from a lookup by file name."""
    path = str(tmp_path / "tbl")
    rows = [(f"m{m}", "x" * 40 * i) for m, n in ((1, 10), (2, 200),
                                               (3, 2000))
            for i in range(n)]
    (spark.createDataFrame(rows, "month string, text string")
     .coalesce(1).write.partitionBy("month").parquet(path))
    on_disk = {}
    for m in ("m1", "m2", "m3"):
        (part,) = glob.glob(os.path.join(path, f"month={m}", "*.parquet"))
        on_disk[m] = os.path.getsize(part)
    assert len(set(on_disk.values())) == 3
    got = {r["month"]: r["bytes"]
           for r in partition_file_stats(spark, path).collect()}
    assert got == on_disk


def test_streaming_rollup_exactly_once_including_late_files(spark,
                                                            monthly_events,
                                                            tmp_path):
    """File-log semantics: re-runs are no-ops, and a LATE file landing
    in an already-rolled-up partition still counts exactly once —
    the blind spot the batch partition-diff maintainer documents."""
    from s3_elasticsearch_data_pipeline_spark.streaming.rollup_stream import (
        rollup_stream)

    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    months = sorted(r[0] for r in
                    monthly_events.select("month").distinct().collect())
    first = months[0]
    half1 = monthly_events.where(F.col("event_id") % 2 == 0)
    half2 = monthly_events.where(F.col("event_id") % 2 == 1)

    half1.write.partitionBy("month").parquet(src)
    rollup_stream(spark, src, rollup, ck)
    rollup_stream(spark, src, rollup, ck)  # no-op re-run

    got1 = _finalized(read_rollup(spark, rollup))
    want1 = _finalized(
        half1.groupBy("month", "event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"))
        .withColumn("month", F.col("month").cast("string")))
    assert got1 == want1

    # late files arrive in EXISTING partitions
    half2.write.mode("append").partitionBy("month").parquet(src)
    rollup_stream(spark, src, rollup, ck)
    got2 = _finalized(read_rollup(spark, rollup))
    want2 = _finalized(
        monthly_events.groupBy("month", "event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"))
        .withColumn("month", F.col("month").cast("string")))
    assert got2 == want2
    assert first in {k[0] for k in got2}


def test_cli_rollup_and_compact(spark, monthly_events, tmp_path, capsys):
    import json
    from s3_elasticsearch_data_pipeline_spark.__main__ import main

    src = str(tmp_path / "src")
    monthly_events.repartition(8).write.partitionBy("month").parquet(src)
    rollup = str(tmp_path / "rollup")

    assert main(["rollup", "--source", src, "--rollup", rollup]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["partitions_added"]) >= 2
    assert main(["rollup", "--source", src, "--rollup", rollup]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["partitions_added"] == []

    assert main(["compact", "--path", src, "--max-avg-mb", "64"]) == 0
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep3["partitions_compacted"]) >= 2
    from s3_elasticsearch_data_pipeline_spark.maintenance import (
        partition_file_stats)
    after = partition_file_stats(spark, src).collect()
    assert all(r["n_files"] == 1 for r in after)
    assert sum(r["n_rows"] for r in after) == monthly_events.count()


def test_observed_write_collects_metrics_in_flight(spark, sf_smoke, tmp_path):
    """df.observe metrics arrive with the write job itself — no second
    scan to learn row counts / null counts."""
    import pyspark.sql.functions as F

    from s3_elasticsearch_data_pipeline_spark.maintenance import observed_write
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    orders = load_table(spark, sf_smoke, "orders")
    got = observed_write(
        orders, str(tmp_path / "obs_out"),
        metric_cols={
            "n_rows": F.count(F.lit(1)),
            "n_open": F.count_if(F.col("o_orderstatus") == "O"),
            "total_price": F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
                .cast("double")})
    expect_rows = orders.count()
    expect_open = orders.where(F.col("o_orderstatus") == "O").count()
    assert got["n_rows"] == expect_rows
    assert got["n_open"] == expect_open
    assert spark.read.parquet(str(tmp_path / "obs_out")).count() == expect_rows
