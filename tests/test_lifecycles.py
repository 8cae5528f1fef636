"""The three reference lifecycles (SURVEY.md §3) as properties:
idempotency, delete-then-restore, write-then-read-back — the
reference's own operational checks turned into assertions."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.plans.backfill import (
    backfill_partition, describe)
from s3_elasticsearch_data_pipeline_spark.plans.incremental import incremental_load
from s3_elasticsearch_data_pipeline_spark.plans.reconcile import reconcile
from s3_elasticsearch_data_pipeline_spark.streaming.incremental_stream import (
    incremental_stream_load)
from tests.conftest import spelled


@pytest.fixture
def source(spark, sf_smoke):
    """The reference's one logical table, synthesized from orders:
    id (string key), month (partition), value."""
    return (spark.read.parquet(os.path.join(sf_smoke, "orders.parquet"))
            .select(F.col("o_orderkey").cast("string").alias("id"),
                    F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                    F.col("o_totalprice").alias("value")))


def test_incremental_load_idempotent(spark, source, tmp_path,
                                     spelling="bare"):
    sink = spelled(tmp_path, spelling) + "/serving"
    r1 = incremental_load(spark, source, sink)
    assert r1.rows_loaded == source.count()
    assert len(r1.partitions_loaded) > 0
    r2 = incremental_load(spark, source, sink)
    assert r2.partitions_loaded == [] and r2.rows_loaded == 0
    assert spark.read.parquet(sink).count() == source.count()


def test_incremental_load_idempotent_file_uri(spark, source, tmp_path):
    test_incremental_load_idempotent(spark, source, tmp_path, "file_uri")


def test_incremental_load_skips_loaded_partition(spark, source, tmp_path):
    """Reference semantics: a month already in the sink is skipped even
    if its rows changed (late-data blind spot, data-s3-elastic-transfer
    .py:283-285); reconcile is the catch-up."""
    sink = str(tmp_path / "serving")
    months = [r[0] for r in source.select("month").distinct().collect()]
    first = sorted(months)[0]
    incremental_load(spark, source.where(F.col("month") == first).limit(10), sink)
    r = incremental_load(spark, source, sink)
    assert first not in r.partitions_loaded
    assert sorted(r.partitions_loaded) == sorted(m for m in months if m != first)


def test_reconcile_restores_missing_rows(spark, source, tmp_path,
                                        spelling="bare"):
    sink = spelled(tmp_path, spelling) + "/serving"
    incremental_load(spark, source, sink)
    # damage: drop 25 rows from one month
    serving = spark.read.parquet(sink)
    victim_month = serving.select("month").distinct().orderBy("month").first()[0]
    doomed = (serving.where(F.col("month") == victim_month)
              .select("id").limit(25))
    n_doomed = doomed.count()  # the month may hold fewer than 25 rows
    assert n_doomed > 0
    kept = serving.join(doomed, "id", "left_anti")
    tmp2 = str(tmp_path / "serving2")
    kept.write.partitionBy("month").parquet(tmp2)
    shutil.rmtree(tmp_path / "serving")
    os.rename(tmp2, tmp_path / "serving")

    report = reconcile(spark, source, sink)
    assert report.mismatched_partitions == [victim_month]
    assert report.rows_repaired == n_doomed
    restored = spark.read.parquet(sink)
    assert restored.count() == source.count()
    assert restored.select("id").distinct().count() == source.count()
    # second pass: clean
    again = reconcile(spark, source, sink)
    assert again.mismatched_partitions == [] and again.rows_repaired == 0


def test_reconcile_restores_missing_rows_file_uri(spark, source, tmp_path):
    test_reconcile_restores_missing_rows(spark, source, tmp_path, "file_uri")


def test_backfill_and_describe(spark, source, tmp_path):
    out = str(tmp_path / "backfilled")
    report = backfill_partition(spark, source, out, "month")
    assert report.rows_written == report.rows_in == source.count()
    assert len(report.partitions) == source.select("month").distinct().count()
    # hive layout on disk
    assert any(d.startswith("month=") for d in os.listdir(out))
    d = describe(spark.read.parquet(out))
    assert set(d["columns"]) == {"id", "value", "month"}
    assert len(d["sample"]) == 10


def test_streaming_incremental_exactly_once(spark, source, tmp_path):
    """The streaming variant: second invocation with no new files is a
    no-op; a late file in an old partition IS picked up (fixes the
    batch path's blind spot)."""
    src_dir = str(tmp_path / "src")
    sink = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    months = sorted(r[0] for r in source.select("month").distinct().collect())
    source.where(F.col("month") == months[0]) \
        .write.partitionBy("month").mode("append").parquet(src_dir)

    incremental_stream_load(spark, src_dir, sink, ckpt)
    n1 = spark.read.parquet(sink).count()
    assert n1 == source.where(F.col("month") == months[0]).count()

    # no new files → no change
    incremental_stream_load(spark, src_dir, sink, ckpt)
    assert spark.read.parquet(sink).count() == n1

    # late file into the SAME (old) month → picked up exactly once
    late = source.where(F.col("month") == months[0]).limit(7) \
        .withColumn("id", F.concat(F.lit("late-"), F.col("id")))
    late.write.partitionBy("month").mode("append").parquet(src_dir)
    incremental_stream_load(spark, src_dir, sink, ckpt)
    assert spark.read.parquet(sink).count() == n1 + 7


def test_load_log_tracks_loads(spark, source, tmp_path):
    from s3_elasticsearch_data_pipeline_spark.plans.incremental import (
        read_load_log)
    sink = str(tmp_path / "serving")
    incremental_load(spark, source, sink)
    log = read_load_log(spark, sink)
    assert log is not None
    logged = {r.partition_key: r.rows_loaded for r in log.collect()}
    truth = {r.month: r.cnt for r in
             source.groupBy("month").agg(F.count(F.lit(1)).alias("cnt"))
             .collect()}
    assert logged == truth
    # second load appends nothing (no missing partitions)
    incremental_load(spark, source, sink)
    assert read_load_log(spark, sink).count() == len(truth)


def test_cli_subcommands_cover_reference_scripts(spark, tmp_path, capsys):
    """Script-for-script parity: each reference entry point has a CLI
    subcommand; drive describe/backfill/incremental/reconcile in-process
    against a small source table."""
    import json
    from s3_elasticsearch_data_pipeline_spark.__main__ import main

    src = str(tmp_path / "src.parquet")
    (spark.createDataFrame(
        [(str(i), f"2024-0{1 + i % 3}", float(i)) for i in range(60)],
        "id string, month string, value double")
     .write.parquet(src))

    assert main(["describe", "--path", src]) == 0
    desc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(c in str(desc) for c in ("id", "month", "value"))

    out = str(tmp_path / "layout")
    assert main(["backfill", "--source", src, "--out", out,
                 "--partition", "month"]) == 0
    capsys.readouterr()

    sink = str(tmp_path / "serving")
    assert main(["incremental", "--source", src, "--sink", sink]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(rep["partitions_loaded"]) == ["2024-01", "2024-02", "2024-03"]
    assert rep["rows_loaded"] == 60

    assert main(["reconcile", "--source", src, "--sink", sink]) == 0
    capsys.readouterr()


def test_incremental_load_empty_source_is_noop(spark, source, tmp_path):
    """An empty source (or a source whose partitions are all loaded)
    must no-op cleanly, including on the very first run when the sink
    does not exist yet."""
    sink = str(tmp_path / "serving")
    empty = source.where(F.lit(False))
    rep = incremental_load(spark, empty, sink)
    assert rep.partitions_loaded == [] and rep.rows_loaded == 0
    assert not os.path.exists(sink)  # nothing was written


def test_reconcile_is_add_only_for_sink_extra_rows(spark, source, tmp_path):
    """Reference parity (ID-based-transfer.py:241): reconciliation only
    re-adds missing ids — rows in the sink that the source never had
    are reported as a mismatch but NOT deleted."""
    sink = str(tmp_path / "serving")
    incremental_load(spark, source, sink)
    # inject a foreign row into one partition of the sink
    some_month = source.select("month").distinct().limit(1).collect()[0][0]
    foreign = spark.createDataFrame(
        [("ghost-row", some_month, 1.0)], "id string, month string, value double")
    foreign.write.mode("append").partitionBy("month").parquet(sink)
    before = spark.read.parquet(sink).count()
    assert spark.read.parquet(sink).where(
        F.col("id") == "ghost-row").count() == 1
    rep = reconcile(spark, source, sink)
    assert rep.mismatched_partitions == [str(some_month)]
    assert rep.rows_repaired == 0
    after = spark.read.parquet(sink)
    assert after.count() == before
    assert after.where(F.col("id") == "ghost-row").count() == 1


def test_reconcile_prune_orphans_is_the_inverse_of_damage(spark, source,
                                                          tmp_path):
    """Opt-in orphan pruning makes reconcile a true inverse: orphans
    in two partitions plus a missing row in a third all heal in one
    prune_orphans=True pass, a second run is clean, and the default
    stays add-only. A partition whose orphan and missing row CANCEL in
    the count compare stays invisible — the documented J4 contract —
    asserted explicitly at the end."""
    sink = str(tmp_path / "serving")
    incremental_load(spark, source, sink)
    months = [r[0] for r in
              source.select("month").distinct().orderBy("month")
              .limit(3).collect()]
    # damage A: orphan rows in two partitions
    foreign = spark.createDataFrame(
        [("ghost-1", months[0], 1.0), ("ghost-2", months[1], 2.0)],
        "id string, month string, value double")
    foreign.write.mode("append").partitionBy("month").parquet(sink)
    # damage B: drop one real row from a THIRD month
    serving = spark.read.parquet(sink)
    doomed = (serving.where(F.col("month") == months[2])
              .select("id").limit(1))
    kept = serving.join(doomed, "id", "left_anti")
    tmp2 = str(tmp_path / "serving2")
    kept.write.partitionBy("month").parquet(tmp2)
    shutil.rmtree(sink)
    os.rename(tmp2, sink)

    # default: add-only — ghosts survive (reference parity), the
    # missing row is repaired
    rep0 = reconcile(spark, source, sink)
    assert rep0.rows_pruned == 0 and rep0.rows_repaired == 1
    assert spark.read.parquet(sink).where(
        F.col("id").startswith("ghost")).count() == 2

    rep = reconcile(spark, source, sink, prune_orphans=True)
    assert rep.rows_pruned == 2 and rep.rows_repaired == 0
    healed = spark.read.parquet(sink)
    assert healed.where(F.col("id").startswith("ghost")).count() == 0
    # exact inverse: sink content == source content
    assert healed.count() == source.count()
    assert (healed.join(source.select("id"), "id", "left_anti")
            .count() == 0)
    # second pass: clean
    again = reconcile(spark, source, sink, prune_orphans=True)
    assert again == type(again)()
    # the documented blind spot: orphan + missing row in ONE partition
    # cancel in the count compare and stay invisible even with pruning
    cancel_month = months[0]
    spark.createDataFrame(
        [("ghost-3", cancel_month, 3.0)],
        "id string, month string, value double") \
        .write.mode("append").partitionBy("month").parquet(sink)
    serving = spark.read.parquet(sink)
    doomed = (serving.where((F.col("month") == cancel_month)
                            & ~F.col("id").startswith("ghost"))
              .select("id").limit(1))
    kept = serving.join(doomed, "id", "left_anti")
    tmp3 = str(tmp_path / "serving3")
    kept.write.partitionBy("month").parquet(tmp3)
    shutil.rmtree(sink)
    os.rename(tmp3, sink)
    blind = reconcile(spark, source, sink, prune_orphans=True)
    assert blind == type(blind)()  # count-equal damage is invisible
    assert spark.read.parquet(sink).where(
        F.col("id") == "ghost-3").count() == 1


def test_delete_by_key_removes_emptied_partition_dirs(spark, source,
                                                      tmp_path):
    """Dynamic partition overwrite only rewrites partitions present in
    the written frame — a partition whose EVERY row is doomed must
    still disappear (explicit directory cleanup), and untouched
    partitions must keep their files."""
    from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
        delete_by_key)
    sink = str(tmp_path / "serving")
    incremental_load(spark, source, sink)
    victim = source.select("month").distinct().orderBy("month").first()[0]
    doom = source.where(F.col("month") == victim).select("id")
    n_doomed = doom.count()
    n = delete_by_key(spark, doom, sink)
    assert n == n_doomed
    assert not os.path.isdir(os.path.join(sink, f"month={victim}"))
    left = spark.read.parquet(sink)
    assert left.count() == source.count() - n_doomed
    assert left.where(F.col("month") == victim).count() == 0
    # idempotent: deleting the same keys again removes nothing
    assert delete_by_key(spark, doom, sink) == 0


def test_delete_by_key_handles_null_and_escaped_partition_values(
        spark, tmp_path, spelling="bare"):
    """Partition values that don't round-trip through str()-to-dirname
    — null (lands in __HIVE_DEFAULT_PARTITION__) and Hive-escaped
    specials (e.g. ':') — must still delete correctly: the touched set
    comes from the victim rows' actual FILES, not a rendered path."""
    from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
        delete_by_key)
    sink = spelled(tmp_path, spelling) + "/serving"
    local = tmp_path / "serving"
    df = spark.createDataFrame(
        [("a", None, 1.0), ("b", None, 2.0),
         ("c", "2024:01", 3.0), ("d", "2024:01", 4.0),
         ("e", "2024-02", 5.0)],
        "id string, month string, value double")
    df.write.partitionBy("month").parquet(sink)
    assert {"month=__HIVE_DEFAULT_PARTITION__",
            "month=2024%3A01"} <= set(os.listdir(local))
    # delete one row from the null partition and one from the escaped
    doom = spark.createDataFrame([("a",), ("c",)], "id string")
    assert delete_by_key(spark, doom, sink) == 2
    left = {(r.id, r.month) for r in spark.read.parquet(sink).collect()}
    assert left == {("b", None), ("d", "2024:01"), ("e", "2024-02")}
    # now empty both partitions out entirely — dirs must disappear
    doom2 = spark.createDataFrame([("b",), ("d",)], "id string")
    assert delete_by_key(spark, doom2, sink) == 2
    assert sorted(d for d in os.listdir(local)
                  if d.startswith("month=")) == ["month=2024-02"]
    left = {(r.id, r.month) for r in spark.read.parquet(sink).collect()}
    assert left == {("e", "2024-02")}


def test_delete_by_key_handles_null_and_escaped_partition_values_file_uri(
        spark, tmp_path):
    test_delete_by_key_handles_null_and_escaped_partition_values(
        spark, tmp_path, "file_uri")
