"""Entry point B — id-level reconciliation (SURVEY.md §3.2; reference
``ID-based-transfer.py:295-328``).

The reference runs this as a client-orchestrated distributed query:
Athena SQL → poll → CSV → pandas, ES ``search_after`` id pages, Python
set difference, chunked ``IN``-list re-fetch. Here the same logic is
three joins in one Catalyst plan:

    mismatches  = full-outer per-partition count compare (J4)
    missing_ids = anti-join of source ids vs sink ids, pruned to
                  mismatched partitions (J2)
    repair rows = semi-join fetch (J3) → keyed idempotent upsert (S10)

100 TB posture: J2 is the shuffle-heavy core. The mismatch pre-pass
prunes the scan to mismatched partitions only; the runtime bloom filter
(session.py) pre-reduces the probe side; AQE splits skewed id ranges.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import storage
from s3_elasticsearch_data_pipeline_spark.operators.diff import (
    count_mismatches, fetch_rows_for_ids, missing_ids)
from s3_elasticsearch_data_pipeline_spark.plans.incremental import (
    load_log_path)
from s3_elasticsearch_data_pipeline_spark.session import checkpoint_scope
from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
    _read_sink, delete_by_key, upsert_by_key)


@dataclass
class ReconcileReport:
    """Same observable facts the reference prints as its comparison
    table (``ID-based-transfer.py:94-106,228-249``)."""
    mismatched_partitions: list[str] = field(default_factory=list)
    rows_repaired: int = 0
    rows_pruned: int = 0


def reconcile(spark: SparkSession, source: DataFrame, sink_path: str,
              key: str = "month", id_col: str = "id",
              prune_orphans: bool = False) -> ReconcileReport:
    """Find partitions whose counts disagree, restore exactly the rows
    whose ids are missing from the sink. Idempotent for missing-row
    damage: a second run finds no mismatches.

    Reference parity note: like the reference (which only re-uploads
    missing ids, ``ID-based-transfer.py:241,295-323``), the default is
    add-only — rows present in the SINK but absent from the source are
    reported as a count mismatch every run but never deleted (the
    keyed sink's last-write-wins upsert already prevents duplicates).
    ``prune_orphans=True`` goes beyond the reference: orphan ids in
    the mismatched partitions are anti-joined out and DELETED from the
    sink (keyed partition rewrite), making the repair a true inverse —
    a second run is clean instead of reporting the same surplus
    forever. Count-equal partitions that hide one orphan plus one
    missing row stay invisible either way (J4 compares counts — the
    documented contract)."""
    if not storage.exists(spark, sink_path):
        raise FileNotFoundError(
            f"serving table {sink_path} does not exist; run incremental_load first")
    # the sink's partition values as written, typed as the source's: an
    # inferred ``month=01`` would read as 1 and match no source row
    sink = _read_sink(spark, sink_path, source.schema[key])

    mismatch_keys = [r[0] for r in
                     count_mismatches(source, sink, key).select(key).collect()]
    if not mismatch_keys:
        return ReconcileReport()

    pred = F.col(key).isin(mismatch_keys)
    todo_ids = missing_ids(source, sink, id_col, partition_pred=pred)
    repair = fetch_rows_for_ids(source, todo_ids, id_col, partition_pred=pred)
    with checkpoint_scope(spark):
        orphans = None
        if prune_orphans:
            # materialize BEFORE the upsert rewrites the files this plan
            # reads (same hazard the repair-count collect documents below)
            orphans = (missing_ids(sink, source, id_col, partition_pred=pred)
                       .localCheckpoint(eager=True))
        # Materialize the per-partition repair counts BEFORE the upsert:
        # the repair plan reads the current sink files (via the id diff),
        # which the upsert replaces — re-executing it afterwards would hit
        # deleted files. The counts are tiny (one row per mismatched
        # partition).
        log_rows = [(str(r[0]), r[1]) for r in
                    (repair.groupBy(F.col(key).cast("string"))
                     .agg(F.count(F.lit(1))).collect())]
        n = sum(c for _, c in log_rows)
        if n:
            upsert_by_key(spark, repair, sink_path, key_col=id_col,
                          partition_col=key)
            # record the repair in the load log (append; the log is an
            # event log — "what's loaded" = distinct partition keys)
            (spark.createDataFrame(log_rows,
                                   "partition_key string, rows_loaded long")
             .write.mode("append").parquet(load_log_path(sink_path)))
        n_pruned = 0
        if orphans is not None:
            # NB: a partition holding both repairs and orphans is rewritten
            # twice (upsert merge, then orphan delete) — bounded by the
            # damage-sized mismatch set, accepted over complicating the
            # keyed merge with a delete channel.
            n_pruned = delete_by_key(spark, orphans, sink_path,
                                     key_col=id_col, partition_col=key)
    return ReconcileReport(
        mismatched_partitions=sorted(map(str, mismatch_keys)),
        rows_repaired=n, rows_pruned=n_pruned)


def reconcile_wire(spark: SparkSession, source: DataFrame, es_url: str,
                   index: str, key: str = "month",
                   id_col: str = "id", nslices: int | None = None,
                   prune_orphans: bool = False,
                   **wire_kwargs) -> ReconcileReport:
    """Lifecycle B end-to-end OVER THE WIRE — the reference's whole
    ``ID-based-transfer.py`` job with both ends on HTTP and all heavy
    work on executors:

        sink counts  = terms aggregation computed INSIDE Elasticsearch
                       (``es_terms_counts`` — composite agg with
                       ``after_key`` paging), ~one bucket per partition
                       over the wire, exactly the reference's
                       ``data-s3-elastic-transfer.py:51-68`` shape;
        mismatches   = J4 full-outer count compare per partition;
        missing ids  = J2 anti-join pruned to mismatched partitions —
                       only HERE does the live index get scanned
                       (parallel sliced-keyset read, not a driver page
                       loop), so the common scheduled no-mismatch run
                       issues ONE composite-agg request and ZERO scans;
        repair       = J3 semi-join fetch → executor-parallel ``_bulk``
                       re-index keyed by ``id`` (idempotent re-runs).

    The agg pushdown is MAPPING-GATED like the filter pushdown: a key
    field that is analyzed text (or an unreadable mapping) falls back
    to aggregating the sliced scan in Spark — same counts, full-scan
    cost. A second run finds no mismatches — same add-only semantics as
    the parquet-sink reconcile; ``prune_orphans=True`` additionally
    DELETES sink rows whose ids are absent from the source (bulk
    delete actions, idempotent — see :func:`reconcile`'s contract
    note) within the mismatched partitions.
    """
    from s3_elasticsearch_data_pipeline_spark.sinks import es_wire
    from s3_elasticsearch_data_pipeline_spark.sources.es_http import (
        _AGGREGATABLE_ES_TYPES, _fetch_field_props, date_agg_format,
        es_terms_counts, read_es_index)
    from s3_elasticsearch_data_pipeline_spark.operators.diff import (
        count_mismatches_against_counts)

    # read parallelism follows the cluster unless pinned by the caller
    # (a fixed small default would cap a 1000-executor scan at 4 tasks)
    def sink_scan():
        return read_es_index(spark, es_url, index, nslices=nslices)

    sink = None
    key_spec = (_fetch_field_props(es_url, index, timeout_s=10.0)
                or {}).get(key) or {}
    key_type = key_spec.get("type")
    # date keys join the fast path when the mapping declares an
    # explicit single format: the composite source then renders bucket
    # keys in the stored representation (date_agg_format docstring),
    # so the reference's date-partitioned deployment shape
    # (README.md:33 `date=2025-10-01`) gets the zero-scan reconcile too
    date_fmt = date_agg_format(key_spec)
    if key_type in _AGGREGATABLE_ES_TYPES or date_fmt is not None:
        buckets = es_terms_counts(es_url, index, key,
                                  value_format=date_fmt)
        sink_counts = spark.createDataFrame(
            [(str(k), int(n)) for k, n in buckets],
            f"{key} string, sink_cnt long")
        mismatch = count_mismatches_against_counts(source, sink_counts,
                                                   key)
    else:
        sink = sink_scan()
        mismatch = count_mismatches(source, sink, key)
    mismatch_keys = [r[0] for r in mismatch.select(key).collect()]
    if not mismatch_keys:
        return ReconcileReport()
    if sink is None:
        sink = sink_scan()
    pred = F.col(key).isin(mismatch_keys)
    todo_ids = missing_ids(source, sink, id_col, partition_pred=pred)
    repair = fetch_rows_for_ids(source, todo_ids, id_col,
                                partition_pred=pred)
    rep = es_wire.write_df(repair, es_url, index, id_col=id_col,
                           **wire_kwargs)
    if rep.batches_failed:
        # a failed repair must not masquerade as a completed reconcile
        raise RuntimeError(
            f"wire repair failed: {rep.batches_failed}/{rep.batches} "
            f"batches, {rep.rows_failed} rows unrepaired; samples: "
            f"{rep.error_samples}")
    n_pruned = 0
    if prune_orphans:
        orphans = missing_ids(sink, source, id_col, partition_pred=pred)
        drep = es_wire.delete_df(orphans, es_url, index, id_col=id_col,
                                 **wire_kwargs)
        if drep.batches_failed:
            raise RuntimeError(
                f"orphan prune failed: {drep.batches_failed}/"
                f"{drep.batches} batches, {drep.rows_failed} rows "
                f"undeleted; samples: {drep.error_samples}")
        n_pruned = drep.rows_sent
    return ReconcileReport(
        mismatched_partitions=sorted(map(str, mismatch_keys)),
        rows_repaired=rep.rows_sent, rows_pruned=n_pruned)
