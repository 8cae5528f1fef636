"""Streaming near-dup dedup-at-ingest (M4 — the production corpus
ingest loop, streaming-native).

The batch operator ``operators.dedup.incremental_lsh_dedup`` shows the
shape once: probe an incoming batch against the PERSISTED MinHash-LSH
band index, drop near-duplicates, admit the rest. This module runs
that loop continuously over a document feed with Structured Streaming:

- each micro-batch is probed against the index as persisted by all
  PRIOR batches, then against itself (lower doc_id wins), so admission
  order is deterministic;
- survivors append to the corpus sink and their band rows append to
  the index, both under ``epoch=<id>`` (the replay rule of the drain
  loop, ``streaming.epochs``).

Scale shape: the probe equi-joins (band, bucket) — candidates only
where a band collides, never corpus×batch; the index is bands×docs
compact rows (the thing a 100 TB pipeline persists anyway); per-epoch
index appends are small files that ``maintenance.compact_partitions``
can heal offline. A serving-sized micro-batch skips the distributed
plan: it fetches only the index rows its buckets select and decides
on the driver (see ``lsh_ingest_stream``, *Jobs*).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from s3_elasticsearch_data_pipeline_spark import offload, storage
from s3_elasticsearch_data_pipeline_spark.functions.textfns import tokens
from s3_elasticsearch_data_pipeline_spark.operators.dedup import (
    _lsh_banded, _resolve_bucket_cap, drop_hot_buckets, portable_hash60,
    sig_agreement)
# read_corpus is re-exported: callers import it from this module
from s3_elasticsearch_data_pipeline_spark.streaming.epochs import (
    _read_optional_parquet, drain, read_corpus)  # noqa: F401


_HASH_MODE_MARKER = "_HASH_MODE"


def _check_and_pin_hash_mode(spark: SparkSession, index_path: str,
                             hash_mode: str) -> None:
    """Fail fast if ``index_path`` was built with a different
    ``hash_mode`` than this call's — mixed-mode probes never collide,
    which would silently admit every near-duplicate. The mode is
    pinned in a ``_HASH_MODE`` marker (underscore prefix = invisible
    to parquet directory listing, like ``_SUCCESS``) written before
    the first epoch; an index that predates the marker (parquet
    present, marker absent) is refused for the same reason — the
    build mode is unknowable, so probing it is a guess."""
    marker = f"{index_path}/{_HASH_MODE_MARKER}"
    has_index = any(e.startswith("epoch=")
                    for e in storage.children(spark, index_path))
    built_with = storage.read_text(spark, marker)
    if built_with is not None:
        built_with = built_with.strip()
        if built_with == hash_mode:
            return
        if has_index:
            raise ValueError(
                f"LSH band index at {index_path} was built with "
                f"hash_mode={built_with!r} but this ingest call uses "
                f"hash_mode={hash_mode!r}; mixed modes never collide "
                f"(every duplicate would be admitted). Probe with the "
                f"recorded mode, or rebuild the index.")
        # marker present but ZERO epochs: a first run that failed (or
        # processed only empty batches) before producing any index
        # state. The index is empty, so re-pinning to the new mode is
        # safe — refusing here would permanently wedge a retry that
        # chose a different hash_mode. Fall through to the re-write.
    elif has_index:
        raise ValueError(
            f"LSH band index at {index_path} has no {_HASH_MODE_MARKER} "
            f"marker — its build hash_mode is unknown, so probing it "
            f"would be a guess (a mismatch silently disables dedup). "
            f"Write the marker with the known build mode, or rebuild.")
    storage.write_text(spark, marker, hash_mode)


def _banded_with_fallback(df: DataFrame, n: int, num_hashes: int,
                          bands: int, hash_mode: str) -> DataFrame:
    """The batch's probe rows: the LSH band rows of every doc with at
    least ``n`` tokens, plus one exact-text fallback row (band −1,
    bucket = text hash, constant signature) for every other doc —
    fewer than ``n`` tokens, empty text or null text. The fallback
    predicate is the exact complement of ``_lsh_banded``'s shingle
    filter, so a doc lands in exactly one channel without a second
    banding pass to find out which."""
    text_hash = (portable_hash60 if hash_mode == "portable"
                 else F.xxhash64)
    banded = _lsh_banded(df, n, num_hashes, bands, hash_mode)
    # size(tokens(null)) is null: the coalesce routes null text here
    shingled = F.coalesce(F.size(tokens(F.col("text"))) >= n,
                          F.lit(False))
    short = (df.where(~shingled)
             .select("doc_id",
                     F.array_repeat(text_hash("text"), num_hashes)
                     .alias("sig"),
                     F.lit(-1).alias("band"),
                     text_hash("text").alias("bucket")))
    return banded.unionByName(short)


_PROBE_COLUMNS = ("doc_id", "sig", "band", "bucket")


def _probe_rows_if_serving_sized(probe: DataFrame, num_hashes: int):
    """The batch's probe rows as an Arrow table, or None over the
    serving caps (:func:`offload.fetch`, site ``lsh_ingest.batch``).
    One task reads the batch's partitions in turn and stops after
    ``cap+1`` rows, so an over-cap batch signs only the docs they come
    from, however many partitions it spans."""
    return offload.fetch(
        probe.select(*_PROBE_COLUMNS), "lsh_ingest.batch",
        offload.MAX_DRIVER_QUERIES, offload.MAX_DRIVER_QUERY_BYTES,
        num_hashes * 8, _one_task=True)[0]


def _index_rows_if_serving_sized(index: DataFrame, num_hashes: int):
    """The rows of a filtered index scan as an Arrow table, or None over
    the serving caps (site ``lsh_ingest.index``). The scan keeps its
    parallelism: the first of its scale-up rounds reads as many
    partitions as the byte cap holds at ``cap+1`` rows each, so an
    index of up to that many files is fetched in one job."""
    return offload.fetch(
        index.select(*_PROBE_COLUMNS), "lsh_ingest.index",
        offload.MAX_DRIVER_QUERIES, offload.MAX_DRIVER_QUERY_BYTES,
        num_hashes * 8)[0]


def _joinable(rows, num_hashes: int, max_bucket_docs: int | None):
    """``(ids, keys, sigs)`` of the rows a probe join can match, with
    the rules of :func:`drop_hot_buckets` and the Spark equi-join: a
    null bucket never matches, and under a cap the rows of a
    ``(band, bucket)`` holding more than ``max_bucket_docs`` of these
    rows drop out, band −1 exempt. ``keys`` is an (n, 2) array of
    (band, bucket), ``sigs`` an (n, num_hashes) array."""
    import numpy as np
    rows = rows.filter(pc.is_valid(rows.column("bucket")))
    keys = np.array(list(zip(rows.column("band").to_pylist(),
                             rows.column("bucket").to_pylist())),
                    dtype=np.int64).reshape(-1, 2)
    if max_bucket_docs is not None and rows.num_rows:
        _, inv, counts = np.unique(keys, axis=0, return_inverse=True,
                                   return_counts=True)
        cool = (counts[inv.reshape(-1)] <= max_bucket_docs) \
            | (keys[:, 0] == -1)
        rows = rows.filter(pa.array(cool))
        keys = keys[cool]
    sigs = np.array(rows.column("sig").to_pylist(),
                    dtype=np.int64).reshape(rows.num_rows, num_hashes)
    return rows.column("doc_id").to_pylist(), keys, sigs


def _matched(p_keys, p_sigs, i_keys, i_sigs, num_hashes: int,
             threshold: float, ids=None):
    """Per ``p`` row: does some ``i`` row share its (band, bucket) with
    a signature agreement of at least ``threshold``? The agreement is
    the same double arithmetic as :func:`sig_agreement` (agreeing
    positions / ``num_hashes``). With ``ids`` = (p ids, i ids), only
    an ``i`` row of a LOWER id counts. Candidate pairs are scored in
    chunks whose compared signatures stay within
    ``offload.MAX_DRIVER_QUERY_BYTES``, so a hot bucket never
    materializes its whole pair space at once."""
    import numpy as np
    n_p = len(p_keys)
    hit = np.zeros(n_p, dtype=bool)
    if not n_p or not len(i_keys):
        return hit
    _, inv = np.unique(np.concatenate([p_keys, i_keys]), axis=0,
                       return_inverse=True)
    inv = inv.reshape(-1)
    gp, gi = inv[:n_p], inv[n_p:]
    by_group = np.argsort(gi, kind="stable")
    counts = np.bincount(gi, minlength=int(inv.max()) + 1)
    starts = np.cumsum(counts) - counts
    per_p = counts[gp]
    ends = np.cumsum(per_p)
    budget = max(offload.MAX_DRIVER_QUERY_BYTES // (num_hashes * 8), 1)
    lo = 0
    while lo < n_p:
        hi = max(int(np.searchsorted(ends, ends[lo] - per_p[lo] + budget,
                                     side="right")), lo + 1)
        reps = per_p[lo:hi]
        total = int(reps.sum())
        if total:
            pp = np.repeat(np.arange(lo, hi), reps)
            offset = np.arange(total) - np.repeat(np.cumsum(reps) - reps,
                                                  reps)
            ii = by_group[np.repeat(starts[gp[lo:hi]], reps) + offset]
            ok = ((p_sigs[pp] == i_sigs[ii]).sum(axis=1) / num_hashes
                  >= threshold)
            if ids is not None:
                ok &= ids[1][ii] < ids[0][pp]
            hit[pp[ok]] = True
        lo = hi
    return hit


def _driver_drops(probe_rows, prior_rows, num_hashes: int,
                  threshold: float, max_bucket_docs: int | None) -> set:
    """Doc ids of the batch that lose admission, decided on the driver
    from the Arrow probe rows of the batch and of the prior index,
    with the rules of the distributed decision: the hot-bucket cap is
    counted on each side separately (band −1 exempt), a match against
    a lower id of the same batch or against a prior index row drops
    the doc, and a null doc id never compares lower or higher, so it
    takes no part in the in-batch rule and is never dropped (the
    anti-join keeps it)."""
    import numpy as np
    ids, keys, sigs = _joinable(probe_rows, num_hashes, max_bucket_docs)
    hit = np.zeros(len(ids), dtype=bool)
    if prior_rows.num_rows:
        _, i_keys, i_sigs = _joinable(prior_rows, num_hashes,
                                      max_bucket_docs)
        hit |= _matched(keys, sigs, i_keys, i_sigs, num_hashes, threshold)
    known = np.array([i is not None for i in ids], dtype=bool)
    if known.any():
        k_ids = np.asarray([i for i in ids if i is not None])
        hit[known] |= _matched(keys[known], sigs[known], keys[known],
                               sigs[known], num_hashes, threshold,
                               ids=(k_ids, k_ids))
    return {i for i, h in zip(ids, hit) if h and i is not None}


def lsh_ingest_stream(spark: SparkSession, source_path: str,
                      corpus_path: str, index_path: str,
                      checkpoint_path: str, n: int = 3,
                      num_hashes: int = 16, bands: int = 4,
                      threshold: float = 0.5, schema=None,
                      max_bucket_docs: int | None | str = "auto",
                      fault_hook=None,
                      hash_mode: str = "xxhash64") -> None:
    """Drain all new document files through the dedup-at-ingest loop
    (``streaming.epochs.drain``: run repeatedly; each call processes
    exactly the files that arrived since the last call).

    Admission rule (deterministic): a document is DROPPED when its
    estimated Jaccard (signature agreement) against any already-
    admitted corpus document, or any lower-``doc_id`` document of the
    same micro-batch, reaches ``threshold``; otherwise it is admitted
    and immediately becomes part of the index later arrivals probe.
    Documents too short to shingle (< ``n`` tokens) participate via an
    exact-text fallback channel (band −1, bucket = text hash,
    constant signature): near-dup is ill-defined below the shingle
    size, so they dedup EXACTLY instead of being invisible to the
    index (an unindexed short doc would be re-admitted on every
    future drop).

    ``schema``: pass the source schema to skip the batch-read
    inference pass (which lists the whole source tree on every call).

    ``max_bucket_docs``: the hot-bucket guard
    (``operators.dedup.drop_hot_buckets``) applied to every probe join
    input — without it one boilerplate micro-batch pays batch² against
    itself and batch × corpus against the accumulated band index. The
    exact-text fallback channel (band −1) is EXEMPT: byte-identical
    short docs keep deduping exhaustively. Capped docs are admitted
    and still indexed — later cool-bucket arrivals see them. Default
    ``"auto"`` (= ``dedup.DEFAULT_MAX_BUCKET_DOCS``) keeps the
    production loop df²-safe; ``None`` is the explicit exhaustive
    opt-out the registry oracle query passes.

    ``fault_hook(stage, epoch_id)``: called after the
    ``"after_corpus_write"`` and ``"after_index_write"`` stages.

    Jobs: each epoch decides admission once, on one of two paths,
    chosen only by the observed size (``offload.MAX_DRIVER_QUERIES``
    rows and ``offload.MAX_DRIVER_QUERY_BYTES``; each choice is logged
    as a decision event, sites ``lsh_ingest.batch`` and
    ``lsh_ingest.index``):

    - **driver path**, for serving-sized epochs. ``probe build``
      collects the batch's probe rows with one ``limit(cap+1)``
      action in one task; ``index fetch`` reads only the prior index
      rows that share a bucket with the batch, in one pruned scan with
      a literal bucket filter (one job while the index has no more
      files than the byte cap holds at ``cap+1`` rows each, Spark's
      limit scale-up rounds beyond). The drops are decided on the
      driver in numpy, with the rules of the distributed plan.
      ``corpus write`` filters the batch by the dropped ids and
      ``index write`` writes the kept probe rows. Six jobs for a
      steady epoch, the batch check included.
    - **distributed path**, when the batch's probe rows or the fetched
      index rows exceed the caps. The probe is the batch's checkpoint
      (``probe build``; its capped collect has sent the driver
      ``cap+1`` rows), or the collected probe rows when only the index
      fetch was over. ``admission decision`` caches the dropped doc
      ids once (the probe joins against the batch and the index), and
      ``corpus write`` and ``index write`` anti-join against them.

    ``hash_mode="portable"``: the engine-portable hash family for the
    whole admission decision — signatures, band buckets, AND the
    exact-text fallback channel (md5-low-60 instead of xxhash64) — so
    a second engine can replay every epoch; the registry runs this
    mode to carry a DuckDB oracle. xxhash64 stays the scale default.
    An index must be probed with the hash_mode it was built with:
    mixed modes simply never collide, so a silent mismatch would admit
    every duplicate. The mode is therefore PERSISTED with the index
    (``_HASH_MODE`` marker, written before the first epoch) and every
    call fails fast on disagreement instead of bypassing dedup.
    """
    fault = fault_hook or (lambda stage, epoch_id: None)
    _check_and_pin_hash_mode(spark, index_path, hash_mode)
    max_bucket_docs = _resolve_bucket_cap(max_bucket_docs)
    est = sig_agreement(F.col("p.sig"), F.col("i.sig"), num_hashes)

    def admission_drops(probe: DataFrame, epoch_id: int) -> DataFrame:
        """Doc ids of the batch that lose admission: a match against
        the persisted index, or against a lower id of the same batch."""
        # join inputs get the hot-bucket cap (band −1 exempt); the
        # UNCAPPED probe frame still feeds the index append — capped
        # docs are admitted but must stay visible to later cool-bucket
        # arrivals
        cool_probe = drop_hot_buckets(probe, max_bucket_docs,
                                      exempt_band=-1)
        # vs lower-id docs of the SAME batch (deterministic greedy:
        # the lower id is admitted unless it matched the corpus)
        a, b = cool_probe.alias("p"), cool_probe.alias("i")
        dropped = (
            a.join(b, (F.col("p.band") == F.col("i.band"))
                   & (F.col("p.bucket") == F.col("i.bucket"))
                   & (F.col("p.doc_id") > F.col("i.doc_id")))
            .where(est >= threshold)
            .select(F.col("p.doc_id").alias("doc_id")))
        # vs the persisted index (everything admitted by prior epochs,
        # EXCLUDING any half-written copy of this very epoch — replay
        # must see the same prior-state the failed attempt saw)
        index = _read_optional_parquet(probe.sparkSession, index_path)
        if index is not None:
            prior = drop_hot_buckets(
                index.where(F.col("epoch") != epoch_id),
                max_bucket_docs, exempt_band=-1)
            dropped = dropped.unionByName(
                cool_probe.alias("p")
                .join(prior.alias("i"),
                      (F.col("p.band") == F.col("i.band"))
                      & (F.col("p.bucket") == F.col("i.bucket")))
                .where(est >= threshold)
                .select(F.col("p.doc_id").alias("doc_id")))
        return dropped.distinct()

    def distributed_epoch(batch_df: DataFrame, probe: DataFrame,
                          epoch_id: int, phase) -> None:
        """Admission by the probe joins; ``probe`` is materialized (a
        checkpoint or the collected rows), so the decision and the
        index write share one signing of the batch."""
        dropped = None
        try:
            # the decision runs ONCE: both writes below read the cached
            # ids (a lazy frame re-ran the whole probe join per write),
            # and the action records their real size, so each
            # anti-join plans as a broadcast instead of shuffling both
            # sides
            phase("admission decision")
            dropped = admission_drops(probe, epoch_id).persist()
            any_dropped = dropped.count() > 0

            def admitted(df: DataFrame) -> DataFrame:
                return (df.join(dropped, "doc_id", "left_anti")
                        if any_dropped else df)

            # per-epoch overwrite = idempotent replay (no duplicate
            # rows if the epoch reruns after a failure before
            # checkpoint commit)
            phase("corpus write")
            (admitted(batch_df).write.mode("overwrite")
             .parquet(f"{corpus_path}/epoch={epoch_id}"))
            fault("after_corpus_write", epoch_id)
            phase("index write")
            (admitted(probe)
             .select(*_PROBE_COLUMNS)
             .write.mode("overwrite")
             .parquet(f"{index_path}/epoch={epoch_id}"))
            fault("after_index_write", epoch_id)
        finally:
            # the decision cache leaves the cache manager too (the
            # drain loop frees the probe checkpoint)
            if dropped is not None:
                dropped.unpersist()

    def prior_rows(spark: SparkSession, probe_rows, layout: StructType,
                   epoch_id: int):
        """The prior index rows sharing a bucket with the batch, in one
        pruned scan (this epoch's own rows excluded, as on replay), or
        None when they exceed the serving caps."""
        buckets = sorted(pc.unique(
            probe_rows.column("bucket").drop_null()).to_pylist())
        # the layout the index is written in: no schema-inference job
        index = _read_optional_parquet(spark, index_path, StructType(
            layout.fields + [StructField("epoch", IntegerType())]))
        if index is None or not buckets:
            return probe_rows.schema.empty_table()
        return _index_rows_if_serving_sized(
            index.where((F.col("epoch") != epoch_id)
                        & F.col("bucket").isin(buckets)), num_hashes)

    def driver_epoch(batch_df: DataFrame, probe_rows, layout: StructType,
                     prior, epoch_id: int, phase) -> None:
        drops = _driver_drops(probe_rows, prior, num_hashes, threshold,
                              max_bucket_docs)
        admitted = batch_df
        if drops:
            # a null id is never dropped, as in the anti-join
            admitted = batch_df.where(F.col("doc_id").isNull()
                                      | ~F.col("doc_id").isin(sorted(drops)))
        phase("corpus write")
        (admitted.write.mode("overwrite")
         .parquet(f"{corpus_path}/epoch={epoch_id}"))
        fault("after_corpus_write", epoch_id)
        phase("index write")
        doc_id = probe_rows.column("doc_id")  # a null id is kept
        kept = probe_rows.filter(pc.invert(pc.is_in(
            doc_id, value_set=pa.array(sorted(drops), doc_id.type))))
        if not kept.num_rows:  # createDataFrame refuses a chunkless table
            kept = kept.schema.empty_table()
        # one file per epoch: every later index fetch opens each file
        (batch_df.sparkSession.createDataFrame(kept, layout)
         .coalesce(1)
         .write.mode("overwrite")
         .parquet(f"{index_path}/epoch={epoch_id}"))
        fault("after_index_write", epoch_id)

    def handle(batch_df: DataFrame, epoch_id: int, phase) -> None:
        phase("probe build")
        probe = _banded_with_fallback(batch_df, n, num_hashes, bands,
                                      hash_mode)
        probe_rows = _probe_rows_if_serving_sized(probe, num_hashes)
        if probe_rows is None:
            probe = probe.localCheckpoint(eager=True)
        else:
            phase("index fetch")
            layout = probe.select(*_PROBE_COLUMNS).schema
            prior = prior_rows(batch_df.sparkSession, probe_rows, layout,
                               epoch_id)
            if prior is not None:
                driver_epoch(batch_df, probe_rows, layout, prior,
                             epoch_id, phase)
                return
            # the index fetch is over the caps: the distributed plan
            # probes with the rows already collected, not a re-signing
            probe = batch_df.sparkSession.createDataFrame(probe_rows,
                                                          layout)
        distributed_epoch(batch_df, probe, epoch_id, phase)

    drain(spark, "lsh_ingest", source_path, checkpoint_path, handle,
          schema=schema)
