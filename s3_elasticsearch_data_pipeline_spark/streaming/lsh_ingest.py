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
can heal offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import storage
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

    Jobs: each epoch decides admission once (a cached frame of the
    dropped doc ids feeds both writes); its phases are ``probe
    build``, ``admission decision``, ``corpus write`` and ``index
    write``.

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

    def handle(batch_df: DataFrame, epoch_id: int, phase) -> None:
        dropped = None
        try:
            phase("probe build")
            probe = _banded_with_fallback(
                batch_df, n, num_hashes, bands, hash_mode) \
                .localCheckpoint(eager=True)
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
             .select("doc_id", "sig", "band", "bucket")
             .write.mode("overwrite")
             .parquet(f"{index_path}/epoch={epoch_id}"))
            fault("after_index_write", epoch_id)
        finally:
            # the decision cache leaves the cache manager too (the
            # drain loop frees the probe checkpoint)
            if dropped is not None:
                dropped.unpersist()

    drain(spark, "lsh_ingest", source_path, checkpoint_path, handle,
          schema=schema)
