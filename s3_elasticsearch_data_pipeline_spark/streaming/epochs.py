"""The one drain loop every file-fed stream of this package runs on.

Each stream module (the lsh, ivf, ivfpq and semantic ingests, the two
incremental loaders, the streaming rollup) supplies only its epoch
handler; :func:`drain` owns everything around it. The contract, stated
once here:

- **What is new.** A parquet file-source ``readStream`` over
  ``source_path`` (``basePath`` = the source, so hive partition
  columns survive). The checkpoint's file log decides which files an
  epoch holds — no hand-rolled diff, and a late file is just a new
  file. Without a caller-supplied schema, one batch read of the
  source infers it (one schema-inference job per call; pass
  ``schema`` to skip it).
- **Run to completion.** ``foreachBatch`` with
  ``Trigger.AvailableNow``: each call drains exactly the files that
  arrived since the last call, then returns. Call it repeatedly.
- **Empty epochs.** An empty micro-batch is skipped before the handler
  runs (one ``isEmpty`` job) unless the caller opts out with
  ``skip_empty=False``, for handlers whose writes are harmless on
  empty input and must not pay that job.
- **Job labels.** Every job of an epoch is described
  ``<name> epoch=<id>: <phase>`` in the status store, so an epoch's
  cost splits by phase. The handler names its phases through the
  ``phase`` callable it receives (:func:`session.job_phases`); the
  emptiness check runs as phase ``batch check``. The description that
  was in place before the epoch is restored afterwards.
- **No leaked blocks.** Every epoch runs inside
  :func:`session.checkpoint_scope`: every RDD the epoch persists or
  checkpoints is released when the handler returns — also when it
  fails, since a replay rebuilds them. Handlers that ``persist()``
  a DataFrame still ``unpersist()`` it themselves, so the cache
  manager forgets the plan too.
- **Replay.** A handler that raises fails the epoch before its
  checkpoint commit, so the next call replays exactly that epoch.
  Handlers make that safe by writing under ``epoch=<id>``
  subdirectories with per-epoch overwrite (or idempotent keyed
  upserts): a replayed epoch rewrites the same files instead of
  duplicating them — effectively-once state without a transactional
  table format. Each handler's ``fault_hook(stage, epoch_id)`` is
  called after each completed write; a hook that raises simulates a
  process kill in the torn window before the commit.

The loop itself adds no Spark action beyond the optional schema
inference and emptiness check.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from s3_elasticsearch_data_pipeline_spark.session import (
    checkpoint_scope, job_phases)


def drain(spark: SparkSession, name: str, source_path: str,
          checkpoint_path: str, handle, schema=None,
          skip_empty: bool = True) -> None:
    """Drain every unseen file under ``source_path`` through
    ``handle(batch_df, epoch_id, phase)`` — see the module docstring
    for the contract. ``name`` prefixes every epoch job's
    description."""
    if schema is None:
        schema = spark.read.parquet(source_path).schema
    stream = (spark.readStream
              .schema(schema)
              .option("basePath", source_path)
              .parquet(source_path))

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        with (checkpoint_scope(sess),
              job_phases(sess, f"{name} epoch={epoch_id}") as phase):
            if skip_empty:
                phase("batch check")
                if batch_df.isEmpty():
                    return
            handle(batch_df, epoch_id, phase)

    (stream.writeStream
     .foreachBatch(run)
     .option("checkpointLocation", checkpoint_path)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def _read_optional_parquet(spark: SparkSession, path: str, schema=None):
    """The epoch-partitioned sink at ``path``, or None before the first
    epoch wrote to it — ONLY that case (path absent, or present with no
    parquet yet) maps to None. Any other read failure (corrupt footer,
    IO fault) propagates: silently treating a broken index as 'empty'
    would admit every near-duplicate in the batch and pollute the
    corpus with no error signal. A caller that knows the sink's
    ``schema`` (partition column included) skips the inference job; a
    present sink without parquet then reads as empty, not None."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.option("basePath", path).parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        raise


def read_corpus(spark: SparkSession, corpus_path: str):
    """The admitted corpus across all epochs (hive ``epoch=`` layout),
    or None before the first admitted batch."""
    df = _read_optional_parquet(spark, corpus_path)
    return df.drop("epoch") if df is not None else None
