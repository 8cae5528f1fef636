"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads); the same configs are the ones we would set on a 1000-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), runtime bloom filters (pre-reduces the shuffle-heavy
id-level anti-join), UTC session timezone (oracle comparability), Arrow
for the few Pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(app_name: str = "s3_elasticsearch_data_pipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At cluster scale only ``master`` and memory sizing change; every
    ``spark.sql.*`` setting below is scale-portable.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle sizing: ~cores locally. On a real cluster AQE coalesces
        # from a deliberately-high initial number, so this is a ceiling,
        # not a hand-tuned constant.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic broadcast decisions — the 100 TB safety net.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom filter: pre-reduces the big probe side of the
        # id-level anti/semi joins before the shuffle (SURVEY.md §4).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Python DataSource filter pushdown (off by default in 4.1):
        # lets the es_http reader translate predicates into ES
        # query-DSL so the cluster prunes scans server-side.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Deterministic timestamps vs the DuckDB oracle (UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for the Pandas-UDF extension operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


import contextlib
import threading

#: Serializes AQE-toggle windows across operators (conf toggles are
#: session-global — racing callers must not plan under each other's
#: setting). Moved here from operators/graph.py in r11 so every
#: scoped toggle shares ONE lock.
_AQE_SCOPE_LOCK = threading.Lock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the ``with`` body, then restore the prior
    value exactly: re-set when it was set, unset when it was absent (a
    session-global leak would silently change unrelated later work)."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@contextlib.contextmanager
def aqe_disabled(spark: SparkSession):
    """Scope AQE off around a small materializing action whose plan
    gains nothing from runtime re-optimization (kilobyte aggregates,
    broadcast-only iteration loops): AQE's per-stage re-plan turns one
    action into one job per exchange, and for driver-blocking chains
    the extra job GAPS are the cost (PageRank measured 17 jobs →
    slower wall clock). Same caveats as the PageRank scope: other
    queries planned concurrently in this session would also see AQE
    off — multi-tenant services should hand such operators a session
    clone. Each scope logs one decision event (site
    ``session.aqe_disabled``, path ``aqe_off``)."""
    from s3_elasticsearch_data_pipeline_spark import offload  # imports session
    offload.decide("session.aqe_disabled", 0, 0,
                   paths=("aqe_off", "aqe_on"))
    with _AQE_SCOPE_LOCK, scoped_conf(spark, "spark.sql.adaptive.enabled",
                                      "false"):
        yield


_JOB_DESCRIPTION = "spark.job.description"
#: The description the innermost ``job_phases`` body last set, so a
#: nested body can tell its enclosing phase from a caller's own label.
_PHASE_DESCRIPTION = "s3_elasticsearch_data_pipeline_spark.phase"


@contextlib.contextmanager
def job_phases(spark: SparkSession, prefix: str):
    """Label the jobs of the ``with`` body by phase: the body gets a
    ``phase(label)`` callable, and every job started after a call to
    it is described ``<prefix>: <label>`` in the status store
    (``jobsList``), so a call's cost splits by phase. Inside the phase
    of another ``job_phases`` body the label nests under it, ``<outer
    prefix>: <outer label> / <prefix>: <label>``: a call made inside a
    streaming epoch keeps the epoch's label. A description the caller
    set is replaced, not nested. The description in place before the
    body is restored afterwards, also when the body raises.
    Descriptions are thread-local, like every Spark local property."""
    sc = spark.sparkContext
    prior = sc.getLocalProperty(_JOB_DESCRIPTION)
    prior_phase = sc.getLocalProperty(_PHASE_DESCRIPTION)
    outer = (f"{prior} / " if prior is not None and prior == prior_phase
             else "")

    def phase(label: str) -> None:
        description = f"{outer}{prefix}: {label}"
        sc.setJobDescription(description)
        sc.setLocalProperty(_PHASE_DESCRIPTION, description)

    try:
        yield phase
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, prior)
        sc.setLocalProperty(_PHASE_DESCRIPTION, prior_phase)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Snapshot the ids of every currently persisted/checkpointed RDD
    (the BlockManager-resident relations)."""
    ids: set[int] = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def release_persistent_rdds(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist the persisted/checkpointed RDDs with the given ids and
    drop their blocks, without blocking.

    Each id goes through ``SparkContext.unpersistRDD``, the call Spark's
    own ContextCleaner makes for an RDD it collects (Scala
    ``private[spark]``, public in the bytecode). Unlike
    ``RDD.unpersist`` it logs no per-RDD warning for a local
    checkpoint; an action that later reads a released checkpoint
    still fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
    """
    sc = spark.sparkContext._jsc.sc()
    for rdd_id in ids:
        sc.unpersistRDD(rdd_id, False)


@contextlib.contextmanager
def checkpoint_scope(spark: SparkSession):
    """Own the checkpoint blocks of the ``with`` body: this is who
    releases them.

    Iterative operators (PageRank, connected components, trainers)
    ``localCheckpoint`` per round to truncate lineage. Left alone,
    those blocks are reclaimed only when the JVM collects the frame and
    the asynchronous ContextCleaner runs; under repeated calls in one
    session (benchmarks, sweeps, long-lived services) they pile up in
    the BlockManager faster than that, and eviction storms showed up
    as multi-second stalls (2.5 s growing to 14 s over eight calls,
    SCALING.md). So the policy, stated once:

    - The scope snapshots :func:`persistent_rdd_ids` on entry and yields
      ``keep(df, eager=True)``, which returns
      ``df.localCheckpoint(eager)``. After a normal exit those blocks
      stay pinned; they belong to the caller. A lazy ``keep`` pins a
      table the returned plan reads without running a job: its blocks
      fill at the first action over it.
    - Checkpoint the result last: ``keep`` reads the intermediates,
      which are still pinned while the body runs.
    - On a normal exit every other RDD persisted or checkpointed inside
      the body is released, a nested scope's kept result included:
      only what this scope keeps survives it. On a raise nothing
      survives it, kept blocks included: no caller can read them.
    - Single-controller discipline: the release works by id difference,
      so nothing else may persist RDDs in the same session while the
      body runs; it cannot tell an intermediate from a neighbour's
      cache.
    """
    before = persistent_rdd_ids(spark)
    kept: set[int] = set()

    def keep(df, eager: bool = True):
        pinned = persistent_rdd_ids(spark)
        df = df.localCheckpoint(eager=eager)
        kept.update(persistent_rdd_ids(spark) - pinned)
        return df

    try:
        yield keep
    except BaseException:
        kept.clear()
        raise
    finally:
        release_persistent_rdds(
            spark, persistent_rdd_ids(spark) - before - kept)
