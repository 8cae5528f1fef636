"""Iterative graph analytics over DataFrames: PageRank.

The reference has no graph surface; a training-data pipeline uses link
analysis for source-quality weighting (rank a domain/citation graph,
weight documents by their source's authority). Implemented as pure
DataFrame algebra so each iteration is one broadcast join + one
partial+final aggregate — the classic Pregel contraction without RDDs.

Numeric discipline (oracle reproducibility): per-node contribution
sums are accumulated in DECIMAL(28,14) — exact, so the result is
independent of partitioning and summation order; the surrounding
arithmetic is a fixed-shape double expression evaluated identically by
any IEEE-754 engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.session import (
    aqe_disabled, checkpoint_scope, job_phases)


#: Estimated broadcast bytes per rank-vector row: 8 B double + a short
#: node key + JVM object/hash-relation overhead. Deliberately on the
#: high side — over-estimating flips to the (always-correct)
#: partitioned strategy early rather than OOMing an executor late.
RANK_ROW_BYTES = 32

#: Rank-vector broadcast budget. 64 MB ≈ 2M nodes at ~32 B/row — a
#: per-iteration broadcast each executor must hold next to its shuffle
#: memory; well below driver/executor pain, comfortably above every
#: serving-sized graph. (The old limit was a 10M-node COUNT — ~300 MB,
#: the very size its own comment called past any sane threshold.)
BROADCAST_RANKS_BUDGET_BYTES = 64 * 1024 * 1024

#: r11: the AQE-off window moved to ``session.aqe_disabled`` — one
#: shared lock for every scoped toggle in the package.


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             broadcast_ranks: bool | None = None,
             broadcast_budget_bytes: int = BROADCAST_RANKS_BUDGET_BYTES,
             materialize: bool = True) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)``.

    Every node must appear as a ``src`` (for an undirected graph pass
    both edge directions — that also removes dangling-node mass).

    Scale shape — two physical strategies behind one logical plan,
    selected automatically (``broadcast_ranks=None``) by ESTIMATED
    rank-vector bytes (node count × :data:`RANK_ROW_BYTES`) against
    ``broadcast_budget_bytes``:

    * **broadcast** (estimated vector ≤ budget): the per-source
      contribution ``rank/deg`` is computed NODE-side (one node-sized
      join per iteration — the division and decimal cast run once per
      source, not once per edge) and broadcast; each iteration is then
      a map-side hash join over the partitioned edges plus one shuffle
      of (node, partial-sum) pairs. Edges materialize ONCE via
      localCheckpoint — Spark never reuses an exchange across a
      self-referential lineage.
    * **partitioned** (beyond the limit — billions of nodes): nothing
      node-sized is ever broadcast or collected. Edges are
      hash-partitioned on ``src`` once and cached; the per-source
      contribution frame shuffles (node-sized) into a co-located join
      per iteration, and the recompute joins are plain shuffled joins
      on ``node``.

    The per-node contribution sums accumulate in DECIMAL(28,14) — exact,
    so both strategies produce bit-identical ranks regardless of
    partitioning or summation order.

    Jobs carry the description ``pagerank: degrees`` or ``pagerank:
    iterate``; the caller's description is restored on return.
    """
    spark = edges.sparkSession
    args = (edges, iters, damping, broadcast_ranks, broadcast_budget_bytes)
    with job_phases(spark, "pagerank") as phase:
        if not materialize:
            # Plan-inspection path (tests / explain tooling): return the
            # lazy plan so the chosen join strategy is visible — an
            # eager localCheckpoint would replace it with an opaque RDD
            # scan. The plan reads the intermediate checkpoints, so
            # they stay pinned until the caller's session GC runs;
            # production callers use materialize=True.
            return _pagerank_plan(*args, phase)[0]
        with checkpoint_scope(spark) as keep:
            out, broadcast = _pagerank_plan(*args, phase)
            # In broadcast mode every shuffle of the materializing
            # action is node-vector-sized and the rank side broadcasts,
            # so AQE's per-stage re-plan jobs (measured: 17 jobs →
            # slower wall clock on the 3-iteration loop) buy nothing —
            # scope it off for that action; the partitioned (huge-graph)
            # mode keeps AQE for its skew handling. NB: conf toggles are
            # session-global — OTHER queries planned concurrently in the
            # same session would see AQE off, so a multi-tenant service
            # should hand pagerank its own session clone.
            if not broadcast:
                return keep(out)
            with aqe_disabled(spark):
                return keep(out)


def _pagerank_plan(edges: DataFrame, iters: int, damping: float,
                   broadcast_ranks: bool | None,
                   broadcast_budget_bytes: int,
                   phase) -> tuple[DataFrame, bool]:
    """The lazy PageRank plan over checkpointed edges and degrees, and
    whether it broadcasts the rank vector."""
    # Materialize the incoming edge plan ONCE: callers typically hand in
    # an expensive pipeline (join+distinct), and the degree pass, the
    # edges_d checkpoint, and the node-set derivation would otherwise
    # each re-run it from scratch.
    phase("degrees")
    # lazy edge checkpoint, materialized as a side effect of the eager
    # degree checkpoint right below — one pass over the edge plan, not
    # two (the degree aggregate has to scan every edge anyway)
    edges = edges.localCheckpoint(eager=False)
    # node count — a driver-safe scalar, never the rows — observed on
    # the degree checkpoint's own action: the eager checkpoint fills
    # the observation with no job of its own, where ``deg.count()``
    # cost 2. Unnamed, so concurrent calls cannot collide on a metric
    # name. Measured rejection: running this checkpoint under
    # aqe_disabled saved one more job (18 -> 17) but fanned every
    # later stage out to 32-way tasks.
    n_obs = Observation()
    deg = (edges.groupBy(F.col("src").alias("node"))
           .agg(F.count(F.lit(1)).alias("__deg"))
           .observe(n_obs, F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=True))
    n = n_obs.get["n"]
    phase("iterate")
    if broadcast_ranks is None:
        broadcast_ranks = n * RANK_ROW_BYTES <= broadcast_budget_bytes
    hint = F.broadcast if broadcast_ranks else (lambda d: d)
    if not broadcast_ranks:
        # one explicit hash partitioning on src, materialized: the
        # checkpointed relation keeps its outputPartitioning, so every
        # iteration's contribution join reuses it and only the (node-
        # sized) contribution side exchanges
        edges = edges.repartition("src").localCheckpoint(eager=False)
    base = (deg.select("node")
            .localCheckpoint(eager=False))

    n_lit = F.lit(float(n)) if n else F.lit(1.0)  # guard: no rows anyway
    ranks = base.select("node", (F.lit(1.0) / n_lit).alias("rank"))
    # r11, measured rejection: flattening the broadcast-mode loop by
    # round-tripping the node-sized rank vector through the driver per
    # iteration (Arrow toPandas/createDataFrame, identical expressions
    # — oracle and value-equality stayed green) benched ~25% SLOWER
    # same-window (profiler min 2.74 -> 3.48 s, bench 2.99 -> 3.56 s):
    # the per-iteration driver round-trips plus re-built deg/contrib
    # broadcasts cost more than the iters-deep nested-plan planning
    # they eliminate. The single deep plan with one materialization
    # stays.
    for _ in range(iters):
        # per-SOURCE contribution rank/deg, computed and decimal-cast on
        # the node-sized frame (one division per node) instead of per
        # edge row — mathematically identical (every edge of a source
        # carries the same value), ~|E|/|V| fewer divisions and casts,
        # and the edge-side join probe carries a ready-made decimal
        c_src = (ranks.join(hint(deg), "node")
                 .select(F.col("node").alias("src"),
                         (F.col("rank") / F.col("__deg"))
                         .cast("decimal(28,14)").alias("__c")))
        contrib = (edges.join(hint(c_src), "src")
                   .select(F.col("dst").alias("node"), "__c")
                   .groupBy("node")
                   .agg(F.sum("__c").alias("__s")))
        ranks = (base
                 .join(hint(contrib), "node", "left")
                 .select("node",
                         ((F.lit(1.0) - F.lit(damping)) / n_lit
                          + F.lit(damping)
                          * F.coalesce(F.col("__s").cast("double"),
                                       F.lit(0.0))).alias("rank")))
    return (ranks.select("node", F.round("rank", 12).alias("rank")),
            broadcast_ranks)


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected part↔part co-purchase edges: two parts are linked when
    some order contains both. Emitted once per pair with ``src < dst``
    (canonical orientation, each undirected edge exactly once).

    Scale shape: one self-join of lineitem on orderkey — co-located if
    the table is bucketed by orderkey; otherwise a single sort-merge
    shuffle on the join key — followed by a distinct on (src, dst).
    Orders are small baskets, so the pair blow-up is bounded by
    (lines-per-order choose 2), not by table size.
    """
    a = lineitem.select(F.col("l_orderkey").alias("ok"),
                        F.col("l_partkey").alias("src"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"),
                        F.col("l_partkey").alias("dst"))
    return (a.join(b, "ok")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst")
            .distinct())


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over canonical edges (``src < dst``).

    Classic two-join closure: wedges (a<b<c via edges a-b, b-c) checked
    against the edge set a-c. Both joins shuffle on a single long key;
    the a<b<c orientation counts each triangle exactly once and keeps
    the wedge set minimal (only forward wedges are materialized). The
    edge frame is materialized once (localCheckpoint) because it feeds
    three plan branches — Spark would otherwise recompute the distinct
    per branch.
    """
    e = edges.localCheckpoint(eager=False)
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b")
    tris = wedges.join(e3, ["a", "c"])
    return tris.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.count_distinct(F.col("a")).alias("n_apex_nodes"))

