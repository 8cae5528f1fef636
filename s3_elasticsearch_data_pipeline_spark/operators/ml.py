"""Distributed training of a document-quality classifier as pure
DataFrame algebra — the "train a fastText-style quality filter on the
corpus itself" step of an LLM data pipeline, without MLlib.

Logistic regression by full-batch gradient descent: the weight vector
(a handful of floats) broadcasts as literals into a single aggregate
per iteration —

    grad_j = Σ_rows (σ(x·w) − y) · x_j      (one pass, m+1 sums)

so each iteration is ONE scan + ONE 1-row aggregate regardless of
corpus size; the driver holds only w. Gradient sums accumulate in
DECIMAL(38,18) so the result is independent of partitioning and
summation order (same discipline as the correlation matrix / PageRank
contributions), making training bit-reproducible on any cluster shape.

``n_cells`` semantics split (vs the index family): the domain
operators (:func:`domain_mixture` / :func:`domain_reweight`) take a
FIXED ``n_cells`` (default 8) and honor it verbatim, while the index
builders route through ``quantizer.auto_n_cells`` occupancy sizing.
Deliberate: an index's cell count is a PHYSICAL tuning knob (target
rows-per-cell for probe cost — the engine should pick it from corpus
size), but a domain count is a MODELING choice (DoReMi/Pile mix over
a handful of human-meaningful domains — 8 domains over 100 TB is
still 8 domains; resizing it with the corpus would silently change
what "a domain" means between runs and make target_weights keys
non-portable). Callers who want occupancy-sized domains can pass
``n_cells=auto_n_cells(n)`` explicitly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
    _Quantizer, _kmeans_centroids, _quantizer_cells_fn)
from s3_elasticsearch_data_pipeline_spark.session import checkpoint_scope
from s3_elasticsearch_data_pipeline_spark.tables import (
    parallelize_for_compute)

FEATURES = ("intercept", "log_tokens", "punct_ratio", "digit_ratio",
            "mean_word_len")


def quality_features(documents: DataFrame) -> DataFrame:
    """Per-document feature vector (pure columnar expressions) +
    binary label (is the document English — learnable from character
    statistics alone, which is the point of the demo)."""
    text = F.col("text")
    n_chars = F.greatest(F.length(text), F.lit(1))
    toks = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()-]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return parallelize_for_compute(documents).select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
        F.lit(1.0).alias("intercept"),
        F.log1p(F.size(toks).cast("double")).alias("log_tokens"),
        (punct / n_chars).alias("punct_ratio"),
        (digits / n_chars).alias("digit_ratio"),
        ((n_chars - F.size(toks) + 1) / n_toks).alias("mean_word_len"))


#: Stage salt for the domain-reweight admission LCG (r10). The domain
#: stage and the source-mixture stage (text.dataset_mixture) both hash
#: doc_id; UNSALTED they draw the SAME uniform u per doc, so a pipeline
#: composing them (corpus_training_set_v2) gets CORRELATED admissions —
#: pass-both iff u < min(rates), i.e. the joint rate is min() instead
#: of the product independent stages give. Salting this stage's stream
#: with a constant (2^19-1, distinct from the replica mixer 2^17-1)
#: makes the two streams independent by default; the SQL twins add the
#: same literal.
DOMAIN_LCG_SALT = 524_287


def train_quality_classifier(documents: DataFrame, iters: int = 15,
                             lr: float = 0.5) -> DataFrame:
    """Full-batch GD logistic regression over the feature frame.

    Returns one row per feature: (feature, weight) plus a final
    ``__loss__`` row carrying the mean log-loss — everything a caller
    needs to apply or monitor the filter. Deterministic: decimal
    gradient accumulation + fixed iteration count (no data-dependent
    early stop to keep the plan shape static).

    Two physical strategies behind one logical trainer, selected by
    feature-frame size (feature EXTRACTION is distributed either way —
    it is the only data-sized pass):

    * **distributed** (rows > ``offload.DRIVER_GD_MAX_ROWS``, decision
      site ``ml.train_quality_classifier``): one scan +
      one 1-row DECIMAL aggregate per iteration; the driver holds only
      the weight vector.
    * **driver** (small frames): the 2×iters near-empty scheduled jobs
      cost more than the data — collect the (doc_id-sorted) feature
      matrix once via Arrow and run the identical iteration locally in
      numpy. Same algorithm, same fixed iteration count, deterministic
      (fixed row order ⇒ fixed float summation order).
    """
    # Path decision WITHOUT touching the feature expressions:
    # quality_features is a 1:1 projection, so the feature-frame row
    # count IS documents.count() — metadata-only on a parquet scan,
    # and never more than a column-pruned pass of the upstream plan on
    # derived inputs. This sidesteps the probe-ordering trap entirely
    # (bpe_train must checkpoint-then-probe because its word-type
    # count is data-dependent; here the expensive extraction runs
    # exactly once on either path, with no below-cap checkpoint job).
    spark = documents.sparkSession
    n_row = documents.count()
    feats = quality_features(documents).select("doc_id", "y", *FEATURES)
    if n_row == 0:
        return spark.createDataFrame([], "feature string, weight double")
    if offload.decide("ml.train_quality_classifier", n_row, 0,
                      ("rows", n_row, offload.DRIVER_GD_MAX_ROWS)) is None:
        return _train_driver_side(spark, feats.toPandas(), iters, lr)
    with checkpoint_scope(spark):
        feats = feats.localCheckpoint(eager=True)
        # Right-size the GD tasks: every iteration re-scans this frame with
        # a tight columnar aggregate, so target ~1M rows per task — at
        # corpus scale that keeps tasks meaty, and at small SF it avoids
        # scheduling dozens of near-empty tasks × iters (pure overhead;
        # the iteration count, not the data, dominates wall time there).
        target = max(1, min(feats.rdd.getNumPartitions(),
                            math.ceil(n_row / 1_000_000)))
        if target < feats.rdd.getNumPartitions():
            feats = feats.coalesce(target).localCheckpoint(eager=True)
        w = [0.0] * len(FEATURES)
        for _ in range(iters):
            z = sum(F.col(f) * F.lit(w[i]) for i, f in enumerate(FEATURES))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            err = p - F.col("y")
            aggs = [F.sum((err * F.col(f)).cast("decimal(38,18)"))
                    .alias(f"g_{f}") for f in FEATURES]
            g = feats.agg(*aggs).collect()[0]
            # round-9 per-iteration weights: the cross-engine determinism
            # discipline (k-means/PQ round their centroid updates to 6) —
            # absorbs summation-order and libm 1-ulp noise so the driver
            # path, this path, and the unrolled DuckDB oracle CTE all walk
            # the identical weight trajectory; 5e-10 per-step noise is far
            # inside the 1e-6 tolerance the numpy-reference test pins
            w = [round(w[i] - lr * float(g[f"g_{f}"]) / n_row, 9)
                 for i, f in enumerate(FEATURES)]
        # final loss, same single-pass shape
        z = sum(F.col(f) * F.lit(w[i]) for i, f in enumerate(FEATURES))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        eps = F.lit(1e-12)
        loss_row = feats.agg(F.sum(
            (-(F.col("y") * F.log(p + eps)
               + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p + eps)))
            .cast("decimal(38,18)")).alias("L")).collect()[0]
        loss = float(loss_row["L"]) / n_row
    # weights are driver data now; the scope freed the feature checkpoints
    rows = [(f, round(w[i], 10)) for i, f in enumerate(FEATURES)]
    rows.append(("__loss__", round(loss, 8)))  # round-8: see driver path
    return spark.createDataFrame(rows, "feature string, weight double")


def _train_driver_side(spark, pdf, iters: int, lr: float) -> DataFrame:
    """The small-frame GD path: identical full-batch iteration over the
    Arrow-collected feature matrix (a pandas frame with doc_id, y and
    the feature columns). Row order is pinned by doc_id so the float
    summation order (and hence the last-ulp of the result) does not
    depend on partitioning."""
    import numpy as np

    pdf = pdf.sort_values("doc_id", kind="mergesort")
    n_row = len(pdf)
    X = pdf[list(FEATURES)].to_numpy(dtype="float64")
    y = pdf["y"].to_numpy(dtype="float64")
    w = np.zeros(len(FEATURES))
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        # round-9 per-iteration (see the distributed loop): makes the
        # BLAS-summed driver path, the decimal-summed distributed path,
        # and the DuckDB oracle CTE agree on the weight trajectory.
        # Python round(), not np.round: it is correctly rounded, so
        # both Spark paths share one rounding function (np.round's
        # scaled x*1e9 path can differ near decimal midpoints)
        w = np.array([round(float(x), 9)
                      for x in w - lr * (X.T @ (p - y)) / n_row])
    p = 1.0 / (1.0 + np.exp(-(X @ w)))
    eps = 1e-12
    loss = float(np.sum(-(y * np.log(p + eps)
                          + (1.0 - y) * np.log(1.0 - p + eps)))) / n_row
    rows = [(f, round(float(w[i]), 10)) for i, f in enumerate(FEATURES)]
    # round-8 loss (not 10): the mean log-loss carries summation-order
    # noise ~1e-13 across engines; 1e-8 resolution keeps the oracle
    # hash stable without losing anything a monitor would read
    rows.append(("__loss__", round(loss, 8)))
    return spark.createDataFrame(rows, "feature string, weight double")


def apply_quality_classifier(documents: DataFrame,
                             weights: DataFrame) -> DataFrame:
    """Score every document with the trained weights (collected once —
    m+1 floats) as a pure projection; no shuffle."""
    w = {r["feature"]: r["weight"] for r in weights.collect()
         if r["feature"] != "__loss__"}
    if not w:  # empty-corpus training → nothing to score with
        return documents.sparkSession.createDataFrame(
            [], "doc_id long, label int, score double, predicted int")
    feats = quality_features(documents)
    z = sum(F.col(f) * F.lit(w[f]) for f in FEATURES)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id", F.col("y").cast("int").alias("label"),
        F.round(p, 6).alias("score"),
        (p >= 0.5).cast("int").alias("predicted"))


def domain_mixture(documents: DataFrame, embeddings: DataFrame,
                   n_cells: int = 8, iters: int = 2) -> DataFrame:
    """Corpus composition by LEARNED domain: k-means cells over the
    embedding space as domain proxies (the DoReMi/D4-style view of a
    pretraining corpus — no label column needed), each domain reported
    with its mixture weight and text-shape stats. This is the report a
    mixture-reweighting run starts from: domains with outsized share
    and low diversity are the down-weighting candidates.

    Determinism/scale: the shared coarse-quantizer trainer
    (``quantizer._kmeans_centroids`` — deterministic init, round-6
    centroid updates) and one single-assignment pass; per-domain stats
    aggregate exactly (share and avg length derive from integer/exact
    DECIMAL sums with a single double division each — no
    summation-order noise for the oracle to chase). One shuffle, on
    the cell key."""
    # null embeddings (or null elements) can't be domain-assigned and
    # would crash np.stack in the Arrow kernels — same pre-filter as
    # embedding_blocked_near_dup / incremental_semantic_dedup. The
    # mixture denominator counts the FILTERED frame so weights sum to
    # 1 over assignable rows. (Fixtures carry no nulls, so the DuckDB
    # twin needs no mirror filter today.)
    embeddings = embeddings.where(
        F.col("embedding").isNotNull()
        & F.forall("embedding", lambda x: x.isNotNull()))
    q = _Quantizer(_kmeans_centroids(embeddings, n_cells, iters))
    assigned = (embeddings.select("vec_id", "embedding")
                .mapInPandas(_quantizer_cells_fn(q, 1),
                             "vec_id long, cell int"))
    total = embeddings.count()
    joined = assigned.join(
        documents.select(F.col("doc_id").alias("vec_id"), "lang",
                         F.length("text").alias("__len")),
        "vec_id")
    return (joined.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("__len").cast("decimal(20,0)"))
                 .alias("__sl"),
                 F.count_distinct("lang").alias("n_langs"))
            .select("cell", "n_docs",
                    F.round(F.col("n_docs") / F.lit(float(total)), 6)
                    .alias("mixture_weight"),
                    F.round(F.col("__sl").cast("double")
                            / F.col("n_docs"), 2).alias("avg_chars"),
                    "n_langs")
            .orderBy("cell"))


def domain_reweight(documents: DataFrame, embeddings: DataFrame,
                    target_weights: dict[int, float],
                    n_cells: int = 8, iters: int = 2,
                    mode: str = "downsample") -> DataFrame:
    """The APPLY side of :func:`domain_mixture` — resample the corpus
    so its LEARNED-domain composition matches ``target_weights`` (the
    DoReMi-style loop closed: the report says which domains are over-
    represented; this operator emits the reweighted training set).

    Mechanism: the same deterministic k-means cells as the report
    (shared trainer + assignment kernel), then per-domain
    deterministic hash-admission — the :func:`operators.text.
    dataset_mixture` mechanism keyed on the learned cell instead of
    the source column. Per-cell admission rates are derived from the
    kilobyte per-cell counts so the OUTPUT mixture hits the target:
    ``rate_c = (t_c / n_c) / max_d(t_d / n_d)`` — downsample-only
    (the most up-weighted domain keeps every row; no duplication),
    which makes the achieved shares exactly proportional to the
    targets. ``target_weights`` are relative (need not sum to 1);
    cells absent from it get weight 0 and are dropped.

    ``mode="resample"`` (r9) additionally UP-weights: per-cell repeat
    factor ``f_c = (t_c / Σt) * N / n_c`` (N = assignable corpus
    size; Σt over PRESENT cells, computed as an EXACT nanoweight
    integer sum — targets are read at 1e-9 resolution — so the
    normalizer is independent of summation order on any engine) so
    achieved shares hit the targets while total output size stays
    ≈ N — the common DoReMi/Pile case where a rare domain's target
    share exceeds its current share. Repeat factors are capped at
    4096× (a loud error, mirrored by the oracle's fan-out bound —
    nothing truncates silently).
    Replication is deterministic: ``floor(f_c)`` full copies per doc
    (exploded via a per-row integer sequence — no sampling), plus one
    extra copy admitted by the same LCG hash keyed on (doc_id,
    replica) with threshold ``frac(f_c)``. Output gains a ``replica``
    column (rows stay distinct; downstream shuffles stay
    deterministic) and ``sample_rate`` reports ``f_c``. The explode
    multiplies data volume by the repeat factor — that is the
    contract (physical replication for a training set); callers that
    want weights-not-rows read ``sample_rate`` off the mixture report
    instead. All rate arithmetic is fixed-order double division
    (``t/Σt`` then ``×N`` then ``/n_c``), so the DuckDB twin
    recomputes ``f_c``, ``floor``, and the fractional admission
    bit-identically.

    Determinism/scale: admission is a pure per-row projection +
    filter (identical membership on any engine/partitioning — unlike
    ``df.sample``); the only aggregates are the per-cell counts
    (n_cells rows to the driver, like the centroid table). Rates are
    plain double divisions in a fixed order, so the DuckDB twin
    recomputes them bit-identically. One shuffle (the count), one
    assignment pass; documents without a (non-null) embedding can't
    be domain-assigned and are excluded, like the report."""
    if mode not in ("downsample", "resample"):  # before any Spark job
        raise ValueError("domain_reweight: unknown mode %r "
                         "(downsample|resample)" % (mode,))
    # A negative target is always a caller bug, and the two modes
    # would disagree on it: downsample's `u < negative` never admits,
    # but resample's floor(f)<0 makes F.sequence DESCEND (step -1),
    # emitting replicas 0,-1,... for a cell that should be dropped.
    bad = {c: w for c, w in target_weights.items() if float(w) < 0.0}
    if bad:
        raise ValueError(
            "domain_reweight: negative target weight(s) %r" % (bad,))
    spark = documents.sparkSession
    embeddings = embeddings.where(
        F.col("embedding").isNotNull()
        & F.forall("embedding", lambda x: x.isNotNull()))
    out_schema = ("doc_id long, cell int, replica int, "
                  "sample_rate double" if mode == "resample"
                  else "doc_id long, cell int, sample_rate double")
    # one job probes emptiness AND fetches the k-means init (the
    # build_ivf_index discipline — no separate .first() probe)
    init_rows = (embeddings.orderBy("vec_id").limit(n_cells)
                 .select("embedding").collect())
    if not init_rows:
        return spark.createDataFrame([], out_schema)
    q = _Quantizer(_kmeans_centroids(embeddings, n_cells, iters,
                                     init_rows=init_rows))
    assigned = (embeddings.select("vec_id", "embedding")
                .mapInPandas(_quantizer_cells_fn(q, 1),
                             "vec_id long, cell int"))
    # AQE-off scope (r11): this is an n_cells-row aggregate — AQE's
    # per-stage re-plan turns the one collect into two driver-blocking
    # jobs for a kilobyte exchange it can never improve (coalescing an
    # 8-row shuffle; no join to re-strategize). One job, same rows.
    from s3_elasticsearch_data_pipeline_spark.session import aqe_disabled
    with aqe_disabled(documents.sparkSession):
        counts = {r["cell"]: r["n"] for r in
                  assigned.groupBy("cell")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
    if mode == "resample":
        return _resample_by_cell(assigned, documents, counts,
                                 target_weights, out_schema)
    # fixed-order double arithmetic (one division each, then a max,
    # then one division) — replayed identically by the SQL twin
    ratios = {c: float(target_weights.get(c, 0.0)) / n
              for c, n in counts.items()}
    mx = max(ratios.values(), default=0.0)
    if mx <= 0:
        return spark.createDataFrame([], out_schema)
    # per-cell rates as a BROADCAST-joined table, not chained F.when
    # literals: at DoReMi-scale (8-32 domains) either is fine, but a
    # learned-domain count in the hundreds turns the when-chain into a
    # deep expression tree while the joined table stays flat. Every
    # cell in `assigned` appears in `counts` (same aggregation), so
    # the inner join drops nothing.
    rates = spark.createDataFrame(
        [(int(c), float(ratios[c] / mx)) for c in sorted(ratios)],
        "cell int, __rate double")
    p = 2_147_483_647  # the dataset_mixture LCG, salted per stage
    u = ((((F.col("doc_id") % F.lit(p)) * F.lit(48_271) + F.lit(7)
           + F.lit(DOMAIN_LCG_SALT))
          % F.lit(p)) % F.lit(1000)) / F.lit(1000.0)
    return (assigned
            .join(documents.select("doc_id"),
                  assigned.vec_id == F.col("doc_id"))
            .join(F.broadcast(rates), "cell")
            .where(u < F.col("__rate"))
            .select("doc_id", "cell",
                    F.round("__rate", 6).alias("sample_rate")))


def _resample_by_cell(assigned: DataFrame, documents: DataFrame,
                      counts: dict[int, int],
                      target_weights: dict[int, float],
                      out_schema: str) -> DataFrame:
    """The ``mode="resample"`` tail of :func:`domain_reweight`:
    deterministic integer replication + fractional LCG admission per
    (doc_id, replica). ``f_c = (t_c / Σt) * N / n_c`` in fixed IEEE
    order so the SQL twin recomputes it bit-identically; ``floor`` and
    the fraction follow. Each doc explodes into ``floor(f_c) + 1``
    candidate replicas; replica < floor always survives, the last one
    passes the hash gate at threshold ``frac(f_c)`` — so a cell at
    f=2.3 emits 2 copies of every doc plus a deterministic 30%-ish
    extra wave, and a cell at f=0.4 degenerates to plain downsampling.
    One narrow explode per row, no shuffle beyond the assignment
    join."""
    import math
    spark = documents.sparkSession
    n_total = sum(counts.values())
    # tsum must be ORDER-INDEPENDENT and bit-identical to the SQL
    # twin's sum: float summation order follows the nondeterministic
    # collect order here and the engine's aggregation order there (a
    # 1-ulp difference flips floor()/admission at exact boundaries).
    # Contract: targets are read at nanoweight (1e-9) resolution, so
    # the normalizer is an EXACT integer sum — any order, any engine
    # (the DuckDB twin sums DECIMAL literals, also exact).
    tsum_int = sum(int(math.floor(
        float(target_weights.get(c, 0.0)) * 1e9 + 0.5)) for c in counts)
    if tsum_int <= 0:
        return spark.createDataFrame([], out_schema)
    tsum = tsum_int / 1e9
    f = {c: float(target_weights.get(c, 0.0)) / tsum * n_total / n
         for c, n in counts.items()}
    floors = {c: int(math.floor(v)) for c, v in f.items()}
    # physical-replication sanity cap (also the SQL twin's replica
    # fan-out bound — NO silent truncation: exceeding it errors here
    # first): a >=4096x repeat factor means the target asks a
    # vanishingly rare domain to dominate the corpus — almost
    # certainly a mis-specified target, and a 4096x data blow-up is
    # not something to do silently.
    worst = max(floors.values(), default=0)
    if worst >= 4096:
        raise ValueError(
            "domain_reweight(resample): repeat factor %d exceeds the "
            "4096x replication cap — check target_weights" % worst)
    # broadcast rates table (see domain_reweight's downsample tail):
    # flat plan at any learned-domain count vs a 3x-deep when-chain;
    # f[c] - floors[c] is computed driver-side in the same IEEE order
    # as before, so the admission thresholds are bit-identical.
    rates = spark.createDataFrame(
        [(int(c), floors[c], f[c] - floors[c], f[c]) for c in sorted(f)],
        "cell int, __k int, __frac double, __f double")
    p = 2_147_483_647  # salted dataset_mixture LCG, keyed (doc_id, replica)
    u = (((F.col("doc_id") % F.lit(p)) * F.lit(48_271) + F.lit(7)
          + F.lit(DOMAIN_LCG_SALT)
          + F.col("replica") * F.lit(131_071))
         % F.lit(p) % F.lit(1000)) / F.lit(1000.0)
    return (assigned
            .join(documents.select("doc_id"),
                  assigned.vec_id == F.col("doc_id"))
            .join(F.broadcast(rates), "cell")
            .select("doc_id", "cell", "__k", "__frac", "__f",
                    F.explode(F.sequence(F.lit(0), F.col("__k")))
                    .alias("replica"))
            .where((F.col("replica") < F.col("__k"))
                   | (u < F.col("__frac")))
            .select("doc_id", "cell", "replica",
                    F.round("__f", 6).alias("sample_rate")))
