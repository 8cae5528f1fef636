"""Similarity search over the embeddings table (M4 north star).

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the corpus; rank-and-filter window per query. The
  correctness baseline.
- ``ann_lsh_topk``     — random-hyperplane LSH bucketing: sign-bit
  sketch → candidates share a bucket → exact rerank within buckets.
  The 100 TB path: corpus is scanned once, shuffled only on compact
  bucket keys, and each query compares against its bucket's candidates
  instead of the whole corpus.

Hyperplanes are deterministic Rademacher (±1) vectors derived from
md5 at PLAN-BUILD time — ±1 hyperplanes are a standard, provably
adequate choice for sign-random-projection LSH, fully reproducible
across runs and engines.

Algorithm provenance (public literature): sign-random-projection LSH
(Charikar, STOC 2002; Indyk–Motwani 1998 for the LSH framework);
IVF cell-probing (Sivic–Zisserman bag-of-words inverted files;
Jégou et al., "Product quantization for nearest neighbor search",
TPAMI 2011, coarse-quantizer stage). Distributed top-k search
trade-offs per the PAPERS.md retrieval (EDBT 2020 incremental top-k;
SIGMOD 2020 adaptive similarity search).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload, storage
from s3_elasticsearch_data_pipeline_spark.functions.vector import cosine
from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
    _init_rows, _load_quantizer, _q_nearest_cells, _quantizer_cells_fn,
    _read_param_table, _read_parquet_files, _train_quantizer,
    _write_centroid_tables, auto_n_cells)
from s3_elasticsearch_data_pipeline_spark.session import job_phases


def _rademacher_plane(plane_id: int, dims: int) -> list[float]:
    """Deterministic ±1 plane: bit d of md5("plane:<id>") bytestream."""
    bits: list[int] = []
    counter = 0
    while len(bits) < dims:
        digest = hashlib.md5(f"plane:{plane_id}:{counter}".encode()).digest()
        for byte in digest:
            for k in range(8):
                bits.append((byte >> k) & 1)
        counter += 1
    return [1.0 if b else -1.0 for b in bits[:dims]]


def brute_force_topk(embeddings: DataFrame, queries: DataFrame,
                     k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (vec_id, embedding) is broadcast — a broadcast
    nested-loop join, so the 100 TB corpus is scanned exactly once with
    no shuffle of the corpus side; the only shuffle is the window's
    partition-by-query ranking over scored candidates.
    """
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec"))
    c = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("cand_vec"))
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      cosine(F.col("query_vec"), F.col("cand_vec"))
                      .alias("sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))


def ann_lsh_topk(embeddings: DataFrame, queries: DataFrame,
                 k: int = 10, num_planes: int = 4,
                 num_tables: int = 8, dims: int = None) -> DataFrame:
    """Approximate top-k: ``num_tables`` independent sign-sketches (bit
    offsets stagger the planes); query and candidate must collide in at
    least one table. Exact cosine rerank within collisions.

    Approximation is inherent (recall < 1 by design) → no SQL oracle;
    the driver's rows-only check applies, and tests measure recall
    against ``brute_force_topk``.

    Pass ``dims`` when the embedding dimensionality is known (Spark's
    ArrayType carries no length, so the schema can't tell us): with it
    the plan builds with ZERO extra Spark jobs. Without it, a one-row
    ``.first()`` probe runs at plan-build time — the documented
    fallback, one extra job per invocation.
    """
    if dims is None:
        # Fallback: probe the dimensionality once (plan-build time) to
        # fix the plane matrix; planes are deterministic md5-derived ±1.
        probe = embeddings.select("embedding").first()
        if probe is None:  # empty corpus → empty result, stable schema
            return embeddings.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, sim double, rank int")
        dims = len(probe[0])
    import numpy as np
    planes = np.array([_rademacher_plane(i, dims)
                       for i in range(num_tables * num_planes)])  # (T·P, D)
    pow2 = 2 ** np.arange(num_planes)

    # Bucket sketching runs in Arrow-batched numpy (`mapInPandas`):
    # higher-order-function expressions are interpreted (CodegenFallback),
    # so 32 per-row array folds would be the slow path — one batched
    # (N, D) @ (D, T·P) matmul is the vectorized fast path. The planes
    # matrix ships inside the closure (kilobytes).
    def with_buckets(df, id_alias, vec_alias):
        def sketch(batches):
            import pandas as pd
            for pdf in batches:
                if not len(pdf):
                    continue
                emb = np.stack(pdf["embedding"].to_numpy())  # (N, D)
                bits = (emb @ planes.T) > 0                  # (N, T·P)
                bits = bits.reshape(len(pdf), num_tables, num_planes)
                buckets = (bits * pow2).sum(axis=2)          # (N, T)
                out = pd.DataFrame({
                    id_alias: pdf["vec_id"].to_numpy().repeat(num_tables),
                    "tbl": np.tile(np.arange(num_tables), len(pdf)),
                    "bucket": buckets.reshape(-1),
                })
                yield out

        buckets = df.mapInPandas(
            sketch, f"{id_alias} long, tbl int, bucket long")
        vecs = df.select(F.col("vec_id").alias(id_alias),
                         F.col("embedding").cast("array<double>")
                         .alias(vec_alias))
        return buckets.join(vecs, id_alias)

    cand = with_buckets(embeddings, "neighbor_id", "cand_vec")
    qry = with_buckets(queries, "query_id", "query_vec")
    # a forced broadcast of a corpus-sized query side would OOM the
    # driver: over the row cap the planner picks a shuffle join
    _, cap = _fetch_queries(queries, "similarity.ann_lsh_topk")
    hint = (lambda d: d) if cap == "rows" else F.broadcast
    matched = (cand.join(hint(qry), ["tbl", "bucket"])
               .where(F.col("neighbor_id") != F.col("query_id"))
               .select("query_id", "neighbor_id", "query_vec", "cand_vec")
               .distinct())
    scored = matched.select(
        "query_id", "neighbor_id",
        cosine(F.col("query_vec"), F.col("cand_vec")).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))


def normalize_embeddings(embeddings: DataFrame) -> DataFrame:
    """L2-normalize the embedding column (unit vectors make cosine a
    plain dot product — the precompute every ANN index wants).
    Sequential-fold norm keeps the result oracle-reproducible."""
    vec = F.col("embedding").cast("array<double>")
    norm_val = F.sqrt(F.aggregate(
        F.zip_with(vec, vec, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x))
    return (embeddings
            .withColumn("__v", vec)
            .withColumn("__norm", norm_val)
            .where(F.col("__norm") > 0)
            .select("vec_id", "label",
                    F.transform("__v", lambda x: F.round(x / F.col("__norm"), 8))
                    .alias("unit_embedding")))


def embedding_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroids in long format (label, dim, centroid).

    Physical shape: posexplode to (label, dim, component) rows → one
    hash aggregate. At 100 TB this is the scalable layout — a wide
    array-average via HOF folds would run interpreted per row; exploded
    rows ride vectorized codegen aggregates, and the shuffle carries
    (label × dims) partials only.
    """
    return (embeddings
            .select("label", F.posexplode(
                F.col("embedding").cast("array<double>"))
                .alias("dim", "component"))
            .groupBy("label", "dim")
            .agg(F.round(F.avg("component"), 8).alias("centroid")))


def _guard_cell_layout(spark, path: str, op: str, refused: str) -> None:
    """Refuse a write that would mix the two cell-store layouts under
    ``{path}/cells``: a batch build lands flat ``cell=<c>/`` dirs, a
    streaming ingest lands ``epoch=<id>/cell=<c>/``. Mixed directory
    depths break parquet partition discovery for every later probe
    read, while the parameter tables still load fine — so without this
    guard the write is silently accepted and the index bricks later,
    at read time. ``refused`` is the child prefix of the other layout:
    ``"epoch="`` for a batch append, ``"cell="`` for a streaming
    ingest."""
    if not any(e.startswith(refused)
               for e in storage.children(spark, path + "/cells")):
        return
    built_by, feed = (("a streaming ingest", "the streaming ingest")
                      if refused == "epoch=" else
                      ("a batch build", "the batch index_append"))
    raise ValueError(
        f"{op}: index at {path!r} was built by {built_by} "
        f"(cells/{refused}<..> layout); mixing layouts would corrupt "
        f"partition discovery. Feed new batches through {feed} for "
        f"this index instead.")


def _assign_and_write(embeddings: DataFrame, q, cells_dir: str,
                      mode: str) -> None:
    """Assign every vector its nearest cell under the quantizer ``q``
    and write into the cell-partitioned store at ``cells_dir`` (callers
    pass ``{index}/cells`` or a per-epoch subdir of it), one file per
    cell (:func:`offload.by_partition`)."""
    assigned = (embeddings.select("vec_id", "embedding")
                .mapInPandas(_quantizer_cells_fn(q, 1),
                             "vec_id long, cell int")
                .join(embeddings.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>")
                    .alias("embedding")), "vec_id"))
    (offload.by_partition(assigned, "similarity.ivf_cells_write", "cell")
     .write.mode(mode).partitionBy("cell")
     .parquet(cells_dir))


def build_ivf_index(embeddings: DataFrame, path: str,
                    n_cells: int = 16, iters: int = 2) -> None:
    """Train coarse centroids and PERSIST the IVF index at ``path``:

    * ``{path}/cells`` — the corpus written ``partitionBy("cell")``;
      at 100 TB this is the one full-corpus pass, and the directory
      layout IS the inverted file (a probe reads only its cells'
      partitions — partition pruning is the index lookup).
    * ``{path}/centroids`` — (cell, centroid) rows, kilobytes; the
      only state a prober needs besides the cell store.

    Build once, probe many: the serving path (``ivf_probe_topk``)
    never re-trains or re-assigns the corpus. Deterministic: fixed
    init + stable argmax, so rebuilds are bit-identical and the
    inline ``ivf_topk`` agrees with build+probe exactly (tested).

    ``n_cells`` at or above :data:`quantizer.IVF_TWO_LEVEL_MIN_CELLS` switches
    training to the sample-based two-level quantizer and assignment
    to the chained two-matmul kernel — O(n·√n_cells) instead of the
    flat trainer's O(n·n_cells) per Lloyd round (the n^1.5 class at
    FAISS-style n_cells ∝ √n); the persisted layout gains a
    ``supers`` table and a ``super`` column so probes assign queries
    through the identical quantizer.
    """
    spark = embeddings.sparkSession
    init_rows = _init_rows(embeddings, n_cells)  # also the empty probe
    if not init_rows:
        spark.createDataFrame([], "vec_id long, cell int, "
                                  "embedding array<double>") \
             .write.mode("overwrite").partitionBy("cell") \
             .parquet(path + "/cells")
        spark.createDataFrame([], "cell int, centroid array<double>") \
             .write.mode("overwrite").parquet(path + "/centroids")
        return
    q = _train_quantizer(embeddings, n_cells, iters, init_rows=init_rows)
    _assign_and_write(embeddings, q, path + "/cells", "overwrite")
    _write_centroid_tables(spark, path, q)


def ivf_index_append(spark, path: str, new_embeddings: DataFrame) -> None:
    """Incremental index ingest — the production loop's other half:
    assign a NEW batch of vectors against the PERSISTED centroids (no
    retrain, no touch of existing cells) and append them to the cell
    store. Dynamic partition overwrite is not needed: parquet append
    adds files inside each cell directory, so the operation is
    corpus-size-independent (cost ~ batch size). Centroids drift is a
    rebuild decision, not an ingest step — same contract as FAISS's
    IVF ``add`` after ``train``."""
    q = _load_quantizer(spark, path)
    if q is None:
        raise ValueError(
            "ivf_index_append: index at %r has no centroids — build it "
            "with build_ivf_index first (appending to an untrained "
            "index would silently create a single unsearchable cell)"
            % path)
    _guard_cell_layout(spark, path, "ivf_index_append", "epoch=")
    if new_embeddings.select("embedding").first() is None:
        return
    _assign_and_write(new_embeddings, q, path + "/cells", "append")


def _score_pairs_arrow(matched: DataFrame) -> DataFrame:
    """Score a (query_id, neighbor_id, query_vec, cand_vec) pair frame
    with one Arrow-batched fixed-order einsum per batch — bit-identical
    to the HOF ``cosine`` fold it replaces (einsum with the default
    optimize=False accumulates sequentially, the same order as
    ``F.aggregate``'s fold and DuckDB's ``list_inner_product`` — the
    established ``_blocked_pair_kernel`` discipline), including the
    zero-norm → NULL guard (the kernel's 0/0 NaN is mapped back to
    NULL so degenerate vectors still rank LAST under the descending
    window, as the HOF expression's NULL did). Replaces the
    interpreted per-element HOF on the candidate-pair hot path: at
    sf0.1 the margin miner's ~250k matched pairs took ~4 s/direction
    under the HOF and ~0.3 s under the kernel."""
    import numpy as np

    def score(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["query_vec"].to_numpy()).astype(np.float64)
            C = np.stack(pdf["cand_vec"].to_numpy()).astype(np.float64)
            dots = np.einsum("id,id->i", Q, C)
            qn = np.sqrt(np.einsum("id,id->i", Q, Q))
            cn = np.sqrt(np.einsum("id,id->i", C, C))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = dots / (qn * cn)
            sims[(qn == 0) | (cn == 0)] = np.nan
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "sim": sims})

    raw = matched.mapInPandas(
        score, "query_id long, neighbor_id long, sim double")
    return raw.withColumn(
        "sim", F.when(F.isnan("sim"), F.lit(None))
        .otherwise(F.col("sim")))


def _embedding_row_bytes(table) -> int:
    """Driver bytes of one fetched query row: its embedding as
    doubles."""
    emb = table.column("embedding")
    return 8 * len((emb[0].as_py() if len(emb) else None) or ())


def _fetch_queries(queries: DataFrame, site: str):
    """The serving fetch of a query frame (:func:`offload.fetch` under
    :data:`offload.MAX_DRIVER_QUERIES` rows and
    :data:`offload.MAX_DRIVER_QUERY_BYTES` of embedding payload):
    ``((ids, emb), None)`` as numpy arrays, or ``(None, cap)`` when the
    frame is over a cap and the caller keeps its distributed plan."""
    import numpy as np
    table, cap = offload.fetch(
        queries.select("vec_id", "embedding"), site,
        offload.MAX_DRIVER_QUERIES, offload.MAX_DRIVER_QUERY_BYTES,
        _embedding_row_bytes)
    if table is None:
        return None, cap
    return (np.asarray(table.column("vec_id").to_pylist(), dtype=np.int64),
            np.array(table.column("embedding").to_pylist(),
                     dtype=np.float64)), None


def _collect_queries_if_serving_sized(queries: DataFrame):
    """The IVF probes' query fetch (decision site
    ``similarity.serving_queries``): ``(ids, emb)`` numpy arrays, or
    None over the caps."""
    return _fetch_queries(queries, "similarity.serving_queries")[0]


def _local_topk(spark, query_id=(), neighbor_id=(), sim=(), null=None,
                rank=()) -> DataFrame:
    """A driver-computed top-k (empty by default) as a local relation.
    It is built from an Arrow table, so it plans as a ``LocalRelation``
    and drains in 0 jobs whatever the session's Arrow setting (a frame
    built from a Python list drains in 1). ``null`` masks the NULL
    sims; ``round(sim, 6)`` is the JVM's, as in every distributed
    top-k here."""
    import numpy as np
    import pyarrow as pa
    table = pa.table({
        "query_id": pa.array(np.asarray(query_id, np.int64)),
        "neighbor_id": pa.array(np.asarray(neighbor_id, np.int64)),
        "sim": pa.array(np.asarray(sim, np.float64), mask=null),
        "rank": pa.array(np.asarray(rank, np.int32))})
    local = spark.createDataFrame(
        table, "query_id long, neighbor_id long, sim double, rank int")
    return local.select("query_id", "neighbor_id",
                        F.round("sim", 6).alias("sim"), "rank")


def _top_per_query(query_id, keys, n: int):
    """Driver twin of ``row_number() OVER (PARTITION BY query_id ORDER
    BY keys) <= n``: the row indexes kept and their 1-based ranks.
    ``keys`` are numpy columns, most significant first, ascending."""
    import numpy as np
    idx = np.lexsort(tuple(reversed(keys)) + (query_id,))
    q = query_id[idx]
    first = np.ones(len(q), dtype=bool)
    first[1:] = q[1:] != q[:-1]
    pos = np.arange(len(q)) - np.flatnonzero(first)[np.cumsum(first) - 1]
    keep = pos < n
    return idx[keep], pos[keep] + 1


def _ranked_local(spark, query_id, neighbor_id, sim, null,
                  k: int) -> DataFrame:
    """Driver twin of the rank window over scored pairs, ``row_number()
    OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= k``,
    as a :func:`_local_topk` frame. Spark orders doubles with NaN above
    every number, so NaN comes first; NULLs (``null``) come last."""
    import numpy as np
    nan = np.isnan(sim) & ~null
    idx, rank = _top_per_query(
        query_id,
        (null, ~nan, np.where(nan | null, 0.0, -sim), neighbor_id), k)
    return _local_topk(spark, query_id[idx], neighbor_id[idx], sim[idx],
                       null[idx], rank)


def _equi_join(left, right):
    """Row index pairs of the inner join ``left == right`` over two
    key columns, with the join's multiplicity."""
    import numpy as np
    order = np.argsort(right, kind="stable")
    lo = np.searchsorted(right[order], left, "left")
    counts = np.searchsorted(right[order], left, "right") - lo
    li = np.repeat(np.arange(len(left)), counts)
    within = np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts,
                                                 counts)
    return li, order[np.repeat(lo, counts) + within]


def _column_array(col):
    """A parquet column as numpy: a list column as a (rows, width)
    matrix."""
    import pyarrow as pa
    col = col.combine_chunks()
    if pa.types.is_list(col.type):
        return col.flatten().to_numpy().reshape(len(col), -1)
    return col.to_numpy()


def _read_probed_cells(spark, path: str, cell_queries: dict, columns,
                       site: str):
    """Driver read of the probed cells of the index at ``path``
    (``cell_queries``: {cell: the query rows probing it}): the rows'
    cell ids and their ``columns`` as numpy arrays (a list column as a
    matrix), or None when the caller should scan them with Spark.

    One glob lists the probed ``cells/cell=C/`` and the stream's
    ``cells/epoch=E/cell=C/`` files alike (:func:`storage.list_files`),
    so the listing grows with the probed files, not with the index.
    Two caps send the probe to the Spark scan
    (:func:`offload.decide`, logged at ``site``; its ``rows`` are the
    probed files): the listed bytes over
    :data:`offload.MAX_DRIVER_CELL_BYTES`, judged before anything is
    read, and the read rows' (query, candidate) pairs over
    :data:`offload.MAX_DRIVER_PROBE_PAIRS`."""
    import numpy as np
    alts = ",".join(f"cell={c}" for c in sorted(cell_queries))
    files = [(f, size, int(f.rsplit("/", 2)[-2][len("cell="):]))
             for f, size in storage.list_files(
                 spark, path + "/cells", "{{%s},*/{%s}}/*" % (alts, alts))]
    nbytes = sum(size for _, size, _ in files)
    tables = []
    if nbytes <= offload.MAX_DRIVER_CELL_BYTES:
        tables = list(zip(
            [cell for *_, cell in files],
            _read_parquet_files(spark, [f for f, *_ in files], columns)))
    pairs = sum(len(cell_queries[cell]) * t.num_rows for cell, t in tables)
    if offload.decide(site, len(files), nbytes,
                      ("bytes", nbytes, offload.MAX_DRIVER_CELL_BYTES),
                      ("pairs", pairs, offload.MAX_DRIVER_PROBE_PAIRS)):
        return None
    tables = [(cell, t) for cell, t in tables if t.num_rows]
    if not tables:
        return np.empty(0, dtype=np.int64), []
    return (np.concatenate([np.full(t.num_rows, cell, dtype=np.int64)
                            for cell, t in tables]),
            [np.concatenate([_column_array(t.column(c))
                             for _, t in tables]) for c in columns])


def _cell_query_rows(order) -> dict:
    """{cell: query row indexes probing it} of an (N, take) cell
    assignment; -1 padding (tiny two-level quantizers) is dropped, as
    :func:`_quantizer_cells_fn` drops it."""
    import numpy as np
    cell_rows: dict[int, list] = {}
    for i in range(order.shape[0]):
        for c in order[i]:
            if c >= 0:
                cell_rows.setdefault(int(c), []).append(i)
    return {c: np.array(rows, dtype=np.int64)
            for c, rows in cell_rows.items()}


def _cell_pair_sims(q_ids, q_emb, qn, cellmap, n_ids, cells, C):
    """The cell-grouped scoring kernel: (query_id, neighbor_id, sim)
    arrays of every (query, candidate) pair sharing a probed cell, for
    candidates ``n_ids`` in ``cells`` with vectors ``C``, or None when
    no candidate is in a probed cell. Zero norms give NaN. Runs
    per Arrow batch in :func:`_cell_scored_pairs` and once over the
    probed cells in :func:`ivf_probe_topk`'s driver read."""
    import numpy as np
    cn = np.sqrt(np.einsum("id,id->i", C, C))
    out_q, out_n, out_s = [], [], []
    for c in np.unique(cells):
        qrows = cellmap.get(int(c))
        if qrows is None:
            continue
        crows = np.nonzero(cells == c)[0]
        Q = q_emb[qrows]
        dots = np.einsum("id,jd->ij", Q, C[crows])
        denom = qn[qrows][:, None] * cn[crows][None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = dots / denom
        sims[denom == 0] = np.nan
        out_q.append(np.repeat(q_ids[qrows], len(crows)))
        out_n.append(np.tile(n_ids[crows], len(qrows)))
        out_s.append(sims.reshape(-1))
    if not out_q:
        return None
    return (np.concatenate(out_q), np.concatenate(out_n),
            np.concatenate(out_s))


def _cell_scored_pairs(cand: DataFrame, q_ids, q_emb, order) -> DataFrame:
    """Score (query, candidate) pairs CELL-GROUPED with one einsum per
    (cell, batch) — the serving-sized twin of the join +
    :func:`_score_pairs_arrow` pipeline, and the r10 fix for its
    dominant cost: the join materialized BOTH 64-dim vectors per pair
    and pushed ~hundreds of MB through the Arrow boundary (measured
    86 executor-seconds vs 7 CPU-seconds on the sf0.1 mine call —
    tasks were serializing vectors, not computing). Here each query
    vector ships ONCE in the task closure (one shared matrix + per-cell
    row indexes) and each candidate vector crosses Arrow once, so the
    pair space never materializes as rows.

    Bit-identity contract: ``np.einsum`` raw dots in the same
    fixed-order contraction as the per-pair kernel and DuckDB's
    ``list_inner_product`` fold (the established discipline — both
    einsum forms are oracle-hash-checked against the same fold), the
    same ``dots / (qn * cn)`` expression, and the same zero-norm → NaN
    → NULL mapping. ``order`` is the (N, take) driver-side cell
    assignment from :func:`_q_nearest_cells`; the kernel is
    :func:`_cell_pair_sims`."""
    import numpy as np
    qn = np.sqrt(np.einsum("id,id->i", q_emb, q_emb))
    cellmap = _cell_query_rows(order)

    def score(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            got = _cell_pair_sims(
                q_ids, q_emb, qn, cellmap, pdf["neighbor_id"].to_numpy(),
                pdf["cell"].to_numpy(),
                np.stack(pdf["cand_vec"].to_numpy()).astype(np.float64))
            if got is not None:
                yield pd.DataFrame({"query_id": got[0],
                                    "neighbor_id": got[1], "sim": got[2]})

    raw = cand.mapInPandas(
        score, "query_id long, neighbor_id long, sim double")
    return raw.withColumn(
        "sim", F.when(F.isnan("sim"), F.lit(None))
        .otherwise(F.col("sim")))


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE shared IVF rerank tail: self-pair filter, per-query rank
    under the (sim desc, neighbor_id) total order, k-cut, round-6."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (scored
            .where(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))


def _ranked_topk_local(spark, query_id, neighbor_id, sim,
                       k: int) -> DataFrame:
    """Driver twin of :func:`_ranked_topk` over the
    :func:`_cell_pair_sims` arrays, whose NaN sims are the NULLs of
    :func:`_cell_scored_pairs`."""
    import numpy as np
    other = query_id != neighbor_id
    return _ranked_local(spark, query_id[other], neighbor_id[other],
                         sim[other], np.isnan(sim[other]), k)


def ivf_probe_topk(spark, path: str, queries: DataFrame, k: int = 10,
                   n_probe: int = 4) -> DataFrame:
    """Approximate top-k against a PERSISTED IVF index (the serving
    loop): load the kilobyte centroid table, assign each query its
    ``n_probe`` nearest cells, and read ONLY those cells of the index
    store — the cell directories are the index lookup, so a 100 TB
    index reads ~n_probe/n_cells of its bytes per batch of queries.
    Exact cosine rerank within the probed candidates, deterministic
    tie-breaks. Queries assign through the SAME quantizer the build
    used (flat or two-level — ``_load_quantizer`` reconstructs it from
    the persisted tables), so build/probe cell agreement holds at any
    n_cells.

    Three physical strategies behind one logical result, all
    bit-identical (equivalence-tested):

    1. driver read: a serving-sized query batch (the ``offload`` caps
       of site ``similarity.serving_queries``) is fetched, assigned its
       cells on the driver, and when the probed cells fit the cell caps
       they are read on the driver (:func:`_read_probed_cells`), scored
       by the :func:`_cell_pair_sims` kernel and ranked by
       :func:`_ranked_topk_local`. The result is a local relation:
       the query fetch is the only Spark job of the call and draining
       the result runs none;
    2. Spark scan: the same, with probed cells over either cap read
       by a partition-pruned Spark scan and scored cell-grouped in one
       Arrow pass (:func:`_cell_scored_pairs`) — no join, each vector
       crosses the Python boundary once;
    3. distributed: an over-cap query frame keeps the fully
       distributed join plan.
    """
    q = _load_quantizer(spark, path)
    if q is None:
        return _local_topk(spark)
    fetched = _collect_queries_if_serving_sized(queries)
    if fetched is not None:
        import numpy as np
        q_ids, q_emb = fetched
        if not len(q_ids):
            return _local_topk(spark)
        order = _q_nearest_cells(q, q_emb, n_probe)
        probed = sorted({int(c) for c in order.reshape(-1) if c >= 0})
        cellmap = _cell_query_rows(order)
        read = _read_probed_cells(spark, path, cellmap,
                                  ["vec_id", "embedding"],
                                  "similarity.ivf_probe_topk")
        if read is not None:
            cells, cols = read
            qn = np.sqrt(np.einsum("id,id->i", q_emb, q_emb))
            got = (_cell_pair_sims(q_ids, q_emb, qn, cellmap, cols[0],
                                   cells, cols[1])
                   if len(cells) else None)
            if got is None:
                return _local_topk(spark)
            return _ranked_topk_local(spark, *got, k)
        cand = (spark.read.parquet(path + "/cells")
                .where(F.col("cell").isin(probed))
                .select(F.col("vec_id").alias("neighbor_id"), "cell",
                        F.col("embedding").alias("cand_vec")))
        return _ranked_topk(
            _cell_scored_pairs(cand, q_ids, q_emb, order), k)
    query_cells = (queries.select("vec_id", "embedding")
                   .mapInPandas(_quantizer_cells_fn(q, n_probe),
                                "vec_id long, cell int"))
    # ONE scalar-aggregate job yields the probed-cell union
    # (≤ n_cells ints → a STATIC partition filter on the index scan).
    # No eager checkpoint: a probe is a per-request call and must pin
    # nothing (ivfpq_probe_topk discipline); the assign kernel re-runs
    # lazily in the final plan, kilobytes of query frame against a
    # corpus-sized index read.
    stats = query_cells.agg(
        F.collect_set("cell").alias("cells")).collect()[0]
    probed = sorted(stats["cells"])
    cand = (spark.read.parquet(path + "/cells")
            .where(F.col("cell").isin(probed))
            .select(F.col("vec_id").alias("neighbor_id"), "cell",
                    F.col("embedding").alias("cand_vec")))
    return _cell_join_topk(cand, queries, query_cells, k)


def _cell_join_topk(cand: DataFrame, queries: DataFrame,
                    query_cells: DataFrame, k: int) -> DataFrame:
    """The distributed IVF rerank: the probed candidates (neighbor_id,
    cell, cand_vec) join the queries on their probed cells
    (``query_cells``: vec_id, cell), are scored by the Arrow kernel and
    ranked. NO distinct: each corpus vector lives in exactly ONE cell
    (take=1 assignment) and a query probes DISTINCT cells, so (query,
    neighbor) pairs are unique by construction — the oracle joins
    without DISTINCT and hash-matches. The r8 profile measured the old
    defensive distinct at ~3 s/direction at sf0.1: it shuffled rows
    carrying BOTH 64-dim vectors and row-compared array columns, for
    zero semantic effect."""
    qry = (query_cells
           .join(queries.select(F.col("vec_id"),
                                F.col("embedding").cast("array<double>")
                                .alias("query_vec")), "vec_id")
           .select(F.col("vec_id").alias("query_id"), "cell", "query_vec"))
    matched = (cand.join(qry, "cell")
               .where(F.col("neighbor_id") != F.col("query_id"))
               .select("query_id", "neighbor_id", "query_vec",
                       "cand_vec"))
    return _ranked_topk(_score_pairs_arrow(matched), k)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 4,
             iters: int = 2) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the cell-probing
    alternative to sign-LSH: coarse k-means cells over the corpus; each
    query probes its ``n_probe`` nearest cells and reranks exactly
    within them. Cost per query ≈ corpus/n_cells × n_probe instead of
    the full corpus.

    At 100 TB: the corpus is written partitioned by cell id once
    (cells are the IVF index); queries touch only probed partitions —
    partition pruning IS the index lookup. Deterministic end-to-end
    (fixed init, argmax ties break to the lowest cell index).
    ``n_cells`` past :data:`quantizer.IVF_TWO_LEVEL_MIN_CELLS` trains/assigns
    through the two-level quantizer, like the persisted builder.
    """
    init_rows = _init_rows(embeddings, n_cells)  # probe + init, one job
    if not init_rows:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int")
    q = _train_quantizer(embeddings, n_cells, iters, init_rows=init_rows)
    # corpus assignment CARRIES the vector through the kernel
    # (carry_vec — the streaming cell-store shape) instead of joining
    # the assignment back to the embedding table: one Arrow pass, no
    # corpus-keyed join/exchange in the candidate branch (r10).
    # Deliberately NO parallelize_for_compute here: the per-side
    # assignment+scoring kernels are small at serving sizes and the
    # repartition's 32-task Python fan-out measured SLOWER than the
    # pipelined single-task scan (2.9 -> 5.2 s same-window A/B on the
    # ANN miner, which runs this twice under the thread overlap).
    cand = (embeddings.select("vec_id", "embedding")
            .mapInPandas(_quantizer_cells_fn(q, 1, carry_vec=True),
                         "vec_id long, cell int, vec array<double>")
            .select(F.col("vec_id").alias("neighbor_id"), "cell",
                    F.col("vec").alias("cand_vec")))
    # serving-sized query batches take the driver path — same strategy
    # split (and the same measured why) as ivf_probe_topk
    fetched = _collect_queries_if_serving_sized(queries)
    if fetched is not None and len(fetched[0]):
        q_ids, q_emb = fetched
        order = _q_nearest_cells(q, q_emb, n_probe)
        return _ranked_topk(
            _cell_scored_pairs(cand, q_ids, q_emb, order), k)
    query_cells = (queries.select("vec_id", "embedding")
                   .mapInPandas(_quantizer_cells_fn(q, n_probe),
                                "vec_id long, cell int"))
    return _cell_join_topk(cand, queries, query_cells, k)


def _build_both_sides(spark, build_fwd, build_bwd):
    """Run the two independent per-side constructions of a margin
    miner on two driver threads (guide §2.6: actions are sequential
    only because driver code calls them sequentially). Each side's
    build is a chain of small blocking jobs — init/centroid collects,
    query fetches — whose gaps the other side's jobs back-fill.
    ``inheritable_thread_target`` propagates the caller's job
    group/description into the children, so job-count pins and UI
    labels see exactly the jobs they saw when the builds ran serially.
    Results are unchanged: the builds share no mutable state and each
    is deterministic on its own."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target
    wrap = inheritable_thread_target(spark)
    if not callable(wrap):
        # Classic gateway with pinned-thread mode DISABLED
        # (PYSPARK_PIN_THREAD=false): pyspark returns the session
        # argument unchanged, so `wrap(build_fwd)` would call the
        # SparkSession and raise TypeError (r11, ADVICE). There is no
        # per-thread property propagation to inherit in that mode —
        # run the callables unwrapped; results are identical, only UI
        # labels/job-group pins would differ.
        wrap = lambda fn: fn  # noqa: E731
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fwd = pool.submit(wrap(build_fwd))
        f_bwd = pool.submit(wrap(build_bwd))
        return f_fwd.result(), f_bwd.result()


#: Candidate-selection strategies of Artetxe & Schwenk §3.2: which
#: cross-side pairs are SCORED with the margin (the margin expression
#: itself is identical). ``forward`` = x's top-k in the target side;
#: ``backward`` = y's top-k in the source side; ``intersection`` /
#: ``max`` (union) combine the two — the paper's best results use the
#: bidirectional strategies.
MARGIN_DIRECTIONS = ("forward", "backward", "intersection", "max")


def _margin_candidate_pred(direction: str, k: int):
    """Shared forward/backward rank predicate for the exact miner."""
    preds = {
        "forward": F.col("__ra") <= k,
        "backward": F.col("__rb") <= k,
        "intersection": (F.col("__ra") <= k) & (F.col("__rb") <= k),
        "max": (F.col("__ra") <= k) | (F.col("__rb") <= k),
    }
    if direction not in preds:
        raise ValueError(
            f"direction must be one of {MARGIN_DIRECTIONS}, "
            f"got {direction!r}")
    return preds[direction]


def margin_bitext_pairs(embeddings: DataFrame, k: int = 4,
                        threshold: float = 1.0,
                        side_col: str = "label",
                        direction: str = "forward") -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk, "Margin-
    based Parallel Corpus Mining with Multilingual Sentence
    Embeddings", ACL 2019 — the CCMatrix/LASER recipe): a cross-side
    pair (x, y) is mined when its cosine stands out RELATIVE to each
    side's local neighborhood density,

        margin(x, y) = cos(x, y) / ((avg_kNN(x) + avg_kNN(y)) / 2),

    which suppresses hub vectors that are near everything. Sides are
    carved from ``side_col`` parity (even = source, odd = target) so
    the operator is self-contained on the fixture; a real pipeline
    passes language ids.

    Determinism discipline: candidate sims round to 6 BEFORE the
    neighborhood averages, and the averages sum in DECIMAL(16,6) —
    exact, order-free — so the margin is bit-identical across engines
    and partitionings (the double division is a single fixed
    expression). Output: candidate pairs under ``direction``
    (see :data:`MARGIN_DIRECTIONS` — forward = x's top-k in the target
    side, backward = y's top-k in the source side, intersection / max
    per Artetxe & Schwenk §3.2) with margin ≥ ``threshold``, ranked
    per source by margin. The per-side neighborhood averages are
    always computed from BOTH directions' top-k (they define the
    margin); ``direction`` only selects which pairs get scored.

    Scale shape: this oracle-scale form scores the full A×B product —
    right for evaluation corpora (the TARGET side collects to the
    driver under ``offload.MAX_DRIVER_QUERIES`` and ships in the kernel
    closure, the brute_force_topk_arrow pattern; past the cap it falls
    back to the JVM cross join, correct at any size). The 100 TB
    mining path is :func:`margin_bitext_pairs_ann` — the SAME margin
    expression fed from per-side IVF shortlists instead of the full
    product, which is the published pipeline's shape (LASER/CCMatrix
    mine from FAISS shortlists). Scoring here is
    an Arrow einsum kernel — raw dots in the same fixed-order
    contraction as DuckDB's ``list_inner_product`` fold, rounded
    JVM-side — because the interpreted per-element HOF cosine measured
    ~37 s for the 1M-pair sf0.1 product vs ~2 s for the kernel."""
    import numpy as np
    if direction not in MARGIN_DIRECTIONS:  # validate before any job
        raise ValueError(f"direction must be one of {MARGIN_DIRECTIONS},"
                         f" got {direction!r}")
    # null embeddings (or null elements) have no cosine and would crash
    # np.stack in the kernel / the driver collect — same pre-filter as
    # embedding_blocked_near_dup (fixtures carry no nulls, so the
    # DuckDB twin needs no mirror filter today)
    embeddings = embeddings.where(
        F.col("embedding").isNotNull()
        & F.forall("embedding", lambda x: x.isNotNull()))
    a = embeddings.where(F.col(side_col) % 2 == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("__sv"))
    b = embeddings.where(F.col(side_col) % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("__tv"))
    n_tgt = b.count()
    if n_tgt and offload.decide(
            "similarity.margin_bitext_pairs", n_tgt, 0,
            ("rows", n_tgt, offload.MAX_DRIVER_QUERIES)) is None:
        tgt = b.collect()
        t_ids = np.array([r["tgt_id"] for r in tgt], dtype=np.int64)
        Y = np.stack([np.asarray(r["__tv"], dtype=np.float64)
                      for r in tgt])
        yn = np.sqrt(np.einsum("id,id->i", Y, Y))

        def score(batches):
            import pandas as pd
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["__sv"].to_numpy()).astype(np.float64)
                xn = np.sqrt(np.einsum("id,id->i", X, X))
                sims = np.einsum("id,jd->ij", X, Y)
                sims /= xn[:, None] * yn[None, :]
                yield pd.DataFrame({
                    "src_id": pdf["src_id"].to_numpy()
                    .repeat(len(t_ids)),
                    "tgt_id": np.tile(t_ids, len(X)),
                    "sim_raw": sims.reshape(-1)})

        # the kernel emits |a|×|b| rows from the SOURCE-side scan
        # stage — a single-row-group source runs it on one task
        # (measured 2.5 s/branch at sf0.1, twice: AQE materializes
        # the two window exchanges separately), so guarantee cluster
        # parallelism first (no-op at real split counts)
        from s3_elasticsearch_data_pipeline_spark.tables import (
            parallelize_for_compute)
        scored = (parallelize_for_compute(a).mapInPandas(
            score, "src_id long, tgt_id long, sim_raw double")
            .select("src_id", "tgt_id",
                    F.round("sim_raw", 6).alias("sim")))
    else:
        from s3_elasticsearch_data_pipeline_spark.functions.vector import (
            cosine)
        scored = (a.crossJoin(b)
                  .select("src_id", "tgt_id",
                          F.round(cosine(F.col("__sv"),
                                         F.col("__tv")), 6)
                          .alias("sim")))
    wa = Window.partitionBy("src_id").orderBy(F.col("sim").desc(),
                                              "tgt_id")
    wb = Window.partitionBy("tgt_id").orderBy(F.col("sim").desc(),
                                              "src_id")
    ranked = (scored.withColumn("__ra", F.row_number().over(wa))
              .withColumn("__rb", F.row_number().over(wb)))
    dec = F.col("sim").cast("decimal(16,6)")
    den_a = (ranked.where(F.col("__ra") <= k).groupBy("src_id")
             .agg(F.sum(dec).alias("__sa"),
                  F.count(F.lit(1)).alias("__ca")))
    den_b = (ranked.where(F.col("__rb") <= k).groupBy("tgt_id")
             .agg(F.sum(dec).alias("__sb"),
                  F.count(F.lit(1)).alias("__cb")))
    denom = ((F.col("__sa").cast("double") / F.col("__ca")
              + F.col("__sb").cast("double") / F.col("__cb")) / 2)
    mined = (ranked.where(_margin_candidate_pred(direction, k))
             .join(den_a, "src_id").join(den_b, "tgt_id")
             .select("src_id", "tgt_id", "sim",
                     F.round(F.col("sim") / denom, 6).alias("margin"))
             .where(F.col("margin") >= threshold))
    wm = Window.partitionBy("src_id").orderBy(F.col("margin").desc(),
                                              "tgt_id")
    return (mined.withColumn("rank", F.row_number().over(wm))
            .select("src_id", "tgt_id", "sim", "margin", "rank"))


def margin_bitext_pairs_ann(embeddings: DataFrame, k: int = 4,
                            threshold: float = 1.0,
                            side_col: str = "label",
                            n_cells: int | None = None,
                            n_probe: int = 4,
                            iters: int = 2,
                            direction: str = "forward") -> DataFrame:
    """Margin-based bitext mining over ANN SHORTLISTS — the 100 TB
    shape of :func:`margin_bitext_pairs`, and the published pipeline's
    (Artetxe & Schwenk ACL 2019 §4; LASER/CCMatrix score margins over
    FAISS shortlists, never the full A×B product):

    1. each side indexes the OTHER side with the IVF machinery
       (:func:`ivf_topk` — coarse k-means cells, cell-probed exact
       rerank): forward = A queries against the B corpus, backward =
       B queries against the A corpus. Cost per query is
       ~|corpus|/n_cells × n_probe instead of |corpus| — the full
       product never materializes, and the plan contains no cross
       join (plan-asserted in tests).
    2. the kNN neighborhood averages that define the margin are
       computed over the SHORTLISTS (per-side exact DECIMAL(16,6)
       sums of the round-6 shortlist sims — the same order-free
       discipline as the exact miner), exactly as the paper evaluates
       its own FAISS-backed variant;
    3. the same margin expression, threshold, and per-source rank.

    Approximation is confined to candidate RECALL (a true pair missed
    by both sides' probes is not scored); every scored margin uses
    exact cosines. Recall vs the exact miner is pinned ≥0.95 on
    planted parallel pairs in tests. A pair is only emitted when both
    endpoints have a non-empty shortlist (the margin needs both
    neighborhoods); a query whose probed cells are all empty mines
    nothing — at real corpus sizes every probed cell is populated.

    Deterministic end-to-end: the IVF trainer, cell probing, rerank
    tie-breaks, and the DECIMAL margin are all deterministic, so the
    result is partition-invariant and SQL-replayable (the registry's
    DuckDB twin unrolls BOTH sides' k-means trainings).

    ``n_cells=None`` (default) auto-sizes EACH side's index at
    constant target occupancy — ``max(16, ceil(n_side / 64))``, the
    ``embedding_blocked_near_dup`` rule — so candidate volume stays
    ~n_probe·64 per query at any corpus size (a FIXED cell count
    leaves the probe quadratic/n_cells: measured 7.3× wall on 10×
    data at n_cells=16). At every oracle SF and at sf0.1 the rule
    resolves to 16 flat cells, which is what the DuckDB twin encodes;
    past :data:`quantizer.IVF_TWO_LEVEL_MIN_CELLS` the quantizer goes
    two-level. The two ``count()`` jobs are metadata-fast on parquet
    sources.

    At index-serving scale, swap the inline ``ivf_topk`` calls for
    ``ivf_probe_topk`` against persisted per-side indexes — build
    once, mine many; the composition below is otherwise unchanged.
    """
    import math
    if direction not in MARGIN_DIRECTIONS:  # validate before any job
        raise ValueError(f"direction must be one of {MARGIN_DIRECTIONS},"
                         f" got {direction!r}")
    emb = embeddings.where(
        F.col("embedding").isNotNull()
        & F.forall("embedding", lambda x: x.isNotNull()))
    a = emb.where(F.col(side_col) % 2 == 0).select("vec_id", "embedding")
    b = emb.where(F.col(side_col) % 2 == 1).select("vec_id", "embedding")
    # NO checkpoint on the shortlists even though each feeds both its
    # side's denominator and the candidate set: the window shuffle is
    # an Exchange, so Spark's ReusedExchange already deduplicates the
    # branches (verified: a lazy localCheckpoint here measured SLOWER,
    # 5.1 → 7.3 s at sf0.1 — cache-persist overhead for zero saved
    # work).
    #
    # The two directions are INDEPENDENT until the margin stage, and
    # each ivf_topk construction is a chain of small driver-blocking
    # jobs (init fetch + Lloyd-round collects + the query fetch) —
    # serial, they leave the cluster idle between collects. Build them
    # on two driver threads (guide-§2.6 overlap; inheritable target so
    # job groups/descriptions propagate and the job-count pins keep
    # counting) — same deterministic results, the trainings share no
    # state.
    def build_fwd():
        n_b = n_cells if n_cells is not None else auto_n_cells(b.count())
        return (ivf_topk(b, a, k=k, n_cells=n_b, n_probe=n_probe,
                         iters=iters)
                .select(F.col("query_id").alias("src_id"),
                        F.col("neighbor_id").alias("tgt_id"), "sim"))

    def build_bwd():
        n_a = n_cells if n_cells is not None else auto_n_cells(a.count())
        return (ivf_topk(a, b, k=k, n_cells=n_a, n_probe=n_probe,
                         iters=iters)
                .select(F.col("neighbor_id").alias("src_id"),
                        F.col("query_id").alias("tgt_id"), "sim"))

    fwd, bwd = _build_both_sides(emb.sparkSession, build_fwd, build_bwd)
    return _margin_from_shortlists(fwd, bwd, threshold, direction)


def _margin_from_shortlists(fwd: DataFrame, bwd: DataFrame,
                            threshold: float,
                            direction: str) -> DataFrame:
    """THE margin stage over per-side kNN shortlists, shared by the
    inline-trained miner (:func:`margin_bitext_pairs_ann`) and the
    persisted-index miner (:func:`margin_bitext_pairs_indexed`):
    exact DECIMAL(16,6) neighborhood averages of the round-6 shortlist
    sims (order-free), one fixed double expression for the margin,
    candidate selection by ``direction``, per-source rank. ``fwd``
    carries (src_id, tgt_id, sim) = each source's top-k targets;
    ``bwd`` the same columns from the target side's search."""
    dec = F.col("sim").cast("decimal(16,6)")
    den_a = fwd.groupBy("src_id").agg(F.sum(dec).alias("__sa"),
                                      F.count(F.lit(1)).alias("__ca"))
    den_b = bwd.groupBy("tgt_id").agg(F.sum(dec).alias("__sb"),
                                      F.count(F.lit(1)).alias("__cb"))
    if direction == "forward":
        cand = fwd
    elif direction == "backward":
        cand = bwd
    elif direction == "intersection":
        cand = fwd.join(bwd.select("src_id", "tgt_id"),
                        ["src_id", "tgt_id"], "semi")
    else:  # max = union (sims identical on shared pairs: cosine is
        cand = fwd.unionByName(bwd).distinct()  # exactly symmetric)
    denom = ((F.col("__sa").cast("double") / F.col("__ca")
              + F.col("__sb").cast("double") / F.col("__cb")) / 2)
    mined = (cand.join(den_a, "src_id").join(den_b, "tgt_id")
             .select("src_id", "tgt_id", "sim",
                     F.round(F.col("sim") / denom, 6).alias("margin"))
             .where(F.col("margin") >= threshold))
    wm = Window.partitionBy("src_id").orderBy(F.col("margin").desc(),
                                              "tgt_id")
    return (mined.withColumn("rank", F.row_number().over(wm))
            .select("src_id", "tgt_id", "sim", "margin", "rank"))


def margin_bitext_pairs_indexed(spark, path_src: str, path_tgt: str,
                                k: int = 4, threshold: float = 1.0,
                                n_probe: int = 4,
                                direction: str = "forward") -> DataFrame:
    """Margin mining against PERSISTED per-side IVF indexes — the
    build-once / mine-many production loop the inline
    :func:`margin_bitext_pairs_ann` trains per call: each side's
    corpus lives in an index built by :func:`build_ivf_index`
    (+ :func:`ivf_index_append` for new batches / the streaming
    ingest), and a mining run is two :func:`ivf_probe_topk` passes —
    forward probes the target index with the source side's vectors
    (read from the source index's own cell store, so no second copy
    of the corpus is needed) — plus the shared margin stage.

    Equivalence: the quantizer persistence roundtrip is exact and the
    probe uses the same assignment/scoring kernels as the inline
    search, so with indexes built at the same parameters this returns
    the inline miner's result bit-for-bit (tested); the registry twin
    therefore reuses the inline oracle. Side vec_ids must be
    disjoint, as in every margin variant (sides are different
    languages/corpora by construction)."""
    if direction not in MARGIN_DIRECTIONS:  # validate before any job
        raise ValueError(f"direction must be one of {MARGIN_DIRECTIONS},"
                         f" got {direction!r}")
    a_vecs = (spark.read.parquet(path_src + "/cells")
              .select("vec_id", "embedding"))
    b_vecs = (spark.read.parquet(path_tgt + "/cells")
              .select("vec_id", "embedding"))

    # overlap the two probes' driver-blocking phases (quantizer load +
    # query fetch) — independent until the margin stage, see
    # _build_both_sides
    def build_fwd():
        return (ivf_probe_topk(spark, path_tgt, a_vecs, k=k,
                               n_probe=n_probe)
                .select(F.col("query_id").alias("src_id"),
                        F.col("neighbor_id").alias("tgt_id"), "sim"))

    def build_bwd():
        return (ivf_probe_topk(spark, path_src, b_vecs, k=k,
                               n_probe=n_probe)
                .select(F.col("neighbor_id").alias("src_id"),
                        F.col("query_id").alias("tgt_id"), "sim"))

    fwd, bwd = _build_both_sides(spark, build_fwd, build_bwd)
    return _margin_from_shortlists(fwd, bwd, threshold, direction)


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the memory-compression step an ANN index applies before serving
    (4x smaller vectors, one multiply to dequantize).

    Per vector: ``scale = max|v| / 127``, ``q_i = floor(v_i/scale +
    0.5)`` (explicit half-up so both engines round identically), and
    the reconstruction MSE as the quality metric. All per-row HOF
    algebra with sequential folds — deterministic, shuffle-free, and
    embarrassingly parallel at any scale.
    """
    emb = F.col("__emb")
    scale = F.col("__scale")
    q = lambda x: F.floor(x / scale + F.lit(0.5))  # noqa: E731
    sq_err = lambda x: (x - q(x) * scale) * (x - q(x) * scale)  # noqa: E731
    return (embeddings
            .withColumn("__emb", F.col("embedding").cast("array<double>"))
            .withColumn("__scale",
                        F.array_max(F.transform(emb, F.abs)) / F.lit(127.0))
            .where(scale > 0)
            .select(
                "vec_id",
                F.round(scale, 9).alias("scale"),
                F.aggregate(emb, F.lit(0).cast("bigint"),
                            lambda acc, x: acc + q(x).cast("bigint"))
                 .alias("q_sum"),
                F.round(F.aggregate(emb, F.lit(0.0),
                                    lambda acc, x: acc + sq_err(x))
                        / F.size(emb), 9).alias("mse")))


def brute_force_topk_arrow(embeddings: DataFrame, queries: DataFrame,
                           k: int = 10) -> DataFrame:
    """Arrow-vectorized exact top-k: the corpus streams through
    mapInPandas in batches and each batch scores ALL queries with one
    numpy matmul (queries broadcast via closure — they are the small
    side by construction).

    Same answer as ``brute_force_topk`` (tested), ~an order of
    magnitude faster per row than the per-element HOF fold: the dot
    products run in BLAS over Arrow-materialized batches instead of
    interpreted per-element expression eval. This is the "UDFs are the
    slow path — unless they're vectorized" trade made explicit; the
    final exact top-k is still a per-query window over (corpus-batch
    partial top-k)s, so the shuffle carries ≤ k rows per (batch,
    query), not the full score matrix.

    Query frames over the serving caps (:func:`offload.fetch`, site
    ``similarity.brute_force_topk_arrow``) AUTO-SWITCH to the fully
    distributed :func:`brute_force_topk` (broadcast-join, no driver
    collect) — same exact answer under the same (sim desc, neighbor_id)
    total order, different physical strategy; mirrors the PageRank
    broadcast/partitioned auto-switch.

    Determinism: each batch's partial top-k is taken under the TOTAL
    order (sim desc, neighbor_id asc) — batch rows are pre-sorted by
    neighbor id and a stable argsort on similarity breaks exact-score
    ties by id, so the global result is independent of partitioning
    and Arrow batch boundaries (a bare argpartition would split
    boundary ties arbitrarily per batch).
    """
    import numpy as np
    fetched, _ = _fetch_queries(queries.orderBy("vec_id"),
                                "similarity.brute_force_topk_arrow")
    if fetched is None:
        return brute_force_topk(embeddings, queries, k)
    q_ids, q_mat = fetched
    if not len(q_ids):
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int")
    q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    kk = k

    def score(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
            n_ids = pdf["vec_id"].to_numpy()
            # canonical in-batch order: ascending neighbor id, so the
            # stable sort below resolves similarity ties by id
            ord0 = np.argsort(n_ids)
            n_ids = n_ids[ord0]
            sims = q_unit @ unit[ord0].T               # (Q, batch)
            # mask self-matches BEFORE the partial top-k, or the query
            # vector's own batch yields only k-1 real candidates
            sims[q_ids[:, None] == n_ids[None, :]] = -np.inf
            take = min(kk, sims.shape[1])
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame({
                "query_id": q_ids.repeat(take),
                "neighbor_id": n_ids[idx].reshape(-1),
                "sim": np.take_along_axis(sims, idx, axis=1).reshape(-1),
            })

    partials = (embeddings.select("vec_id", "embedding")
                .mapInPandas(score,
                             "query_id long, neighbor_id long, sim double"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (partials.where(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= kk)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))


def pca_project(embeddings: DataFrame, k: int = 2) -> DataFrame:
    """Distributed PCA projection: per-partition moment matrices
    (n, Σx, ΣxᵀX — Arrow-batched numpy, the right tool for dense BLAS
    work) combine on the driver into the d×d covariance (d=64: tiny,
    driver-side eigh is free), then the top-k components broadcast
    back as literal arrays and the projection runs JVM-side per row.

    Scale shape: the 100 TB of vectors is touched ONCE, emitting one
    (d + d²)-double row per partition; nothing else leaves the
    executors. Classic two-phase moment reduction — same pattern as
    the prefix-sum packer, applied to matrices. Sign convention: each
    component's largest-|loading| entry is made positive, so output is
    deterministic across eigensolvers.
    """
    import numpy as np

    def partial(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            yield pd.DataFrame({
                "n": [len(X)],
                "s": [X.sum(axis=0).tolist()],
                "ss": [(X.T @ X).ravel().tolist()]})

    parts = (embeddings.select("embedding")
             .mapInPandas(partial, "n long, s array<double>, ss array<double>")
             .collect())
    n = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    S = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    SS = np.sum([np.asarray(p["ss"]).reshape(d, d) for p in parts], axis=0)
    mu = S / n
    cov = SS / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)          # ascending
    comps = vecs[:, ::-1][:, :k].T            # top-k rows
    for i in range(k):                        # deterministic sign
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]

    out = embeddings.select("vec_id", "label", "embedding")
    for i in range(k):
        comp = F.array(*[F.lit(float(c)) for c in comps[i]])
        mu_dot = float(np.dot(mu, comps[i]))
        proj = F.aggregate(
            F.zip_with(F.col("embedding").cast("array<double>"), comp,
                       lambda x, w: x * w),
            F.lit(0.0), lambda acc, v: acc + v) - F.lit(mu_dot)
        out = out.withColumn(f"pc{i + 1}", F.round(proj, 6))
    return out.drop("embedding")


def _pq_train(x, m: int, k_codes: int, iters: int):
    """Deterministic per-subspace Lloyd training over a sample MATRIX
    (n × d) → (m × k_codes × d/m) codebooks. Shared by the raw-vector
    path (:func:`_pq_codebooks`) and the IVF-PQ residual path (which
    trains on x − centroid[cell] residuals of the same sample).

    Centroid updates round to 6 decimals — the same cross-engine
    determinism discipline as :func:`quantizer._kmeans_centroids` (where the
    posexplode aggregate rounds for order-stability): the quantization
    noise is far below the codebook's own distortion, and it makes the
    whole trainer replayable as an unrolled SQL CTE so the PQ family's
    registry queries can carry a DuckDB oracle."""
    import numpy as np
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    sub = d // m
    books = []
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        # deterministic init: evenly spaced sample rows
        idx = np.linspace(0, len(xs) - 1, k_codes).astype(int)
        c = xs[idx].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for code in range(k_codes):
                mask = assign == code
                if mask.any():
                    # Python round per component, not np.round: the
                    # PQ/IVF-PQ oracles replay all Lloyd rounds as an
                    # unrolled SQL CTE, so a single np.round scaled-
                    # x*1e6 midpoint disagreement with SQL round would
                    # cascade into a different codebook and a full
                    # oracle hash mismatch (same discipline as ml.py's
                    # GD weight trajectory and _blocked_pair_kernel).
                    c[code] = np.array(
                        [round(float(v), 6)
                         for v in xs[mask].mean(axis=0)])
        books.append(c)
    return np.stack(books)  # (m, k_codes, sub)


def recommended_train_sample(k_codes: int, per_centroid: int = 39) -> int:
    """Production sizing for the PQ/IVF ``train_sample`` parameter:
    ≥ ``per_centroid`` training points per centroid (39 is the FAISS
    practice floor — below it centroids chase sample noise; FAISS warns
    under 39×k and clamps its own training sets around 256×k). The
    repo default ``train_sample=256`` suits the small oracle fixtures;
    a real corpus with ``k_codes=16`` wants ≥ 624, and coarse IVF
    training wants the same rule on ``n_cells``. The gap is measured:
    tests/test_approx_ops.py pins mean reconstruction MSE dropping
    monotonically 256 → 39×k → 2048 on a 5k-vector clustered corpus
    (SCALING.md "PQ/IVF training-sample sizing")."""
    return per_centroid * k_codes


def _pq_codebooks(embeddings: DataFrame, m: int, k_codes: int,
                  train_sample: int, iters: int):
    """Per-subspace codebooks (m × k_codes × d/m) trained with
    deterministic Lloyd iterations on a fixed sample — the standard PQ
    recipe (Jégou/Douze/Schmid, "Product quantization for nearest
    neighbor search", TPAMI 2011): codebooks always come from a sample;
    only ENCODING touches the full corpus. Driver memory is
    m·k·(d/m) = k·d floats — KB, independent of corpus size."""
    import numpy as np
    rows = (embeddings.orderBy("vec_id").limit(train_sample)
            .select("embedding").collect())
    if not rows:
        return None  # empty corpus → callers emit an empty frame
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return _pq_train(x, m, k_codes, iters)


def product_quantize(embeddings: DataFrame, m: int = 8, k_codes: int = 16,
                     train_sample: int = 256, iters: int = 8,
                     _books=None) -> DataFrame:
    """PQ-encode every vector: m uint8 codes (nearest per-subspace
    centroid) + the reconstruction MSE. 64-dim float32 → 8 bytes per
    vector = 32× compression; at 100 TB of embeddings the code table
    fits where the raw vectors never will, which is the point.

    Encoding is one Arrow-batched ``mapInPandas`` pass with the
    broadcast codebook matrix; no shuffle at all.

    ``_books`` lets callers that already trained codebooks (pq_topk)
    reuse them instead of re-running the sample collect + Lloyd loop."""
    import numpy as np
    books = (_books if _books is not None else
             _pq_codebooks(embeddings, m, k_codes, train_sample, iters))
    if books is None:  # empty corpus mid-pipeline: empty, don't throw
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, label int, codes array<bigint>, "
                "recon_mse double")
    sub = books.shape[2]

    def encode(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((len(x), m), dtype=np.int64)
            recon = np.empty_like(x)
            for j in range(m):
                xs = x[:, j * sub:(j + 1) * sub]
                d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
                recon[:, j * sub:(j + 1) * sub] = books[j][codes[:, j]]
            mse = ((x - recon) ** 2).mean(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "label": pdf["label"],
                                "codes": list(codes),
                                "recon_mse": np.round(mse, 8)})

    return embeddings.select("vec_id", "label", "embedding").mapInPandas(
        encode, "vec_id long, label int, codes array<bigint>, "
                "recon_mse double")


def _adc_partial_topk(tables, q_ids, codes, ids, rerank: int, m: int):
    """Shared ADC kernel: per-query partial shortlist over one block of
    PQ codes. ``tables`` is (n_q, m, k_codes); rows are first put in
    canonical ascending-id order so the stable argsort resolves
    exact-distance ties by neighbor id — the per-block order is then
    byte-identical to the global window's (adc_dist, neighbor_id)
    order, which makes the shortlist independent of batch/block
    boundaries (the standard distributed-top-k argument). Distances
    are rounded to 8 decimals HERE for the same reason.

    Memory shape: queries run in sub-batches of 128 and the m subspace
    lookups ACCUMULATE into one (q_sub × block) float64 matrix — the
    largest live array is 128 × block_rows doubles (~67 MB at the
    65k-row block target), independent of m. A single fancy-index
    gather over all m subspaces at once would transiently materialize
    (q_sub × block × m) — ~2 GB at the same sizes — and OOM executors
    on exactly the over-cap searches the distributed path serves."""
    import numpy as np
    import pandas as pd
    ord0 = np.argsort(ids)
    ids, codes = ids[ord0], codes[ord0]
    top = min(rerank, codes.shape[0])
    out_q, out_n, out_d = [], [], []
    for lo in range(0, len(q_ids), 128):
        t = tables[lo:lo + 128]
        # dist[q, v] = Σ_j t[q, j, codes[v, j]], one subspace at a time
        dist = np.zeros((len(t), codes.shape[0]))
        for j in range(m):
            dist += t[:, j, :][:, codes[:, j]]
        dist = np.round(dist, 8)
        part = np.argsort(dist, axis=1, kind="stable")[:, :top]
        out_q.append(np.asarray(q_ids[lo:lo + 128]).repeat(top))
        out_n.append(ids[part].reshape(-1))
        out_d.append(np.take_along_axis(dist, part, axis=1).reshape(-1))
    return pd.DataFrame({"query_id": np.concatenate(out_q),
                         "neighbor_id": np.concatenate(out_n),
                         "adc_dist": np.concatenate(out_d)})


#: Target PQ-code rows per corpus block in the distributed ADC path —
#: one cogroup task holds the block's codes (~65k × m int64 ≈ 4 MB),
#: the chunk's query tables, and the kernel's (128 × block) distance
#: accumulator (~67 MB) — the task's peak, bounded independent of
#: corpus size and of m (see _adc_partial_topk's memory shape).
ADC_BLOCK_ROWS = 65_536


def _pq_adc_candidates_distributed(codes_df, queries, books, m: int,
                                   k_codes: int, rerank: int,
                                   chunk_rows: int, n_corpus: int,
                                   n_queries: int):
    """Fully distributed ADC scan — no driver funnel anywhere: the
    (tiny, KB-scale) codebooks broadcast via closure, each query's
    (m × k_codes) distance table is computed EXECUTOR-side, and the
    inherently all-pairs scan runs as a block-nested-loop cogroup:
    corpus codes split into ``xxhash64(vec_id) mod B`` blocks, queries
    into ``xxhash64(query_id) mod C`` chunks (HASHED ids — raw residues
    collapse under strided/sharded id schemes and break the per-task
    memory bound), each (block, chunk) cell cogrouped through
    one ``applyInPandas`` that emits ≤ rerank candidates per (query,
    block). Shuffle volume is C × the 8-byte code table + B × the
    query tables + B × rerank rows per query into the global shortlist
    window — never Q × N pairs as rows, and never raw d-dim vectors."""
    import math

    spark = codes_df.sparkSession
    n_blocks = max(1, math.ceil(n_corpus / ADC_BLOCK_ROWS))
    n_chunks = max(1, math.ceil(n_queries / chunk_rows))

    def tbl(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            qm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            t = _pq_query_tables(qm, books)          # (n, m, k_codes)
            yield pd.DataFrame({"query_id": pdf["vec_id"],
                                "tbl": list(t.reshape(len(qm), -1))})

    q_tbl = (queries.select("vec_id", "embedding")
             .mapInPandas(tbl, "query_id long, tbl array<double>"))
    # block/chunk assignment hashes the id rather than taking the raw
    # residue: id schemes with a stride or common factor (sharded /
    # snowflake-style ids, ids that are all multiples of K) would
    # collapse many rows into few residue classes and break the
    # per-task memory bound ADC_BLOCK_ROWS documents. Block geometry
    # is order-independent, so results are unaffected.
    corpus_rep = (codes_df
                  .withColumn("blk", F.pmod(F.xxhash64("vec_id"),
                                            F.lit(n_blocks)))
                  .crossJoin(spark.range(n_chunks)
                             .select(F.col("id").alias("chunk"))))
    queries_rep = (q_tbl
                   .withColumn("chunk",
                               F.pmod(F.xxhash64("query_id"),
                                      F.lit(n_chunks)))
                   .crossJoin(spark.range(n_blocks)
                              .select(F.col("id").alias("blk"))))

    def adc(left, right):
        import numpy as np
        import pandas as pd
        if not len(left) or not len(right):
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "adc_dist": pd.Series(dtype="float64")})
        codes = np.stack(left["codes"].to_numpy()).astype(np.int64)
        ids = left["vec_id"].to_numpy()
        tables = np.stack(right["tbl"].to_numpy()).reshape(
            len(right), m, k_codes)
        return _adc_partial_topk(tables, right["query_id"].to_numpy(),
                                 codes, ids, rerank, m)

    return (corpus_rep.groupby("blk", "chunk")
            .cogroup(queries_rep.groupby("blk", "chunk"))
            .applyInPandas(
                adc, "query_id long, neighbor_id long, adc_dist double"))


def pq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 8, k_codes: int = 16, train_sample: int = 256,
            iters: int = 8, rerank: int = 50,
            _books=None) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes with
    an exact rerank stage — the canonical two-phase PQ search: each
    query precomputes an (m × k_codes) distance table against the
    codebooks, every database vector costs m table lookups instead of a
    d-dim dot product, the ADC shortlist (``rerank`` per query) is then
    scored with EXACT cosine against the raw vectors. Scale shape:
    codes+tables are broadcast-tiny; the scan is one mapInPandas over
    the code table with a per-batch partial shortlist (≤ rerank rows
    per (batch, query) shuffled); the rerank join touches only
    n_queries × rerank rows of raw vectors — the full corpus is read
    once as 8-byte codes, never as d-dim floats.

    A serving-sized query set (:func:`offload.fetch`, site
    ``similarity.pq_topk``) rides
    driver→executor inside the closure; above the cap the search
    AUTO-SWITCHES to :func:`_pq_adc_candidates_distributed` — query
    tables computed executor-side, block-nested-loop cogroup over
    (corpus-block × query-chunk) cells, no driver collect of the query
    frame — and returns the bit-identical answer under the same
    (adc_dist, neighbor_id) total order (mirrors the
    ``brute_force_topk_arrow`` auto-switch; equivalence-tested with a
    monkeypatched cap in tests/test_approx_ops.py).

    Determinism: every partial ADC shortlist is taken under the TOTAL
    order (adc_dist asc, neighbor_id asc) — stable argsort over
    id-presorted rows (``_adc_partial_topk``) — so the shortlist (and
    hence the reranked top-k) is independent of partitioning, Arrow
    batch boundaries, and block/chunk geometry even when exact
    distance ties straddle a per-partial cutoff."""
    import numpy as np
    fetched, _ = _fetch_queries(queries, "similarity.pq_topk")
    over_cap = fetched is None
    # _books: callers with already-trained codebooks (the IVF-PQ probe
    # equivalence test, pipelines sharing one training pass) skip the
    # sample collect + Lloyd loop
    books = (_books if _books is not None else
             _pq_codebooks(embeddings, m, k_codes, train_sample, iters))
    if books is None or (fetched is not None and not len(fetched[0])):
        # empty corpus / queries → empty
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int")

    codes_df = product_quantize(embeddings, m, k_codes, train_sample,
                                iters, _books=books)  # reuse, not retrain

    if over_cap:
        # corpus-sized query frame: never funnel it through the driver.
        # The two count() jobs only SIZE the block/chunk grid — on
        # parquet scans they are metadata-fast; callers handing in
        # expensive derived frames should checkpoint them first (the
        # same contract as every other multi-action consumer here).
        cand = _pq_adc_candidates_distributed(
            codes_df, queries, books, m, k_codes, rerank,
            chunk_rows=max(offload.MAX_DRIVER_QUERIES, 1),
            n_corpus=embeddings.count(), n_queries=queries.count())
        q_hint = lambda d: d  # noqa: E731 — too big to broadcast
    else:
        q_ids, q_mat = fetched
        # (n_q, m, k_codes) squared-L2 lookup tables
        tables = _pq_query_tables(q_mat, books)

        def scan(batches):
            import pandas as pd
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                ids = pdf["vec_id"].to_numpy()
                yield _adc_partial_topk(tables, q_ids, codes, ids,
                                        rerank, m)

        cand = codes_df.mapInPandas(
            scan, "query_id long, neighbor_id long, adc_dist double")
        q_hint = F.broadcast

    from pyspark.sql import Window
    w_short = Window.partitionBy("query_id").orderBy("adc_dist",
                                                     "neighbor_id")
    shortlist = (cand.withColumn("rank", F.row_number().over(w_short))
                 .where(F.col("rank") <= rerank).drop("rank"))
    # exact rerank: raw vectors only for the shortlist rows. (r11,
    # measured rejection: building qv as a driver-local relation from
    # the already-collected rows instead of re-projecting `queries`
    # benched ~0.15 s SLOWER same-window at sf0.1 — the local-relation
    # conversion costs more than the limit-scan it saves.)
    qv = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").cast("array<double>")
                        .alias("__qv"))
    nv = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("embedding").cast("array<double>")
                           .alias("__nv"))
    from s3_elasticsearch_data_pipeline_spark.functions.vector import cosine
    reranked = (shortlist
                .join(q_hint(qv), "query_id")
                .join(nv, "neighbor_id")
                .withColumn("sim", cosine(F.col("__qv"), F.col("__nv"))))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               "neighbor_id")
    return (reranked.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))


# ---------------------------------------------------------------------------
# IVF-PQ: the composed 100 TB serving layout (FAISS IVFPQ, Jégou/Douze/
# Schmid TPAMI 2011 §V): coarse cells prune the corpus at the DIRECTORY
# level, PQ codes make the within-cell scan read 8-byte codes instead of
# d-dim floats, and an exact cosine rerank on the shortlist's raw
# vectors restores precision. build once / probe many, like the plain
# IVF index — but the probe's hot path never touches the embedding
# column (column pruning keeps the ADC scan at (vec_id, cell, codes)).
# ---------------------------------------------------------------------------


def _load_codebooks(spark, path: str):
    """The kilobyte PQ codebook table of a persisted IVF-PQ index as an
    (m × k_codes × sub) ndarray, or None when absent/empty."""
    import numpy as np
    rows = _read_param_table(spark, path + "/codebooks")
    if rows is None:
        return None
    rows.sort(key=lambda r: (r["subspace"], r["code"]))
    m = max(r["subspace"] for r in rows) + 1
    k_codes = max(r["code"] for r in rows) + 1
    sub = len(rows[0]["centroid"])
    books = np.empty((m, k_codes, sub), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["code"]] = list(r["centroid"])
    return books


def _load_ivfpq_residual(spark, path: str) -> bool:
    """The index's residual flag from ``{path}/meta``. False for
    indexes persisted before the flag existed (raw-vector codes) AND
    for a torn meta dir (exists but holds no readable parquet): the
    codebooks table is the commit marker (`_write_ivfpq_params` writes
    meta FIRST, codebooks LAST), so a torn meta implies the index never
    finished training and whoever gates on the codebooks will retrain —
    this reader must not crash on the remnant."""
    rows = _read_param_table(spark, path + "/meta")
    return bool(rows and rows[0]["residual"])


def _load_ivfpq_params(spark, path: str):
    """(quantizer, codebooks, residual) of the persisted IVF-PQ index
    at ``path``, or None when it is untrained — the one loader append,
    probe and the streaming ingest share. The codebooks table is the
    commit marker (:func:`_write_ivfpq_params` writes meta first and
    codebooks last), so any torn prefix of a crashed bootstrap reads
    as untrained and is retrained deterministically; in particular a
    residual=True bootstrap can never recover as residual=False. A
    table that is present but unreadable raises
    (:func:`quantizer._read_param_table`)."""
    books = _load_codebooks(spark, path)
    if books is None:
        return None
    q = _load_quantizer(spark, path)
    if q is None:
        return None
    return q, books, _load_ivfpq_residual(spark, path)


def _ivfpq_assign_encode_fn(q, books, residual: bool):
    """Arrow-batched assign+encode kernel shared by the IVF-PQ BUILDER
    and incremental APPEND (one definition — the probe-equivalence
    contracts require ingest paths to assign and encode identically):
    nearest cell via the quantizer ``q``, then PQ codes over the
    raw vector (``residual=False``) or over x − centroid[cell]
    (``residual=True``, the FAISS IVFPQ encoding — residuals have
    smaller magnitude than raw vectors, so the same 8-byte code budget
    quantizes finer)."""
    import numpy as np
    m, _, sub = books.shape

    def run(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cell = _q_nearest_cells(q, x, 1)[:, 0]  # n_take=1: never -1
            base = x - q.centroids[cell] if residual else x
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                xs = base[:, j * sub:(j + 1) * sub]
                d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2) \
                    .sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "cell": cell.astype(np.int32),
                                "codes": list(codes),
                                "embedding": pdf["embedding"]})
    return run


def _ivfpq_append_cells(embeddings: DataFrame, q, books,
                        residual: bool, cells_dir: str, mode: str) -> None:
    encoded = (embeddings
               .select("vec_id",
                       F.col("embedding").cast("array<double>")
                       .alias("embedding"))
               .mapInPandas(_ivfpq_assign_encode_fn(q, books, residual),
                            "vec_id long, cell int, codes array<bigint>, "
                            "embedding array<double>"))
    (offload.by_partition(encoded, "similarity.ivfpq_cells_write", "cell")
     .write.mode(mode).partitionBy("cell")
     .parquet(cells_dir))


def build_ivfpq_index(embeddings: DataFrame, path: str,
                      n_cells: int = 16, iters: int = 2, m: int = 8,
                      k_codes: int = 16, train_sample: int = 256,
                      pq_iters: int = 8, residual: bool = False) -> None:
    """Train and PERSIST an IVF-PQ index at ``path``:

    * ``{path}/cells`` — the corpus ``partitionBy("cell")`` with BOTH
      the PQ code array and the raw vector per row: the probe's ADC
      stage projects only (vec_id, codes) — parquet column pruning
      keeps that scan at ~8 bytes/vector — while the rerank stage
      fetches raw vectors for shortlist rows only, from the same
      pruned cell directories.
    * ``{path}/centroids`` — coarse (cell, centroid) rows, kilobytes.
    * ``{path}/codebooks`` — (subspace, code, centroid) rows, kilobytes.
    * ``{path}/meta`` — the residual flag (one row).

    ``residual=False`` quantizes RAW vectors with globally trained
    codebooks, so within any probed cell set the ADC distances are
    bit-identical to :func:`pq_topk` over that sub-corpus — the
    exact-equivalence contract the tests pin. ``residual=True`` is the
    full FAISS IVFPQ encoding (Jégou et al. TPAMI 2011 §V): codes
    quantize x − centroid[cell] and codebooks train on the sample's
    residuals — finer quantization from the same 8 bytes, at the cost
    of per-(query, cell) ADC tables in the probe. One full-corpus pass
    either way: assignment and PQ encoding ride a single mapInPandas
    before the one partitioned write.

    ``train_sample=256`` fits the small test fixtures; size a real
    corpus with :func:`recommended_train_sample` (≥39 points per
    centroid — the measured-MSE rationale lives on that function).
    ``n_cells`` past :data:`quantizer.IVF_TWO_LEVEL_MIN_CELLS` trains/assigns
    the coarse stage through the two-level quantizer (persisted
    alongside, so append/probe stay in lockstep)."""
    spark = embeddings.sparkSession
    # ONE probe job (the separate .first() probe cost an extra Spark
    # job per build — same fix ann_lsh_topk got in r5)
    init_rows = _init_rows(embeddings, n_cells)
    if not init_rows:
        spark.createDataFrame(
            [], "vec_id long, codes array<bigint>, "
                "embedding array<double>, cell int") \
            .write.mode("overwrite").partitionBy("cell") \
            .parquet(path + "/cells")
        spark.createDataFrame([], "cell int, centroid array<double>") \
            .write.mode("overwrite").parquet(path + "/centroids")
        spark.createDataFrame(
            [], "subspace int, code int, centroid array<double>") \
            .write.mode("overwrite").parquet(path + "/codebooks")
        spark.createDataFrame([(bool(residual),)], "residual boolean") \
            .write.mode("overwrite").parquet(path + "/meta")
        return
    q, books = _train_ivfpq_params(
        embeddings, n_cells, iters, m, k_codes, train_sample, pq_iters,
        residual, init_rows=init_rows)
    _ivfpq_append_cells(embeddings, q, books, residual,
                        path + "/cells", "overwrite")
    _write_ivfpq_params(spark, path, q, books, residual)


def _train_ivfpq_params(embeddings: DataFrame, n_cells: int, iters: int,
                        m: int, k_codes: int, train_sample: int,
                        pq_iters: int, residual: bool, init_rows=None):
    """Deterministic (quantizer, codebooks) for an IVF-PQ index —
    shared by the batch builder and the streaming bootstrap so a
    streamed index trained on the same bootstrap set is bit-identical
    to the batch-built one. Residual mode trains the codebooks on the
    SAMPLE's x − centroid[cell] residuals (same deterministic
    lowest-vec_id sample as _pq_codebooks)."""
    import numpy as np
    q = _train_quantizer(embeddings, n_cells, iters,
                         init_rows=init_rows)
    if residual:
        rows = (embeddings.orderBy("vec_id").limit(train_sample)
                .select("embedding").collect())
        x = np.array([list(r[0]) for r in rows], dtype=np.float64)
        cells = _q_nearest_cells(q, x, 1)[:, 0]
        books = _pq_train(x - q.centroids[cells], m, k_codes, pq_iters)
    else:
        books = _pq_codebooks(embeddings, m, k_codes, train_sample,
                              pq_iters)
    return q, books


def _write_ivfpq_params(spark, path: str, q, books,
                        residual: bool) -> None:
    """Persist the kilobyte parameter tables — overwrite-idempotent, so
    a replayed bootstrap epoch rewrites byte-identical state. WRITE
    ORDER IS THE CRASH CONTRACT: meta (residual flag) first, the
    quantizer tables second (supers before centroids — see
    ``_write_centroid_tables``), CODEBOOKS LAST — readers treat the
    codebooks table as the commit marker (:func:`_load_ivfpq_params`),
    so a process killed in any torn prefix leaves
    an index that reads as UNTRAINED and is deterministically
    retrained on replay. The reverse order had a silent-corruption
    window: codebooks committed but meta missing made a residual=True
    bootstrap recover as residual=False with residual-trained
    codebooks."""
    m = books.shape[0]
    (spark.createDataFrame([(bool(residual),)], "residual boolean")
     .write.mode("overwrite").parquet(path + "/meta"))
    _write_centroid_tables(spark, path, q)
    (spark.createDataFrame(
        [(j, c, [float(v) for v in books[j, c]])
         for j in range(m) for c in range(books.shape[1])],
        "subspace int, code int, centroid array<double>")
     .write.mode("overwrite").parquet(path + "/codebooks"))


def ivfpq_index_append(spark, path: str,
                       new_embeddings: DataFrame) -> None:
    """Incremental IVF-PQ ingest — FAISS's add-after-train contract,
    the PQ twin of :func:`ivf_index_append`: assign + encode a NEW
    batch against the PERSISTED centroids/codebooks/residual-mode (no
    retrain, no touch of existing cells; parquet append adds files
    inside cell directories, cost ~ batch size). The shared
    :func:`_ivfpq_assign_encode_fn` kernel guarantees appended vectors
    land exactly where the bulk build would put them (tested).

    Jobs are described ``ivfpq_index_append: <phase>`` (``params
    load``, ``batch check``, ``cells write``)."""
    with job_phases(spark, "ivfpq_index_append") as phase:
        phase("params load")
        params = _load_ivfpq_params(spark, path)
        if params is None:
            raise ValueError(
                "ivfpq_index_append: index at %r is untrained — build it "
                "with build_ivfpq_index first (appending would create "
                "unsearchable cells)" % path)
        _guard_cell_layout(spark, path, "ivfpq_index_append", "epoch=")
        phase("batch check")
        if new_embeddings.select("embedding").first() is None:
            return
        phase("cells write")
        _ivfpq_append_cells(new_embeddings, *params, path + "/cells",
                            "append")


def _pq_query_tables(qm, books):
    """(n, m, k_codes) squared-L2 ADC lookup tables — THE one
    definition of the query-side table math. Every ADC site (the
    driver-resident probe, the executor-side table kernels, pq_topk's
    driver branch) must route through this expression so the
    driver/distributed equivalence contracts stay bit-exact: same
    slice, same broadcasted subtraction, same ``sum(axis=2)``
    reduction order."""
    import numpy as np
    m, _, sub = books.shape
    return np.stack([
        ((qm[:, j * sub:(j + 1) * sub][:, None, :]
          - books[j][None, :, :]) ** 2).sum(axis=2)
        for j in range(m)], axis=1)


def _ivfpq_probe_driver_path(spark, path: str, q, books, residual: bool,
                             fetched, k: int, n_probe: int,
                             rerank: int) -> DataFrame:
    """Serving-sized IVF-PQ probe (the `_cell_scored_pairs` pattern
    applied to the ADC pipeline): the query batch is already
    driver-resident, so cell assignment, the probed-cell union, and
    the per-(query, cell) ADC tables are all computed HERE — no
    distributed assign pass, no cells⋈tables plan branch, no cogroup
    exchange of the code scan. Each probed cell's codes go through the
    SAME :func:`_adc_partial_topk` kernel once per (query, cell-
    fragment); the per-query shortlist then keeps exactly the
    candidates the cogrouped plan keeps (each corpus vector lives in
    one cell, fragments partition a cell's codes, and every partial is
    taken under the same (adc_dist, neighbor_id) total order with the
    same round-8 distances — the standard distributed-top-k argument,
    equivalence-tested).

    When the probed cells fit :data:`offload.MAX_DRIVER_CELL_BYTES` and
    :data:`offload.MAX_DRIVER_PROBE_PAIRS` they are read on the driver
    (:func:`_ivfpq_rerank_local`): no Spark job at all. Otherwise a
    partition-pruned Spark scan ships the table matrix in the task
    closure (bounded by the row+byte caps — tables are m × k_codes ≈
    1 KB per probed pair), and the shortlist window and the exact
    rerank join run in Spark (:func:`_ivfpq_rerank_scan`)."""
    import numpy as np
    m = books.shape[0]
    q_ids, q_emb = fetched
    if not len(q_ids):
        return _local_topk(spark)
    order = _q_nearest_cells(q, q_emb, n_probe)          # (N, take)
    take = order.shape[1]
    rows_rep = np.repeat(np.arange(len(q_ids)), take)
    cells_rep = order.reshape(-1)
    ok = cells_rep >= 0                                  # two-level pad
    rows_rep, cells_rep = rows_rep[ok], cells_rep[ok].astype(np.int64)
    if not len(cells_rep):
        return _local_topk(spark)
    probed = sorted({int(c) for c in cells_rep})
    if residual:
        # per-(query, cell) tables over q − centroid[cell] — the FAISS
        # IVFPQ probe shape, same expression as the executor kernel
        tbls = _pq_query_tables(q_emb[rows_rep] - q.centroids[cells_rep],
                                books)
    else:
        tbls = _pq_query_tables(q_emb, books)[rows_rep]
    pair_qid = q_ids[rows_rep]
    by_cell: dict[int, list] = {}
    for i, c in enumerate(cells_rep):
        by_cell.setdefault(int(c), []).append(i)
    cellmap = {c: np.asarray(ix, dtype=np.int64)
               for c, ix in by_cell.items()}

    def adc_partials(codes, ids, cells) -> list:
        """Per-(query, cell) partial shortlists of the code rows."""
        outs = []
        for c in np.unique(cells):
            ix = cellmap.get(int(c))
            if ix is None:
                continue
            sel = np.nonzero(cells == c)[0]
            outs.append(_adc_partial_topk(
                tbls[ix], pair_qid[ix], codes[sel], ids[sel], rerank, m))
        return outs

    read = _read_probed_cells(spark, path, cellmap,
                              ["vec_id", "codes", "embedding"],
                              "similarity.ivfpq_probe_topk")
    if read is None:
        return _ivfpq_rerank_scan(spark, path, probed, adc_partials,
                                  q_ids, q_emb, k, rerank)
    return _ivfpq_rerank_local(spark, read, adc_partials, q_ids, q_emb,
                               k, rerank)


def _fold_dot(a, b):
    """Row-wise dot products of two (n, d) matrices folded left to
    right from 0.0: bit for bit the JVM's
    :func:`functions.vector.dot` (``aggregate`` over ``zip_with``),
    which ``np.dot``/``einsum`` sums are not."""
    import numpy as np
    prods = np.hstack([np.zeros((len(a), 1)), a * b])
    return np.add.accumulate(prods, axis=1)[:, -1]


def _ivfpq_rerank_local(spark, read, adc_partials, q_ids, q_emb, k: int,
                        rerank: int) -> DataFrame:
    """The IVF-PQ shortlist and exact rerank over driver-read cells,
    step for step the relational plan of :func:`_ivfpq_rerank_scan`:
    the shortlist ordered by (adc_dist, neighbor_id); the inner joins
    to the query rows on query_id and to the probed rows on
    neighbor_id, with their multiplicity (a vec_id stored twice scores
    twice); the :func:`functions.vector.cosine` fold with its NULL for
    a zero norm; the rank by sim descending, NULLs last, then
    neighbor_id."""
    import numpy as np
    import pandas as pd
    cells, cols = read
    outs = adc_partials(cols[1], cols[0], cells) if len(cells) else []
    if not outs:
        return _local_topk(spark)
    ids, vecs = cols[0], cols[2]
    cand = pd.concat(outs, ignore_index=True)
    cq, cn, cd = (cand[c].to_numpy()
                  for c in ("query_id", "neighbor_id", "adc_dist"))
    short, _ = _top_per_query(cq, (cd, cn), rerank)
    sq, sn = cq[short], cn[short]
    s_rows, q_rows = _equi_join(sq, q_ids)
    pairs, n_rows = _equi_join(sn[s_rows], ids)
    qid, nid = sq[s_rows][pairs], ids[n_rows]
    qv, nv = q_emb[q_rows[pairs]], vecs[n_rows]
    na, nb = np.sqrt(_fold_dot(qv, qv)), np.sqrt(_fold_dot(nv, nv))
    null = (na == 0) | (nb == 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = _fold_dot(qv, nv) / (na * nb)
    return _ranked_local(spark, qid, nid, sim, null, k)


def _ivfpq_rerank_scan(spark, path: str, probed, adc_partials, q_ids,
                       q_emb, k: int, rerank: int) -> DataFrame:
    """The IVF-PQ ADC scan, shortlist and exact rerank over a
    partition-pruned Spark read of the probed cells."""
    import numpy as np

    def adc_scan(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            outs = adc_partials(
                np.stack(pdf["codes"].to_numpy()).astype(np.int64),
                pdf["vec_id"].to_numpy(), pdf["cell"].to_numpy())
            if outs:
                yield pd.concat(outs, ignore_index=True)

    # ONE read of the probed cells feeds both branches (each read
    # pays its own schema-inference job); column pruning still splits
    # them into a codes scan and an embedding scan
    cells = (spark.read.parquet(path + "/cells")
             .where(F.col("cell").isin(probed)))
    cand = (cells.select("vec_id", "cell", "codes")
            .mapInPandas(
                adc_scan,
                "query_id long, neighbor_id long, adc_dist double"))
    w_short = Window.partitionBy("query_id").orderBy("adc_dist",
                                                     "neighbor_id")
    shortlist = (cand.withColumn("rank", F.row_number().over(w_short))
                 .where(F.col("rank") <= rerank).drop("rank"))
    nv = cells.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("__nv"))
    # query vectors are driver data already — a local relation
    # broadcasts without re-executing the caller's query plan; the
    # collected doubles are bit-preserved, so the JVM cosine sees the
    # exact values the distributed path's cast produced
    qv = spark.createDataFrame(
        [(int(i), [float(x) for x in v])
         for i, v in zip(q_ids, q_emb)],
        "query_id long, __qv array<double>")
    reranked = (shortlist
                .join(F.broadcast(qv), "query_id")
                .join(nv, "neighbor_id")
                .withColumn("sim", cosine(F.col("__qv"), F.col("__nv"))))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               "neighbor_id")
    return (reranked.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))


def ivfpq_probe_topk(spark, path: str, queries: DataFrame, k: int = 10,
                     n_probe: int = 4, rerank: int = 50) -> DataFrame:
    """Serve top-k from a PERSISTED IVF-PQ index — the full FAISS IVFPQ
    probe pipeline, each stage reading the minimum bytes it can:

    1. coarse prune: each query picks its ``n_probe`` nearest cells
       from the kilobyte centroid table; only the probed-cell union's
       DIRECTORIES are read at all;
    2. ADC scan: within probed cells the scan reads (vec_id, cell,
       codes) — a Spark scan's column pruning never deserializes the
       raw vectors — and a per-cell kernel (:func:`_adc_partial_topk`,
       the same kernel as ``pq_topk``) emits ≤ ``rerank`` candidates
       per (query, cell) under the total (adc_dist, neighbor_id) order;
    3. global shortlist: a per-query window keeps the ``rerank``
       best candidates across that query's probed cells — two-level
       top-k, so the result equals a flat ADC scan of those cells;
    4. exact rerank: raw vectors are fetched (from the same pruned
       directories) for shortlist rows only; exact cosine, top-k.

    Three physical strategies behind that one logical result, all
    bit-identical (equivalence-tested):

    - driver read: a serving-sized query batch (the ``offload`` caps
      of site ``similarity.serving_queries``) is fetched, its cells
      and ADC tables are computed on the driver, and when the probed
      cells fit the cell caps (site ``similarity.ivfpq_probe_topk``)
      they are read on the driver and
      stages 2-4 run in numpy (:func:`_ivfpq_rerank_local`). The query
      fetch is the only Spark job of the call, and the returned local
      relation drains in none;
    - Spark scan: the same with probed cells over either cap, which a
      partition-pruned Spark scan reads; the shortlist window and the
      rerank join run in Spark (:func:`_ivfpq_rerank_scan`);
    - distributed: an over-cap query frame never reaches the driver.
      Its cells and ADC tables come from one executor-side kernel with
      the kilobyte codebooks in the closure, and the ADC scan is a
      per-cell cogroup.

    A raw-code index gets ONE table per query (repeated across its
    probed cells); a RESIDUAL index gets one table per (query, cell)
    over q − centroid[cell] — the FAISS IVFPQ probe shape, n_probe
    tables per query, still kilobytes each.
    Equivalence contract (tested, residual=False): for a single query,
    the result is bit-identical to ``pq_topk`` restricted to that
    query's probed cells with the same codebooks.

    Checkpoint hygiene: NOTHING is pinned, on any strategy. The earlier
    eager-checkpoint design pinned one query-sized RDD per probe call
    for the session lifetime — the exact degradation SCALING.md
    measures (2.5→14 s over eight calls). The distributed strategy
    pays for that by scanning the query frame twice.

    Jobs run inside the call are described ``ivfpq_probe_topk:
    <phase>``; the returned frame's own jobs run later, under the
    description of the caller that drains it.
    """
    with job_phases(spark, "ivfpq_probe_topk") as phase:
        return _ivfpq_probe_topk(spark, path, queries, k, n_probe, rerank,
                                 phase)


def _ivfpq_probe_topk(spark, path: str, queries: DataFrame, k: int,
                      n_probe: int, rerank: int, phase) -> DataFrame:
    import numpy as np

    phase("params load")
    params = _load_ivfpq_params(spark, path)
    if params is None:
        return _local_topk(spark)
    q, books, residual = params
    m, k_codes, sub = books.shape
    # Serving-sized query batches (≤ the row AND byte caps) take the
    # driver path: ONE collect replaces the distributed assign pass,
    # the probed-set aggregate, and the cells⋈tables cogroup — see
    # :func:`_ivfpq_probe_driver_path`. A one-row request whose probed
    # cells fit the cell caps runs that collect and nothing else. Over-
    # cap frames keep the fully distributed plan below, bit-identical
    # results.
    phase("query fetch")
    fetched, cap = _fetch_queries(queries, "similarity.serving_queries")
    if fetched is not None:
        phase("cell read")
        return _ivfpq_probe_driver_path(spark, path, q, books, residual,
                                        fetched, k, n_probe, rerank)

    def _adc_tables(qm):
        return _pq_query_tables(qm, books).reshape(len(qm), -1)

    # ONE fused kernel emits (query_id, cell, tbl) directly — probed
    # cells (the shared quantizer math) and the ADC lookup table come
    # from the same batch pass, so the query frame is scanned once and
    # there is no cells⋈tables re-join on the serving hot path.
    def cells_and_tables(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            qm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            order = _q_nearest_cells(q, qm, n_probe)  # (N, take)
            take = order.shape[1]
            cells = order.reshape(-1)
            ok = cells >= 0  # two-level may pad tiny quantizers
            if residual:
                # per-(query, cell) tables over q − centroid[cell]
                q_rep = np.repeat(qm, take, axis=0)[ok]
                t = _adc_tables(q_rep - q.centroids[cells[ok]])
            else:
                t = np.repeat(_adc_tables(qm), take, axis=0)[ok]
            yield pd.DataFrame({
                "query_id": pdf["vec_id"].to_numpy().repeat(take)[ok],
                "cell": cells[ok],
                "tbl": list(t),
            })

    qry = (queries.select("vec_id", "embedding")
           .mapInPandas(cells_and_tables,
                        "query_id long, cell int, tbl array<double>"))
    # probed set via the cheap cells-only kernel (no ADC tables, no
    # checkpoint) — same quantizer math, so the sets agree; an empty
    # probed set doubles as the emptiness check (no .first() job)
    phase("probed cells")
    probed = sorted(r["cell"]
                    for r in queries.select("vec_id", "embedding")
                    .mapInPandas(_quantizer_cells_fn(q, n_probe),
                                 "vec_id long, cell int")
                    .select("cell").distinct().collect())
    if not probed:
        return _local_topk(spark)

    phase("cell read")
    cells = (spark.read.parquet(path + "/cells")
             .where(F.col("cell").isin(probed)))
    codes_scan = cells.select("vec_id", "cell", "codes")

    def adc(left, right):
        import pandas as pd
        if not len(left) or not len(right):
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "adc_dist": pd.Series(dtype="float64")})
        codes = np.stack(left["codes"].to_numpy()).astype(np.int64)
        ids = left["vec_id"].to_numpy()
        tbls = np.stack(right["tbl"].to_numpy()).reshape(
            len(right), m, k_codes)
        return _adc_partial_topk(tbls, right["query_id"].to_numpy(),
                                 codes, ids, rerank, m)

    cand = (codes_scan.groupby("cell")
            .cogroup(qry.groupby("cell"))
            .applyInPandas(
                adc, "query_id long, neighbor_id long, adc_dist double"))
    w_short = Window.partitionBy("query_id").orderBy("adc_dist",
                                                     "neighbor_id")
    shortlist = (cand.withColumn("rank", F.row_number().over(w_short))
                 .where(F.col("rank") <= rerank).drop("rank"))
    # exact rerank: raw vectors only for shortlist rows, from the
    # SAME pruned cell directories (second scan, embedding column)
    nv = cells.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("__nv"))
    qv = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").cast("array<double>")
                        .alias("__qv"))
    # NB: like pq_topk (and unlike the raw-vector ANN paths), self-
    # matches are NOT excluded — the equivalence contract with pq_topk
    # is exact, and a query inside the corpus legitimately retrieves
    # itself at sim 1.0. The failed query fetch sized the query side:
    # it is broadcast unless it is over the row cap.
    hint = (lambda d: d) if cap == "rows" else F.broadcast
    reranked = (shortlist
                .join(hint(qv), "query_id")
                .join(nv, "neighbor_id")
                .withColumn("sim", cosine(F.col("__qv"), F.col("__nv"))))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               "neighbor_id")
    return (reranked.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("sim"), "rank"))
