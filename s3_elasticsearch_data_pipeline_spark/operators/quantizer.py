"""The coarse quantizer: the one owner of k-means cell training,
nearest-cell assignment, cell sizing and the persisted centroid tables.

Every cell-based surface routes through this module — the IVF and
IVF-PQ indexes (build, append, probe, streaming ingest), the semantic
dedup blocking (batch and streaming), and the learned-domain
operators — so a change to the training, assignment or persistence
rule lands everywhere at once, and flipping
:data:`IVF_TWO_LEVEL_MIN_CELLS` switches every path between the flat
and the two-level construction.

Two trainers, deliberately kept apart:

- :func:`_kmeans_centroids` — distributed flat Lloyd over the full
  corpus. The DuckDB oracle twins unroll exactly this trainer, so its
  rounding (``F.round(F.avg(...), 6)``) is pinned.
- :func:`_lloyd_cosine_np` — driver Lloyd on bounded samples, used by
  the two-level trainer past the gate. It rounds differently (see its
  docstring), so no oracle twin may be pinned to a two-level path.

Algorithm provenance (public literature): IVF cell probing (Jégou et
al., "Product quantization for nearest neighbor search", TPAMI 2011,
coarse-quantizer stage); sample-trained two-level quantizers follow
the FAISS practice (training never needs the full corpus; only
assignment touches it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload, storage

#: Target vectors per cell under auto-sizing: n_cells ∝ n keeps the
#: within-cell pair term LINEAR in the corpus (occupancy constant),
#: where the r6 sqrt rule kept occupancy ~sqrt(8n) and the within-cell
#: term ~n^1.5 — at 10^10 vectors that is ~3×10^5-row cells whose
#: scoring dwarfs the scan. 64 also resolves the dedup blocking rule
#: (``max(8, ceil(n / 64))``) to 8 cells at the 500-vector oracle SFs,
#: which is what the DuckDB twins encode.
_TARGET_CELL_OCCUPANCY = 64

#: Cell count at which TRAINING and ASSIGNMENT switch from the flat
#: construction (distributed Lloyd over the full corpus + one-matmul
#: nearest-cell assignment) to the two-level one
#: (:func:`_train_two_level_centroids`). Flat training is
#: O(n·n_cells) per Lloyd round — the n^1.5 class at FAISS-style
#: n_cells ∝ √n — and the oracle SFs must stay flat (the unrolled
#: k-means CTEs replay the flat trainer); past this gate, training
#: moves to a bounded driver sample and assignment to two chained
#: matmuls, O(n·√n_cells). The only gate: every surface reads it here.
IVF_TWO_LEVEL_MIN_CELLS = 64


def auto_n_cells(n_vectors: int) -> int:
    """Constant-target-occupancy IVF sizing — THE sizing rule for
    every auto-sized index build (the inline ANN miner, the mine-only
    registry surface): ``max(16, ceil(n / occupancy))``. One shared
    definition so a change to the rule cannot desync the surfaces
    that claim bit-identity with each other (the r8 fixed-cell-count
    trap measured 7.3× at 10×; this rule measured 1.17×)."""
    import math
    return max(16, math.ceil(n_vectors / _TARGET_CELL_OCCUPANCY))


def _kmeans_centroids(embeddings: DataFrame, n_cells: int,
                      iters: int, init_rows=None) -> "np.ndarray":
    """Deterministic mini k-means for coarse cells: init = the
    ``n_cells`` lowest vec_ids, then Lloyd iterations with assignment
    in Arrow/numpy and centroid update as a posexplode aggregate. The
    (n_cells × dims) centroid matrix is driver-collected each round —
    kilobytes, independent of corpus size. ``init_rows`` lets a caller
    that already fetched the init sample (doubling as its emptiness
    probe — one job instead of two) pass it through."""
    import numpy as np
    init = (init_rows if init_rows is not None
            else embeddings.orderBy("vec_id").limit(n_cells)
            .select("embedding").collect())
    centroids = np.array([list(r[0]) for r in init], dtype=np.float64)

    for _ in range(iters):
        cents = centroids  # capture for the closure

        def assign(batches):
            import pandas as pd
            for pdf in batches:
                if not len(pdf):
                    continue
                emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                # cosine assignment on normalized rows
                e = emb / np.linalg.norm(emb, axis=1, keepdims=True)
                c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
                cell = (e @ c.T).argmax(axis=1)
                yield pd.DataFrame({"cell": cell,
                                    "embedding": list(emb)})

        assigned = embeddings.select("embedding").mapInPandas(
            assign, "cell int, embedding array<double>")
        rows = (assigned
                .select("cell", F.posexplode("embedding")
                        .alias("dim", "component"))
                .groupBy("cell", "dim")
                .agg(F.round(F.avg("component"), 6).alias("c"))  # order-stable
                .collect())
        new = centroids.copy()
        for r in rows:
            new[r.cell][r.dim] = r.c
        centroids = new
    return centroids


def _lloyd_cosine_np(x, k: int, iters: int):
    """Driver-side Lloyd with the same ASSIGNMENT/UPDATE RULE as the
    distributed :func:`_kmeans_centroids` (cosine argmax assignment,
    mean centroid rounded to 6, init = first ``k`` rows — callers pass
    rows already sorted by vec_id). NOT bit-identical to the
    distributed trainer on the same rows: this path rounds with
    correctly-rounded Python ``round`` over a numpy pairwise-summed
    mean, while the distributed trainer uses ``F.round(F.avg(...), 6)``
    (HALF_UP over the engine's accumulation order) — the two can
    differ at rounding boundaries, so no SQL twin may ever be pinned
    to a two-level-trained path without first unifying the rounding.
    Used to train the per-supercluster sub-quantizers of the two-level
    construction on bounded samples."""
    import numpy as np
    k = min(k, len(x))
    c = x[:k].copy()
    for _ in range(iters):
        e = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True),
                           1e-30)
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True),
                            1e-30)
        assign = (e @ cn.T).argmax(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                c[j] = np.array([round(float(v), 6)
                                 for v in x[mask].mean(axis=0)])
    return c


#: Driver budget for the two-level training sample (rows). 128k rows
#: at 64 dims ≈ 67 MB — kilobyte-scale vs executor memory, and enough
#: for ~39 training rows per centroid (the FAISS floor,
#: :func:`similarity.recommended_train_sample`) up to ~3.3k cells.
#: Past that the per-centroid sample thins gracefully (quantizer
#: quality degrades smoothly; recall is protected by multi-assign +
#: exact rerank, not by centroid precision).
_TWO_LEVEL_TRAIN_BUDGET_ROWS = 128 * 1024


def _train_two_level_centroids(embeddings: DataFrame, n_cells: int,
                               iters: int, n_rows: int | None = None):
    """Two-level coarse quantizer for corpus-proportional cell counts
    (n_cells ∝ n): a flat trainer assigns every vector against every
    centroid per Lloyd round — O(n·n_cells) = O(n²/occupancy), the
    exact blow-up constant occupancy was meant to remove. Instead,
    the FAISS recipe — quantizers train on a SAMPLE, only assignment
    touches the corpus:

    1. ONE deterministic hash-sample (``xxhash64(vec_id) % p == 0``,
       sized to ~39 rows per centroid within
       :data:`_TWO_LEVEL_TRAIN_BUDGET_ROWS`) collected to the driver —
       the only training job, corpus-size-independent (plus a
       ``count()`` unless the caller passes ``n_rows``);
    2. ``n_super = ceil(sqrt(n_cells))`` superclusters via driver
       Lloyd (:func:`_lloyd_cosine_np`, same semantics as the
       distributed trainer), then per supercluster
       ``n_sub = ceil(n_cells/n_super)`` sub-centroids on the
       sample rows that land there.

    Assignment then chains two small matmuls (super, then sub) —
    O(n·sqrt(n_cells)) total. Returns (super_centroids,
    sub_centroid_list, offsets) where global cell id =
    ``offsets[s] + local_sub_index``. Centroid storage is
    n_cells × dims — inherent to any IVF-family structure at that
    cell count (FAISS holds the same matrix in RAM)."""
    import math

    import numpy as np

    n_super = max(2, math.ceil(math.sqrt(n_cells)))
    n_sub = math.ceil(n_cells / n_super)
    want = min(_TWO_LEVEL_TRAIN_BUDGET_ROWS,
               max(2048, 39 * n_super * n_sub))
    n = embeddings.count() if n_rows is None else n_rows
    # ceiling division: a floored divisor lets n just under 2·want
    # collect nearly twice the documented driver budget
    p = max(1, -(-n // want))
    rows = (embeddings.select("vec_id", "embedding")
            .where(F.pmod(F.xxhash64(F.col("vec_id")), p) == 0)
            .collect())
    rows.sort(key=lambda r: r["vec_id"])  # deterministic Lloyd init
    x = np.array([list(r["embedding"]) for r in rows],
                 dtype=np.float64)
    super_cents = _lloyd_cosine_np(x, n_super, iters)
    cn = super_cents / np.maximum(
        np.linalg.norm(super_cents, axis=1, keepdims=True), 1e-30)
    e = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    assign = (e @ cn.T).argmax(axis=1)
    subs, offsets = [], {}
    next_id = 0
    for s in range(len(super_cents)):
        xs = x[assign == s]
        if not len(xs):
            # empty supercluster: its own centroid is the one cell, so
            # any future vector landing there still has a home
            sub = super_cents[s:s + 1].copy()
        else:
            sub = _lloyd_cosine_np(xs, n_sub, iters)
        subs.append(sub)
        offsets[s] = next_id
        next_id += len(sub)
    return super_cents, subs, offsets


class _Quantizer:
    """The coarse quantizer of an IVF-family index: always carries the
    FLAT (n_cells × dims) centroid matrix (global cell id = row — the
    residual-encode and persistence contract), plus the two-level
    structure (super centroids, per-super sub-centroid blocks, global
    id offsets) when trained past :data:`IVF_TWO_LEVEL_MIN_CELLS`.
    Global sub-cell ids are CONTIGUOUS per super, so
    ``centroids[offsets[s]:offsets[s]+len(subs[s])] == subs[s]``."""

    __slots__ = ("centroids", "super_cents", "subs", "offsets")

    def __init__(self, centroids, super_cents=None, subs=None,
                 offsets=None):
        self.centroids = centroids
        self.super_cents = super_cents
        self.subs = subs
        self.offsets = offsets

    @property
    def two_level(self) -> bool:
        return self.super_cents is not None


def _init_rows(embeddings: DataFrame, n_cells: int) -> list:
    """ONE probe job before training: below the gate it fetches the
    flat trainer's init sample (the ``n_cells`` lowest vec_ids), which
    doubles as the emptiness check; past it the two-level trainer
    samples by hash, so the probe is ``limit(1)`` — a
    ``limit(n_cells)`` collect at FAISS-style cell counts would drag
    n_cells rows to the driver for nothing. Empty list = empty
    corpus."""
    flat = n_cells < IVF_TWO_LEVEL_MIN_CELLS
    return (embeddings.orderBy("vec_id")
            .limit(n_cells if flat else 1)
            .select("embedding").collect())


def _train_quantizer(embeddings: DataFrame, n_cells: int, iters: int,
                     init_rows=None, n_rows: int | None = None
                     ) -> _Quantizer:
    """Train the coarse quantizer. Below
    :data:`IVF_TWO_LEVEL_MIN_CELLS`: the distributed flat trainer
    (byte-identical to the unrolled k-means oracle CTEs), seeded from
    ``init_rows`` when the caller already fetched them
    (:func:`_init_rows`). At or above: the two-level construction
    (:func:`_train_two_level_centroids`; ``init_rows`` is ignored and
    ``n_rows`` spares its ``count()`` when the caller has counted
    already), with the sub-centroids flattened into the global
    (n_cells × dims) matrix the persistence layer and residual encode
    speak. The choice is logged as one decision event at site
    ``quantizer.train`` (path ``flat`` or ``two_level``, cap
    ``cells``)."""
    if not offload.decide("quantizer.train", n_cells, 0,
                          ("cells", n_cells, IVF_TWO_LEVEL_MIN_CELLS - 1),
                          paths=("flat", "two_level")):
        return _Quantizer(_kmeans_centroids(embeddings, n_cells, iters,
                                            init_rows=init_rows))
    import numpy as np
    sup, subs, offsets = _train_two_level_centroids(
        embeddings.select("vec_id", "embedding"), n_cells, iters,
        n_rows=n_rows)
    return _Quantizer(np.vstack(subs), sup, subs, offsets)


def _nearest_cells(emb, centroids, n_take: int):
    """THE cosine nearest-cell math (normalize both sides, one matmul,
    stable argsort so ties break to the lowest cell index on every
    partitioning): (N, take) cell indices. Every cell surface —
    inline search, index build, ingest append, persisted probe, dedup
    blocking — routes through this one kernel: the build/probe
    equivalence contracts are pinned to index-build cell assignment
    and query cell probing staying in exact lockstep. ``n_take`` is
    clamped to the trained cell count (tiny corpora train fewer
    centroids than n_cells; a ragged repeat/reshape would crash
    otherwise)."""
    import numpy as np
    e = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    sims = e @ c.T
    take = min(n_take, centroids.shape[0])
    return np.argsort(-sims, axis=1, kind="stable")[:, :take]


def _two_level_nearest_cells(emb, super_cents, subs, offsets,
                             n_take: int):
    """The two-level twin of :func:`_nearest_cells`: probe the
    ``n_take`` nearest superclusters, rank each one's sub-cells, keep
    the overall ``n_take`` best GLOBAL cell ids by cosine (stable
    tie-break: supercluster rank, then sub order — deterministic under
    any partitioning). Returns an (N, ≤n_take·n_take) → sliced
    (N, n_take) id matrix that may contain ``-1`` padding when fewer
    candidates exist than requested (tiny quantizers); callers mask
    negatives. Cost per row: O(n_super + n_probe·max_sub) =
    O(√n_cells), vs the flat kernel's O(n_cells)."""
    import numpy as np
    e = emb / np.maximum(np.linalg.norm(emb, axis=1, keepdims=True),
                         1e-30)
    sup = super_cents / np.maximum(
        np.linalg.norm(super_cents, axis=1, keepdims=True), 1e-30)
    sub_norm = [s / np.maximum(np.linalg.norm(s, axis=1, keepdims=True),
                               1e-30) for s in subs]
    n = len(emb)
    n_probe = min(n_take, len(sup))
    sup_order = np.argsort(-(e @ sup.T), axis=1,
                           kind="stable")[:, :n_probe]
    width = n_probe * n_take
    cand_sims = np.full((n, width), -np.inf)
    cand_cells = np.full((n, width), -1, dtype=np.int64)
    for j in range(n_probe):
        col = sup_order[:, j]
        for s in np.unique(col):
            rows = np.nonzero(col == s)[0]
            sims = e[rows] @ sub_norm[s].T
            take = min(n_take, sims.shape[1])
            ord_ = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            lo = j * n_take
            cand_sims[rows[:, None], lo + np.arange(take)] = \
                np.take_along_axis(sims, ord_, axis=1)
            cand_cells[rows[:, None], lo + np.arange(take)] = \
                offsets[int(s)] + ord_
    pick = np.argsort(-cand_sims, axis=1, kind="stable")[:, :n_take]
    return np.take_along_axis(cand_cells, pick, axis=1)


def _q_nearest_cells(q: _Quantizer, emb, n_take: int):
    """Quantizer-dispatching nearest-cells: the flat kernel
    (:func:`_nearest_cells` — never padded) below the two-level gate,
    the chained two-matmul kernel (may pad with -1) above it."""
    if not q.two_level:
        return _nearest_cells(emb, q.centroids, n_take)
    return _two_level_nearest_cells(emb, q.super_cents, q.subs,
                                    q.offsets, n_take)


def _quantizer_cells_fn(q: _Quantizer, n_take: int,
                        carry_vec: bool = False):
    """Arrow-batched (vec_id, cell[, vec]) assignment of each vector
    to its ``n_take`` nearest cells — the ``mapInPandas`` kernel of
    every assignment site (the quantizer ships in the closure,
    kilobytes). -1 padding rows from a tiny two-level quantizer are
    dropped. ``carry_vec=True`` also emits the embedding per
    assignment row — the cell-store shape the dedup blocking and the
    streaming semantic ingest score on."""
    import numpy as np

    def run(batches):
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            order = _q_nearest_cells(q, emb, n_take)
            take = order.shape[1]
            ids = pdf["vec_id"].to_numpy().repeat(take)
            cells = order.reshape(-1)
            ok = cells >= 0
            out = {"vec_id": ids[ok], "cell": cells[ok]}
            if carry_vec:
                out["vec"] = list(np.repeat(emb, take, axis=0)[ok])
            yield pd.DataFrame(out)
    return run


def _write_centroid_tables(spark, path: str, q: _Quantizer) -> None:
    """Persist the quantizer's kilobyte parameter tables. Flat:
    ``{path}/centroids`` (cell, centroid) — byte-identical to the
    pre-r8 layout, so old indexes and old readers interoperate.
    Two-level: the COMMIT MARKER is ``{path}/centroids``. Any stale
    centroid table is DELETED first, then ``{path}/supers`` (super,
    centroid) is written, then ``{path}/centroids`` (gaining a
    ``super`` column) is written last — so a crash anywhere before
    the final write leaves no centroid table and reads as UNTRAINED,
    never as a mixed-generation quantizer (old centroids routing into
    new supers). :func:`_load_quantizer` additionally validates
    super/offset consistency so even an externally-produced torn pair
    fails loudly instead of mis-routing probes. A flat overwrite of a
    previously two-level path needs no cleanup: staleness is decided
    by the ``super`` column, not by the supers directory."""
    if not q.two_level:
        (spark.createDataFrame(
            [(i, [float(x) for x in q.centroids[i]])
             for i in range(len(q.centroids))],
            "cell int, centroid array<double>")
         .write.mode("overwrite").parquet(path + "/centroids"))
        return
    storage.delete(spark, path + "/centroids")
    (spark.createDataFrame(
        [(s, [float(x) for x in q.super_cents[s]])
         for s in range(len(q.super_cents))],
        "super int, centroid array<double>")
     .write.mode("overwrite").parquet(path + "/supers"))
    rows = []
    for s in sorted(q.offsets):
        for i in range(len(q.subs[s])):
            cell = q.offsets[s] + i
            rows.append((cell, [float(x) for x in q.subs[s][i]], s))
    (spark.createDataFrame(
        rows, "cell int, centroid array<double>, super int")
     .write.mode("overwrite").parquet(path + "/centroids"))


def _read_parquet_files(spark, paths, columns=None) -> list:
    """Parquet files read on the driver through :mod:`storage` (any
    Hadoop-FS URI, no Spark job) as pyarrow Tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    return [pq.read_table(pa.BufferReader(b), columns=columns)
            for b in storage.read_files(spark, paths)]


def _read_param_table(spark, path: str):
    """Driver-side read of one KILOBYTE parameter table (centroids /
    supers / codebooks / meta) as a list of dict rows, or None when
    the table is ABSENT or EMPTY — the only states that mean
    "untrained". Any other read failure (a corrupt footer, an IO
    fault) raises: a broken index must never read as untrained, or
    probes return nothing and ingests silently retrain.

    These tables are kilobytes BY DESIGN (the quantizer any IVF
    structure holds in RAM), yet a Spark-side ``read.parquet(...)
    .collect()`` schedules 2-4 jobs (schema inference, sampling, the
    collect). The visible files of the table directory
    (:func:`storage.list_files`, which skips ``_SUCCESS`` and a
    pending ``_temporary``) are read with pyarrow instead: zero jobs
    on every Hadoop-FS scheme. Callers sort driver-side."""
    files = [f for f, _ in storage.list_files(spark, path)]
    rows = [r for t in _read_parquet_files(spark, files)
            for r in t.to_pylist()]
    return rows or None


def _load_quantizer(spark, path: str):
    """The persisted coarse quantizer at ``path``, or None when
    untrained — including the torn two-level write (centroids rows
    carry a ``super`` column but the supers table is absent/empty):
    per the :func:`_write_centroid_tables` order that state is
    impossible from a completed write, so it reads as untrained and
    the caller retrains deterministically. Centroid storage is
    n_cells × dims — the matrix any IVF structure holds in RAM."""
    import numpy as np
    rows = _read_param_table(spark, path + "/centroids")
    if rows is None:
        return None
    rows.sort(key=lambda r: r["cell"])
    flat = np.array([list(r["centroid"]) for r in rows],
                    dtype=np.float64)
    if "super" not in rows[0]:
        return _Quantizer(flat)
    srows = _read_param_table(spark, path + "/supers")
    if srows is None:
        return None
    srows.sort(key=lambda r: r["super"])
    sup = np.array([list(r["centroid"]) for r in srows],
                   dtype=np.float64)
    subs, offsets = [], {}
    by_super: dict[int, list] = {}
    for r in rows:  # already in ascending-cell order
        by_super.setdefault(r["super"], []).append(r)
    # Torn-pair validation: the centroid table is the commit marker
    # (written last by _write_centroid_tables), so a completed write
    # always references exactly the supers it was trained with.  A
    # mismatch here means the two tables are from different
    # generations (e.g. an external copy, or a pre-commit-marker
    # writer crashed mid-rebuild) — fail loudly rather than build a
    # quantizer that routes probes into the wrong sub-centroid blocks.
    if set(by_super) != set(range(len(srows))):
        raise ValueError(
            "torn IVF index at %r: centroids reference supers %r but "
            "the supers table has %d rows — the two parameter tables "
            "are from different generations; rebuild the index"
            % (path, sorted(by_super), len(srows)))
    expect = 0
    for s in range(len(srows)):
        block = by_super[s]
        if [r["cell"] for r in block] != list(
                range(expect, expect + len(block))):
            raise ValueError(
                "torn IVF index at %r: super %d's cells %r are not "
                "the contiguous block starting at %d — the parameter "
                "tables are from different generations; rebuild the "
                "index" % (path, s, [r["cell"] for r in block],
                           expect))
        offsets[s] = expect
        expect += len(block)
        subs.append(np.array([list(r["centroid"]) for r in block],
                             dtype=np.float64))
    return _Quantizer(flat, sup, subs, offsets)
