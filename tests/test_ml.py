"""Distributed logistic-regression trainer: must match a numpy
reference implementation of the same full-batch GD to float tolerance,
and actually learn (beat the majority-class baseline)."""

from __future__ import annotations

import numpy as np
import pytest

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.operators import ml
from s3_elasticsearch_data_pipeline_spark.tables import load_table


def _numpy_reference(X, y, iters, lr):
    w = np.zeros(X.shape[1])
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = w - lr * (X.T @ (p - y)) / len(y)
    return w


@pytest.mark.parametrize("driver_cap", [0, offload.DRIVER_GD_MAX_ROWS],
                         ids=["distributed", "driver"])
def test_trainer_matches_numpy_reference(spark, sf_smoke, driver_cap,
                                         monkeypatch):
    docs = load_table(spark, sf_smoke, "documents")
    feats = ml.quality_features(docs).orderBy("doc_id").collect()
    X = np.array([[r[f] for f in ml.FEATURES] for r in feats])
    y = np.array([r["y"] for r in feats])
    want = _numpy_reference(X, y, iters=15, lr=0.5)
    monkeypatch.setattr(offload, "DRIVER_GD_MAX_ROWS", driver_cap)
    got_rows = {r["feature"]: r["weight"]
                for r in ml.train_quality_classifier(docs).collect()}
    got = np.array([got_rows[f] for f in ml.FEATURES])
    assert np.allclose(got, want, atol=1e-6), (got, want)
    assert got_rows["__loss__"] > 0


def test_trainer_paths_agree(spark, sf_smoke, monkeypatch):
    """The distributed decimal-aggregate loop and the driver numpy loop
    are the same algorithm — their weights must agree to float
    tolerance on the same corpus."""
    docs = load_table(spark, sf_smoke, "documents")
    with monkeypatch.context() as m:
        m.setattr(offload, "DRIVER_GD_MAX_ROWS", 0)
        dist = {r["feature"]: r["weight"]
                for r in ml.train_quality_classifier(docs).collect()}
    drv = {r["feature"]: r["weight"]
           for r in ml.train_quality_classifier(docs).collect()}
    for f in ml.FEATURES + ("__loss__",):
        assert abs(dist[f] - drv[f]) < 1e-6, (f, dist[f], drv[f])


def test_classifier_learns_something(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    weights = ml.train_quality_classifier(docs)
    scored = ml.apply_quality_classifier(docs, weights)
    rows = scored.collect()
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)
    acc = sum(r["predicted"] == r["label"] for r in rows) / len(rows)
    base = max(sum(r["label"] for r in rows),
               len(rows) - sum(r["label"] for r in rows)) / len(rows)
    assert acc >= base - 1e-9, (acc, base)


def test_trainer_empty_input(spark):
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string")
    assert ml.train_quality_classifier(docs).count() == 0


def test_apply_with_empty_weights_degrades(spark, sf_smoke):
    docs_empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string")
    weights = ml.train_quality_classifier(docs_empty)
    docs = load_table(spark, sf_smoke, "documents").limit(5)
    assert ml.apply_quality_classifier(docs, weights).count() == 0


def _clustered_corpus(spark, sizes, dims=12, seed=7):
    """Well-separated clusters (one per orthant direction) with the
    documents table 1:1 on doc_id = vec_id."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(len(sizes), dims)) * 10
    rows, i = [], 0
    for c, n in enumerate(sizes):
        for _ in range(n):
            v = centers[c] + rng.normal(scale=0.5, size=dims)
            rows.append((i, [float(x) for x in v]))
            i += 1
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(
        [(r[0], f"text {r[0]}", "en") for r in rows],
        "doc_id long, text string, lang string")
    return docs, emb


def test_domain_reweight_hits_target_mixture(spark):
    """The apply side must close the loop: resampling a skewed corpus
    (750/500/250 per learned domain) to a uniform target yields
    near-equal achieved shares; the most up-weighted domain is
    downsample-exempt (rate 1.0, every row kept); membership is
    deterministic under repartitioning."""
    docs, emb = _clustered_corpus(spark, (750, 500, 250))
    target = {c: 1 / 3 for c in range(3)}
    out = ml.domain_reweight(docs, emb, target, n_cells=3).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    assert set(by_cell) == {0, 1, 2}
    total = len(out)
    for c, rows in by_cell.items():
        share = len(rows) / total
        assert abs(share - 1 / 3) < 0.03, (c, share)
    # downsample-only: some cell carries rate 1.0 and keeps all its
    # rows (the smallest domain — 250 rows up-weighted the most)
    full = [c for c, rows in by_cell.items()
            if rows[0]["sample_rate"] == 1.0]
    assert len(full) == 1 and len(by_cell[full[0]]) == 250
    # deterministic membership under a different partitioning
    out2 = ml.domain_reweight(docs.repartition(13), emb.repartition(7),
                              target, n_cells=3).collect()
    assert ({(r["doc_id"], r["cell"]) for r in out}
            == {(r["doc_id"], r["cell"]) for r in out2})


def test_domain_reweight_zero_and_missing_weights(spark):
    """Cells absent from target_weights are dropped entirely; an
    all-zero (or empty) target yields an empty frame with the stable
    schema; an empty embeddings side short-circuits to empty."""
    docs, emb = _clustered_corpus(spark, (100, 100))
    only0 = ml.domain_reweight(docs, emb, {0: 1.0}, n_cells=2)
    rows = only0.collect()
    assert rows and {r["cell"] for r in rows} == {0}
    assert all(r["sample_rate"] == 1.0 for r in rows)
    assert ml.domain_reweight(docs, emb, {}, n_cells=2).count() == 0
    empty = spark.createDataFrame([],
                                  "vec_id long, embedding array<double>")
    out = ml.domain_reweight(docs, empty, {0: 1.0}, n_cells=2)
    assert out.count() == 0
    assert out.columns == ["doc_id", "cell", "sample_rate"]


def test_domain_reweight_resample_upweights(spark):
    """mode="resample" must physically replicate the rare domain:
    on a 750/500/250 corpus with a uniform target, the 250-doc cell's
    repeat factor is 1500/3/250 = 2.0 — every doc appears exactly
    twice (replicas 0 and 1) — while the 750-doc cell downsamples
    (f = 2/3 < 1, replica 0 only, hash-gated). Achieved shares land
    within one hash-quantum (1/1000 per doc) of the target, and
    membership is identical under a different input partitioning."""
    docs, emb = _clustered_corpus(spark, (750, 500, 250))
    target = {c: 1 / 3 for c in range(3)}
    out = ml.domain_reweight(docs, emb, target, n_cells=3,
                             mode="resample").collect()
    assert set(r["cell"] for r in out) == {0, 1, 2}
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    # the rare cell: f = 2.0 exactly -> every doc twice, no fraction
    rare = [c for c, rows in by_cell.items()
            if rows[0]["sample_rate"] == 2.0]
    assert len(rare) == 1
    rare_rows = by_cell[rare[0]]
    assert len(rare_rows) == 500
    per_doc = {}
    for r in rare_rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["replica"])
    assert all(reps == {0, 1} for reps in per_doc.values())
    # achieved shares: expected per-cell output = N/3 = 500; the only
    # randomness is the per-doc millesimal hash gate, so the binomial
    # tail at q=1/1000 granularity stays within a few percent
    total = len(out)
    for c, rows in by_cell.items():
        assert abs(len(rows) / total - 1 / 3) < 0.03, (c, len(rows))
    out2 = ml.domain_reweight(docs.repartition(13), emb.repartition(7),
                              target, n_cells=3,
                              mode="resample").collect()
    assert ({(r["doc_id"], r["cell"], r["replica"]) for r in out}
            == {(r["doc_id"], r["cell"], r["replica"]) for r in out2})


def test_domain_reweight_resample_exact_admission(spark):
    """The fractional wave is bit-predictable: recompute the
    (doc_id, replica)-keyed LCG gate in pure Python and demand the
    exact same membership Spark emitted — no sampling, no RNG."""
    docs, emb = _clustered_corpus(spark, (600, 200))
    target = {0: 0.5, 1: 0.5}
    out = ml.domain_reweight(docs, emb, target, n_cells=2,
                             mode="resample").collect()
    # recover each cell's true size from its reported factor:
    # f = 0.5*800/n  =>  n = 400/f
    import math
    by_cell = {}
    f_of = {}
    for r in out:
        by_cell.setdefault(r["cell"], set()).add(
            (r["doc_id"], r["replica"]))
        f_of[r["cell"]] = r["sample_rate"]
    n_by_cell = {c: round(400 / f) for c, f in f_of.items()}
    assert sorted(n_by_cell.values()) == [200, 600]
    p = 2_147_483_647
    for c, members in by_cell.items():
        n = n_by_cell[c]
        f = 0.5 * 800 / n
        k, frac = int(math.floor(f)), (0.5 * 800 / n) - int(math.floor(f))
        docs_in_cell = {d for d, _ in members}
        for d in docs_in_cell:
            for rep in range(k + 1):
                u = ((((d % p) * 48_271 + 7 + ml.DOMAIN_LCG_SALT
                        + rep * 131_071) % p) % 1000) / 1000.0
                expect = rep < k or u < frac
                assert ((d, rep) in members) == expect, (c, d, rep)


def test_domain_reweight_resample_empty_and_schema(spark):
    """Zero/empty targets and empty embeddings degrade to an empty
    frame with the resample schema (replica column present)."""
    docs, emb = _clustered_corpus(spark, (50, 50))
    out = ml.domain_reweight(docs, emb, {}, n_cells=2, mode="resample")
    assert out.count() == 0
    assert out.columns == ["doc_id", "cell", "replica", "sample_rate"]
    empty = spark.createDataFrame([],
                                  "vec_id long, embedding array<double>")
    out2 = ml.domain_reweight(docs, empty, {0: 1.0}, n_cells=2,
                              mode="resample")
    assert out2.count() == 0
    assert out2.columns == ["doc_id", "cell", "replica", "sample_rate"]
    import pytest
    with pytest.raises(ValueError, match="unknown mode"):
        ml.domain_reweight(docs, emb, {0: 1.0}, n_cells=2, mode="bogus")


def test_domain_reweight_up_targets_rarest_cell(spark, sf_oracle):
    """The registry's corpus_domain_reweight_up pins cell 0 as the
    up-weighted domain; this asserts cell 0 IS the rarest learned
    cell at the oracle scale (the fixture property the query's
    docstring claims) and that its docs actually replicate
    (replica 1 rows exist for cell 0 only where f >= 1)."""
    from s3_elasticsearch_data_pipeline_spark import registry as reg
    out = reg.queries()["corpus_domain_reweight_up"](
        spark, sf_oracle).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    rates = {c: rows[0]["sample_rate"] for c, rows in by_cell.items()}
    # cell 0 got 3x target share of a near-uniform corpus -> its
    # factor is the strict maximum and > 1 (true replication)
    assert rates[0] == max(rates.values()) and rates[0] > 1.0
    assert any(r["replica"] >= 1 for r in by_cell[0])
    # rarest-cell pin: recover each cell's corpus size from its
    # factor (n_c = t_c * N / f_c, N = 500 assignable embeddings at
    # sf0.01, tsum = 1.0) and demand cell 0 is the strict minimum
    n_of = {c: round((0.3 if c == 0 else 0.1) * 500 / rates[c])
            for c in rates}
    assert n_of[0] == min(n_of.values()), n_of
    assert sum(n_of.values()) == 500, n_of


def test_domain_reweight_resample_normalizer_order_independent(spark):
    """The resample normalizer must not depend on the order the
    per-cell counts arrive from collect(): permuting the counts dict
    (insertion order follows nondeterministic partition order in
    production) must produce the identical output frame. Guards the
    exact-nanoweight tsum contract — a float sum here differed by
    1 ulp across orders, enough to flip floor()/admission at exact
    hash boundaries."""
    from s3_elasticsearch_data_pipeline_spark.operators.ml import (
        _resample_by_cell)
    docs, emb = _clustered_corpus(spark, (300, 200, 100))
    # hand-build the 'assigned' frame deterministically: cell by size
    rows = ([(i, 0) for i in range(300)]
            + [(i, 1) for i in range(300, 500)]
            + [(i, 2) for i in range(500, 600)])
    assigned = spark.createDataFrame(
        [(v, c) for v, c in rows], "vec_id long, cell int")
    target = {0: 0.3, 1: 0.1, 2: 0.1}
    schema = "doc_id long, cell int, replica int, sample_rate double"
    out = {}
    for order in ((0, 1, 2), (2, 1, 0), (1, 2, 0)):
        counts = {c: {0: 300, 1: 200, 2: 100}[c] for c in order}
        res = _resample_by_cell(assigned, docs, counts, target, schema)
        out[order] = sorted((r["doc_id"], r["cell"], r["replica"],
                             r["sample_rate"]) for r in res.collect())
    vals = list(out.values())
    assert vals[0] == vals[1] == vals[2]
    assert vals[0], "resample produced no rows"


def test_domain_reweight_resample_replication_cap(spark):
    """A pathological target (one rare cell asked to dominate) must
    error loudly at the 4096x cap, never silently truncate."""
    from s3_elasticsearch_data_pipeline_spark.operators.ml import (
        _resample_by_cell)
    docs, _ = _clustered_corpus(spark, (5000, 1))
    assigned = spark.createDataFrame(
        [(i, 0) for i in range(5000)] + [(5000, 1)],
        "vec_id long, cell int")
    counts = {0: 5000, 1: 1}
    schema = "doc_id long, cell int, replica int, sample_rate double"
    import pytest
    with pytest.raises(ValueError, match="replication cap"):
        _resample_by_cell(assigned, docs, counts, {0: 0.01, 1: 0.99},
                          schema)


def test_domain_reweight_rejects_negative_targets(spark):
    """A negative target weight is always a caller bug, and the two
    modes would silently DISAGREE on it (downsample's `u < negative`
    never admits; resample's floor(f)<0 makes F.sequence descend and
    emit replicas for a cell that should be dropped) — both modes must
    raise up front, before any Spark job."""
    import pytest
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    docs, emb = _clustered_corpus(spark, (30, 30))
    for mode in ("downsample", "resample"):
        with pytest.raises(ValueError, match="negative target"):
            ml.domain_reweight(docs, emb, {0: 0.5, 1: -0.1},
                               n_cells=2, mode=mode)


def test_domain_reweight_resample_64_cells_matches_python(spark):
    """r10 equivalence case for the broadcast rates-table form at a
    learned-domain count (64) where the old when-chain would have been
    a 192-branch expression tree: the emitted (doc_id, cell, replica)
    set must equal a pure-Python replay of the admission rule (same
    nanoweight normalizer, same fixed-order f_c arithmetic, same
    (doc_id, replica) LCG)."""
    import math
    from s3_elasticsearch_data_pipeline_spark.operators.ml import (
        _resample_by_cell)
    n_cells, per = 64, 9
    assigned_rows = [(c * per + i, c) for c in range(n_cells)
                     for i in range(per)]
    assigned = spark.createDataFrame(assigned_rows,
                                     "vec_id long, cell int")
    docs = spark.createDataFrame([(r[0],) for r in assigned_rows],
                                 "doc_id long")
    counts = {c: per for c in range(n_cells)}
    targets = {c: 0.5 + (c % 7) * 0.25 for c in range(n_cells)}
    schema = "doc_id long, cell int, replica int, sample_rate double"
    got = {(r["doc_id"], r["cell"], r["replica"])
           for r in _resample_by_cell(assigned, docs, counts, targets,
                                      schema).collect()}
    # pure-Python replay (the pre-broadcast when-chain semantics)
    tsum = sum(int(math.floor(targets[c] * 1e9 + 0.5))
               for c in counts) / 1e9
    n_total = sum(counts.values())
    p = 2_147_483_647
    want = set()
    for doc_id, c in assigned_rows:
        f = targets[c] / tsum * n_total / counts[c]
        k, frac = int(math.floor(f)), None
        frac = f - int(math.floor(f))
        for rep in range(k + 1):
            u = ((doc_id % p) * 48_271 + 7 + 524_287
                 + rep * 131_071) % p % 1000 / 1000.0
            if rep < k or u < frac:
                want.add((doc_id, c, rep))
    assert got == want
    # the high-target cells genuinely replicate (replica >= 1 exists);
    # total stays ~N by construction (resample normalizes, not grows)
    assert any(rep >= 1 for _, _, rep in got)


def test_domain_mixture_n_cells_honored_verbatim(spark):
    """n_cells is a MODELING choice (module docstring): the operator
    must use exactly the requested cell count — never reroute through
    auto_n_cells occupancy sizing the way the index builders do."""
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    docs, emb = _clustered_corpus(spark, (40, 40, 40, 40, 40, 40))
    for k in (3, 5):
        rep = ml.domain_mixture(docs, emb, n_cells=k).collect()
        assert len(rep) == k
        assert {r["cell"] for r in rep} == set(range(k))


def test_domain_admission_stream_independent_of_mixture(spark):
    """r10: the domain stage's admission LCG is SALTED
    (ml.DOMAIN_LCG_SALT), so composing domain_reweight with
    text.dataset_mixture draws two INDEPENDENT uniform streams. With
    the r9 shared-LCG form the joint pass set was exactly the
    min-rate set (pass-both iff u < min(rates)); now it is the
    intersection of two different streams (~product rate). All
    deterministic — exact sets replayed in Python, no tolerances."""
    docs, emb = _clustered_corpus(spark, (400, 200))
    # ratios t/n: cell0 0.5/400 < cell1 0.5/200 -> rates 0.5 / 1.0
    out = ml.domain_reweight(docs, emb, {0: 0.5, 1: 0.5}, n_cells=2)
    rows = out.collect()
    half_cell = [c for c in (0, 1)
                 if any(r["cell"] == c and r["sample_rate"] == 0.5
                        for r in rows)]
    assert len(half_cell) == 1
    c = half_cell[0]
    admitted = {r["doc_id"] for r in rows if r["cell"] == c}
    cell_docs = {r["doc_id"] for r in rows if r["cell"] != c}
    # replay both streams for every doc id 0..599; the cell-c docs are
    # exactly those NOT in the other cell
    p = 2_147_483_647
    all_ids = set(range(600)) - cell_docs
    salted = {d for d in all_ids
              if ((d % p) * 48_271 + 7 + ml.DOMAIN_LCG_SALT)
              % p % 1000 / 1000.0 < 0.5}
    unsalted = {d for d in all_ids
                if ((d % p) * 48_271 + 7) % p % 1000 / 1000.0 < 0.5}
    assert admitted == salted          # the operator uses the salt
    assert admitted != unsalted        # and genuinely left the old stream
    # composition: a downstream mixture gate at rate 0.5 reads the
    # UNSALTED stream; the joint set is a true intersection of two
    # different streams, NOT the min-rate set the shared LCG produced
    joint = admitted & unsalted
    assert joint != admitted and joint != unsalted
    frac = len(joint) / len(all_ids)
    assert 0.15 < frac < 0.35, frac    # ~product(0.25), not min(0.5)
