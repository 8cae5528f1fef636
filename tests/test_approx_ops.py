"""Quality properties for the approximate operators (no SQL oracle):
MinHash-LSH recall vs exact Jaccard, ANN recall vs brute force,
SimHash determinism + self-similarity."""

from __future__ import annotations

import os

import pytest

# r11 (VERDICT item 2): the full ANN equivalence suite is minute-class
# (~6-8 min); it runs in the round-close full suite while the fast
# default keeps the oracle FAST_CORE + job-count pins as regression
# guards for these paths.
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.operators import (
    dedup, quantizer, similarity)


@pytest.fixture(scope="module")
def documents(spark, sf_smoke):
    return spark.read.parquet(os.path.join(sf_smoke, "documents.parquet"))


@pytest.fixture(scope="module")
def embeddings(spark, sf_smoke):
    return spark.read.parquet(os.path.join(sf_smoke, "embeddings.parquet"))


def test_minhash_lsh_recall_vs_exact(spark, documents):
    """LSH candidates must recover most high-Jaccard pairs: recall ≥0.8
    at J≥0.7 (banding theory: 4 bands × 4 rows → P(candidate|J=0.7) ≈
    1-(1-0.7^4)^4 ≈ 0.74 per high pair, plus est-filter; use the
    unblocked exact pairs as truth)."""
    exact = dedup.ngram_jaccard_pairs(
        documents.withColumn("lang", F.lit("x")), n=3, threshold=0.7)
    truth = {(r.doc_id_a, r.doc_id_b) for r in exact.collect()}
    approx = dedup.minhash_lsh_pairs(documents, n=3, num_hashes=16,
                                     bands=4, threshold=0.4)
    found = {(r.doc_id_a, r.doc_id_b) for r in approx.collect()}
    if truth:
        recall = len(truth & found) / len(truth)
        assert recall >= 0.6, f"minhash recall {recall} over {len(truth)} pairs"
    # estimated jaccard within [0,1]
    row = approx.agg(F.min("est_jaccard"), F.max("est_jaccard")).first()
    if row[0] is not None:
        assert 0.0 <= row[0] and row[1] <= 1.0


def test_minhash_identical_docs_collide(spark, documents):
    """A document duplicated verbatim must be found with est_jaccard=1."""
    a = documents.limit(5)
    dup = a.withColumn("doc_id", F.col("doc_id") + 100000)
    both = a.unionByName(dup)
    pairs = dedup.minhash_lsh_pairs(both, threshold=0.9)
    found = {(r.doc_id_a, r.doc_id_b): r.est_jaccard for r in pairs.collect()}
    for r in a.select("doc_id").collect():
        key = (r.doc_id, r.doc_id + 100000)
        assert key in found and found[key] == 1.0


def test_simhash_deterministic_and_reflexive(spark, documents):
    fp1 = {r.doc_id: r.simhash
           for r in dedup.simhash_fingerprints(documents.limit(50)).collect()}
    fp2 = {r.doc_id: r.simhash
           for r in dedup.simhash_fingerprints(documents.limit(50)).collect()}
    assert fp1 == fp2
    assert len(set(fp1.values())) > 1, "fingerprints degenerate to one value"
    # identical docs → hamming 0 pairs found
    a = documents.limit(5)
    dup = a.withColumn("doc_id", F.col("doc_id") + 100000)
    pairs = dedup.simhash_pairs(a.unionByName(dup), max_hamming=0)
    got = {(r.doc_id_a, r.doc_id_b) for r in pairs.collect()}
    for r in a.select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 100000) in got


def test_ann_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx = similarity.ann_lsh_topk(embeddings, queries, k=10)
    found = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"ANN recall {recall}"
    # every approx hit must carry the exact cosine of the true pair
    exact_scores = {(r.query_id, r.neighbor_id): r.sim for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert abs(r.sim - exact_scores[key]) < 1e-9


def test_ann_lsh_dims_arg_skips_probe_job(spark, embeddings, monkeypatch):
    """With ``dims`` supplied, plan-build must never run the one-row
    ``.first()`` dimensionality probe (documented fallback only) — and
    the dims path must return the probe path's exact answer."""
    from pyspark.sql import DataFrame
    queries = embeddings.where(F.col("vec_id") < 10)
    probed = {(r.query_id, r.neighbor_id, r.sim, r.rank)
              for r in similarity.ann_lsh_topk(
                  embeddings, queries, k=10).collect()}

    def boom(self, *a, **kw):
        raise AssertionError("dims was supplied but plan-build probed")
    monkeypatch.setattr(DataFrame, "first", boom)
    plan = similarity.ann_lsh_topk(embeddings, queries, k=10, dims=64)
    monkeypatch.undo()
    got = {(r.query_id, r.neighbor_id, r.sim, r.rank)
           for r in plan.collect()}
    assert got == probed


def test_ivf_recall_vs_brute_force(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx = similarity.ivf_topk(embeddings, queries, k=10,
                                 n_cells=8, n_probe=4)
    found = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"IVF recall {recall}"
    # determinism: same call → same result set
    again = {(r.query_id, r.neighbor_id)
             for r in similarity.ivf_topk(embeddings, queries, k=10,
                                          n_cells=8, n_probe=4).collect()}
    assert found == again


def test_ivf_persisted_index_matches_inline(spark, embeddings, tmp_path,
                                            monkeypatch):
    """build_ivf_index + ivf_probe_topk must return EXACTLY the inline
    ivf_topk result (deterministic centroids + stable tie-breaks), on
    the driver read of the probed cells and on the Spark scan (forced
    by a zero probed-cell byte cap), and that scan must carry the
    probed-cell partition filter —
    the pruning that makes the persisted index an index at 100 TB."""
    queries = embeddings.where(F.col("vec_id") < 10)
    inline = {(r.query_id, r.neighbor_id, r.sim, r.rank)
              for r in similarity.ivf_topk(
                  embeddings, queries, k=10,
                  n_cells=8, n_probe=4).collect()}
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(embeddings, path, n_cells=8)
    got = {(r.query_id, r.neighbor_id, r.sim, r.rank)
           for r in similarity.ivf_probe_topk(spark, path, queries,
                                              k=10, n_probe=4).collect()}
    assert got == inline
    with monkeypatch.context() as m:
        m.setattr(offload, "MAX_DRIVER_CELL_BYTES", 0)
        probe = similarity.ivf_probe_topk(spark, path, queries,
                                          k=10, n_probe=4)
    assert {(r.query_id, r.neighbor_id, r.sim, r.rank)
            for r in probe.collect()} == inline
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and \
        "cell" in plan.split("PartitionFilters", 1)[1][:150], \
        "probe scan must prune index partitions by probed cell set"
    # rebuild determinism: a second build produces the identical index
    path2 = str(tmp_path / "ivf2")
    similarity.build_ivf_index(embeddings, path2, n_cells=8)
    again = {(r.query_id, r.neighbor_id, r.sim, r.rank)
             for r in similarity.ivf_probe_topk(
                 spark, path2, queries, k=10, n_probe=4).collect()}
    assert again == got


def test_ann_query_side_switch_above_cap(spark, embeddings, monkeypatch,
                                         tmp_path):
    """Above MAX_DRIVER_QUERIES the ANN joins must drop the forced
    query-side broadcast (a corpus-sized query frame would OOM the
    driver) and still return the identical result set."""
    queries = embeddings.where(F.col("vec_id") < 10)
    with_hint = {(r.query_id, r.neighbor_id, r.sim, r.rank)
                 for r in similarity.ivf_topk(
                     embeddings, queries, k=10,
                     n_cells=8, n_probe=4).collect()}
    monkeypatch.setattr(offload, "MAX_DRIVER_QUERIES", 2)
    without = similarity.ivf_topk(embeddings, queries, k=10,
                                  n_cells=8, n_probe=4)
    got = {(r.query_id, r.neighbor_id, r.sim, r.rank)
           for r in without.collect()}
    assert got == with_hint
    lsh_a = {(r.query_id, r.neighbor_id)
             for r in similarity.ann_lsh_topk(
                 embeddings, queries, k=10).collect()}
    monkeypatch.setattr(offload, "MAX_DRIVER_QUERIES", 10_000)
    lsh_b = {(r.query_id, r.neighbor_id)
             for r in similarity.ann_lsh_topk(
                 embeddings, queries, k=10).collect()}
    assert lsh_a == lsh_b


def test_wide_dim_queries_take_distributed_path(spark, embeddings,
                                                monkeypatch):
    """r11: the driver-resident fast paths are byte-capped, not just
    row-capped — a query frame whose rows × dim × 8 exceeds
    MAX_DRIVER_QUERY_BYTES must flip to the distributed plan even when
    its ROW count is under MAX_DRIVER_QUERIES, and return the
    identical result set (the closure otherwise grows linearly with
    embedding dim with no guard)."""
    queries = embeddings.where(F.col("vec_id") < 6)
    with_driver = {(r.query_id, r.neighbor_id, r.sim, r.rank)
                   for r in similarity.ivf_topk(
                       embeddings, queries, k=5,
                       n_cells=8, n_probe=4).collect()}
    # 6 queries x 64 dims x 8 B = 3072 B — cap below it so the SAME
    # frame is now "too wide" for the driver path
    monkeypatch.setattr(offload, "MAX_DRIVER_QUERY_BYTES", 2048)
    assert similarity._collect_queries_if_serving_sized(queries) is None
    got = {(r.query_id, r.neighbor_id, r.sim, r.rank)
           for r in similarity.ivf_topk(embeddings, queries, k=5,
                                        n_cells=8, n_probe=4).collect()}
    assert got == with_driver
    # the Arrow brute-force path honors the same byte cap (auto-switch
    # to the distributed broadcast join, identical rows)
    bf = {(r.query_id, r.neighbor_id, r.sim, r.rank)
          for r in similarity.brute_force_topk_arrow(
              embeddings, queries, k=5).collect()}
    monkeypatch.undo()
    bf_driver = {(r.query_id, r.neighbor_id, r.sim, r.rank)
                 for r in similarity.brute_force_topk_arrow(
                     embeddings, queries, k=5).collect()}
    assert bf == bf_driver


def test_ivf_append_requires_trained_index(spark, embeddings, tmp_path):
    import pytest
    path = str(tmp_path / "ivf_untrained")
    similarity.build_ivf_index(
        embeddings.where(F.lit(False)), path, n_cells=8)
    with pytest.raises(ValueError, match="no centroids"):
        similarity.ivf_index_append(spark, path, embeddings)


def test_ivf_persisted_empty_corpus(spark, embeddings, tmp_path):
    path = str(tmp_path / "ivf_empty")
    similarity.build_ivf_index(
        embeddings.where(F.lit(False)), path, n_cells=8)
    out = similarity.ivf_probe_topk(
        spark, path, embeddings.where(F.col("vec_id") < 3), k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "sim", "rank"]


def test_oracle_fixture_cell_assumption():
    """The dedup_embedding_blocked / dedup_semantic_apply DuckDB twins
    unroll k-means at 8 FLAT cells; the operator's auto-sizing rule
    (r7: max(8, ceil(n/64)) constant occupancy) must resolve to
    exactly 8 — and stay under the two-level switch — at every SF the
    oracle harness runs on, or the twins silently diverge. Guards
    fixture regeneration: the rule leaves 8 only while n <= 512."""
    import math

    import duckdb

    from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
        _TARGET_CELL_OCCUPANCY, IVF_TWO_LEVEL_MIN_CELLS)
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        (n,) = duckdb.sql(
            f"SELECT count(*) FROM '{sf}/embeddings.parquet'").fetchone()
        cells = max(8, math.ceil(n / _TARGET_CELL_OCCUPANCY))
        assert cells == 8 and cells < IVF_TWO_LEVEL_MIN_CELLS, \
            (sf, n, "regenerated fixture broke the 8-cell oracle pin")


def test_blocked_semantic_dedup_tiny_corpus(spark, embeddings):
    """A corpus smaller than n_assign trains fewer centroids than the
    multi-assign width — the kernel must clamp (like _nearest_cells),
    not crash on a ragged repeat; 1 vector → 0 pairs, 2 near-identical
    vectors → their pair."""
    one = embeddings.orderBy("vec_id").limit(1)
    assert dedup.embedding_blocked_near_dup(one).count() == 0
    base = embeddings.orderBy("vec_id").limit(1)
    twin = base.withColumn("vec_id", base["vec_id"] + 1)
    pair = dedup.embedding_blocked_near_dup(base.unionByName(twin))
    rows = pair.collect()
    assert len(rows) == 1 and rows[0]["cosine_sim"] == 1.0


def test_blocked_semantic_dedup_recall_and_precision(spark, embeddings):
    """K-means-blocked near-dup must (a) report only true >=threshold
    pairs — precision 1.0 by construction since it reranks exactly —
    and (b) recover most of the unblocked brute-force pairs."""
    blocked = dedup.embedding_blocked_near_dup(
        embeddings, threshold=0.3, n_cells=8, n_assign=2)
    got = {(r.vec_id_a, r.vec_id_b): r.cosine_sim for r in blocked.collect()}
    exact = dedup.embedding_near_dup_pairs(
        embeddings.withColumn("label", F.lit(0)), threshold=0.3)
    truth = {(r.vec_id_a, r.vec_id_b): r.cosine_sim for r in exact.collect()}
    assert set(got) <= set(truth), "blocked dedup reported a false pair"
    if truth:
        recall = len(set(got) & set(truth)) / len(truth)
        assert recall >= 0.5, f"blocked recall {recall} of {len(truth)}"
    for k in got:
        assert abs(got[k] - truth[k]) < 1e-9


def test_arrow_bruteforce_matches_hof_path(spark, embeddings):
    """The BLAS-vectorized exact top-k must agree with the HOF fold
    path: same neighbor sets, sims within float tolerance."""
    queries = embeddings.where(F.col("vec_id") < 10)
    hof = similarity.brute_force_topk(embeddings, queries, k=10)
    arrow = similarity.brute_force_topk_arrow(embeddings, queries, k=10)
    a = {(r.query_id, r.neighbor_id): r.sim for r in hof.collect()}
    b = {(r.query_id, r.neighbor_id): r.sim for r in arrow.collect()}
    overlap = len(set(a) & set(b)) / max(len(a), 1)
    assert overlap >= 0.99, f"top-k sets diverge: {overlap}"
    for key in set(a) & set(b):
        assert abs(a[key] - b[key]) < 1e-5


def test_hll_rollup_estimates_and_merge(spark, sf_oracle):
    """HLL per-month estimates within 5% of exact; the merged sketch
    matches the exact global distinct within 5% (mergeability — the
    reason to keep sketches instead of exact counts at scale)."""
    import pyspark.sql.functions as F
    from s3_elasticsearch_data_pipeline_spark.operators.analytics import (
        hll_rollup)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    orders = load_table(spark, sf_oracle, "orders")
    got = {r["month"]: r for r in hll_rollup(orders).collect()}
    exact = {r["month"]: r["n"] for r in
             (orders.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                             .alias("month"))
              .agg(F.count_distinct("o_custkey").alias("n"))).collect()}
    assert set(got) == set(exact)
    for m, n in exact.items():
        assert abs(got[m]["approx_customers"] - n) <= max(0.05 * n, 2), m
    global_exact = orders.select("o_custkey").distinct().count()
    merged = next(iter(got.values()))["merged_total_customers"]
    assert abs(merged - global_exact) <= 0.05 * global_exact


def test_hll_portable_rollup_accuracy_matches_datasketches(
        spark, sf_oracle):
    """The portable-hash HLL (what the registry oracle-checks) carries
    the same accuracy contract as the Datasketches scale default:
    per-month estimates within 3 sigma of exact (m=512 -> ~4.6%
    theoretical RSE, so 14% bounds the max over ~80 months), mean
    relative error within 5%, merged total within 5%, and the merged
    estimate is identical
    no matter how the months partition the corpus (mergeability is
    register-wise max, order-free)."""
    import pyspark.sql.functions as F
    from s3_elasticsearch_data_pipeline_spark.operators.analytics import (
        hll_portable_rollup)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    orders = load_table(spark, sf_oracle, "orders")
    got = {r["month"]: r for r in hll_portable_rollup(orders).collect()}
    exact = {r["month"]: r["n"] for r in
             (orders.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                             .alias("month"))
              .agg(F.count_distinct("o_custkey").alias("n"))).collect()}
    assert set(got) == set(exact)
    rel = [abs(got[m]["approx_customers"] - n) / n
           for m, n in exact.items()]
    assert max(rel) <= 0.14, max(rel)
    assert sum(rel) / len(rel) <= 0.05, sum(rel) / len(rel)
    global_exact = orders.select("o_custkey").distinct().count()
    merged = next(iter(got.values()))["merged_total_customers"]
    assert abs(merged - global_exact) <= 0.05 * global_exact
    # mergeability: a different partitioning (quarter instead of
    # month) must produce the IDENTICAL merged total
    q = orders.withColumn(
        "o_orderdate", F.trunc("o_orderdate", "quarter"))
    merged_q = hll_portable_rollup(q).first()["merged_total_customers"]
    assert merged_q == merged


def test_pca_projection_properties(spark, sf_oracle):
    """PCA invariants: pc1 captures >= pc2 variance, projections are
    uncorrelated, output deterministic across runs (sign convention)."""
    import math

    import pyspark.sql.functions as F

    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        pca_project)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    emb = load_table(spark, sf_oracle, "embeddings")
    out = pca_project(emb).cache()
    assert out.count() == emb.count()
    stats = out.agg(
        F.var_samp("pc1").alias("v1"), F.var_samp("pc2").alias("v2"),
        F.corr("pc1", "pc2").alias("c")).first()
    assert stats["v1"] >= stats["v2"] > 0
    assert abs(stats["c"]) < 0.15, "principal projections correlated"
    again = {r["vec_id"]: (r["pc1"], r["pc2"])
             for r in pca_project(emb).collect()}
    for r in out.collect():
        a, b = again[r["vec_id"]]
        assert math.isclose(a, r["pc1"], abs_tol=1e-9)
        assert math.isclose(b, r["pc2"], abs_tol=1e-9)
    out.unpersist()


def test_approx_quantiles_close_to_exact(spark, sf_oracle):
    """GK-sketch percentiles must land within 1% relative error of the
    exact per-group percentile at 10k accuracy."""
    import pyspark.sql.functions as F

    from s3_elasticsearch_data_pipeline_spark import registry
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    approx = {r["l_returnflag"]: r for r in
              registry.queries()["agg_approx_quantiles"](
                  spark, sf_oracle).collect()}
    li = load_table(spark, sf_oracle, "lineitem")
    exact = {r["l_returnflag"]: r for r in
             (li.groupBy("l_returnflag")
              .agg(*[F.expr(f"percentile(l_extendedprice, {p})")
                     .alias(f"p{int(p * 100)}")
                     for p in (0.5, 0.9, 0.99)])).collect()}
    assert set(approx) == set(exact) and approx
    for flag, a in approx.items():
        for c in ("p50", "p90", "p99"):
            e = exact[flag][c]
            assert abs(a[c] - e) <= 0.01 * abs(e), (flag, c, a[c], e)


def test_audio_chunking_windows(spark, sf_oracle):
    """Audio chunk fan-out: per-doc chunk count matches the sliding
    window formula, offsets advance by the hop, every byte of the
    payload is covered, and digests are deterministic across runs."""
    from s3_elasticsearch_data_pipeline_spark.operators.multimodal import (
        attach_payload, chunk_audio)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_oracle, "documents").limit(200)
    payloads = attach_payload(docs, media_type="audio/fake")
    sizes = {r["doc_id"]: r["n_bytes"] for r in payloads.collect()}
    win, hop = 32, 16  # 1 ms / 0.5 ms at 16 kHz × 2 B
    out = chunk_audio(payloads).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(sizes)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_index"])
        n = sizes[doc_id]
        expected = max((max(n - win, 0) + hop - 1) // hop, 0) + 1
        assert len(rows) == expected, (doc_id, n, len(rows), expected)
        for i, r in enumerate(rows):
            assert r["chunk_index"] == i
            assert r["n_chunk_bytes"] <= win
        # full coverage: last chunk reaches the end of the payload
        last = rows[-1]
        assert round(last["end_ms"] * 32) == n
    again = {(r["doc_id"], r["chunk_index"]): r["chunk_md5"]
             for r in chunk_audio(payloads).collect()}
    for r in out:
        assert again[(r["doc_id"], r["chunk_index"])] == r["chunk_md5"]


def test_countmin_overestimates_within_bound(spark, sf_oracle):
    """CMS one-sided guarantee: estimate >= true count, and the
    overestimate stays within the eps*N = (e/width)*N classic bound."""
    import math

    from s3_elasticsearch_data_pipeline_spark.operators.analytics import (
        countmin_heavy_hitters)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    events = load_table(spark, sf_oracle, "events")
    n = events.count()
    width = 64
    out = countmin_heavy_hitters(events, width=width).collect()
    assert out, "no heavy hitters returned"
    bound = math.e / width * n
    for r in out:
        assert r["cms_estimate"] >= r["true_count"], r
        assert r["cms_estimate"] - r["true_count"] <= bound, (r, bound)


def test_compression_ratio_orders_repetition(spark, sf_smoke):
    """Duplicated text must compress strictly better (lower ratio)
    than the original, and ratios are deterministic run to run."""
    import pyspark.sql.functions as F
    from s3_elasticsearch_data_pipeline_spark.operators.text import (
        compression_ratio)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    docs = load_table(spark, sf_smoke, "documents").limit(50)
    doubled = docs.select(
        "doc_id", F.concat("text", F.lit(" "), "text").alias("text"))
    base = {r["doc_id"]: r["compression_ratio"]
            for r in compression_ratio(docs).collect()}
    dbl = {r["doc_id"]: r["compression_ratio"]
           for r in compression_ratio(doubled).collect()}
    assert all(dbl[k] < base[k] for k in base)
    again = {r["doc_id"]: r["compression_ratio"]
             for r in compression_ratio(docs).collect()}
    assert again == base


def test_product_quantize_codes_and_distortion(spark, documents):
    """PQ codes are in range; reconstruction error is finite and
    strictly better than a 1-code codebook (more centroids must not
    reconstruct worse)."""
    from s3_elasticsearch_data_pipeline_spark.operators import similarity
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    enc16 = similarity.product_quantize(embs, m=8, k_codes=16)
    rows = enc16.collect()
    assert len(rows) == embs.count()
    assert all(0 <= c <= 15 for r in rows for c in r["codes"])
    assert all(len(r["codes"]) == 8 for r in rows)
    mse16 = sum(r["recon_mse"] for r in rows) / len(rows)
    enc1 = similarity.product_quantize(embs, m=8, k_codes=1)
    mse1 = sum(r["recon_mse"] for r in enc1.collect()) / len(rows)
    assert 0 < mse16 < mse1


def test_pq_topk_recall_vs_bruteforce(spark):
    """ADC top-k must recover most true cosine neighbors. PQ approximates
    L2; on (near-)unit-norm embeddings L2 and cosine rank identically,
    so recall@10 against the exact brute force should be high."""
    from s3_elasticsearch_data_pipeline_spark.operators import similarity
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = embs.orderBy("vec_id").limit(10)
    exact = similarity.brute_force_topk(embs, queries, k=10)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = similarity.pq_topk(embs, queries, k=10)
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q])
               for q in truth]
    assert sum(recalls) / len(recalls) >= 0.55, recalls
    # rank 1 must be the query itself (exact rerank puts sim=1 first)
    first = {r["query_id"]: r["neighbor_id"]
             for r in approx.where("rank = 1").collect()}
    assert all(q == n for q, n in first.items())


def test_pq_topk_empty_queries(spark):
    from s3_elasticsearch_data_pipeline_spark.operators import similarity
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    assert similarity.pq_topk(embs, embs.limit(0), k=5).count() == 0


def test_arrow_bruteforce_autoswitches_above_query_cap(spark, embeddings,
                                                       monkeypatch):
    """A query frame above MAX_DRIVER_QUERIES must NOT be collected to
    the driver: the Arrow path auto-switches to the fully distributed
    broadcast-join strategy (no Python map node in the plan) and still
    returns the identical exact answer."""
    queries = embeddings.where(F.col("vec_id") < 25)
    with monkeypatch.context() as m:
        m.setattr(offload, "MAX_DRIVER_QUERIES", 10)
        big = similarity.brute_force_topk_arrow(embeddings, queries, k=5)
    assert "MapInPandas" not in big._jdf.queryExecution().executedPlan() \
        .toString(), "over-cap query frame must take the join path"
    small = similarity.brute_force_topk_arrow(embeddings, queries, k=5)
    assert sorted(map(tuple, big.collect())) == \
        sorted(map(tuple, small.collect()))


def test_pq_topk_autoswitches_above_query_cap(spark, embeddings,
                                              monkeypatch):
    """A query frame above MAX_DRIVER_QUERIES must NOT be collected to
    the driver: pq_topk auto-switches to the block-nested-loop cogroup
    ADC scan (query tables computed executor-side) and still returns
    the bit-identical answer — same rounded (adc_dist, neighbor_id)
    total order on both paths."""
    queries = embeddings.where(F.col("vec_id") < 25)
    with monkeypatch.context() as m:
        m.setattr(offload, "MAX_DRIVER_QUERIES", 10)
        big = similarity.pq_topk(embeddings, queries, k=5, m=4, k_codes=8,
                                 rerank=12)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, \
        "over-cap query frame must take the cogroup ADC path"
    small = similarity.pq_topk(embeddings, queries, k=5, m=4, k_codes=8,
                               rerank=12)
    assert sorted(map(tuple, big.collect())) == \
        sorted(map(tuple, small.collect()))


def test_batch_topk_partitioning_invariant_under_exact_ties(spark,
                                                            monkeypatch):
    """Exact score ties straddling Arrow batch boundaries must not make
    the result depend on partitioning: a corpus of duplicated vectors
    (guaranteed distance ties everywhere) must yield byte-identical
    top-k under 1 vs 7 partitions, for both the Arrow brute-force and
    the PQ/ADC scan."""
    import math
    base = [[math.sin(0.1 * i * d + 0.3 * d) for d in range(8)]
            for i in range(12)]
    rows = [(int(i), 0, base[i % 12]) for i in range(120)]  # 10 copies
    embs = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    queries = embs.where(F.col("vec_id") < 3)

    def pq_over_cap(e):
        with monkeypatch.context() as m:
            m.setattr(offload, "MAX_DRIVER_QUERIES", 1)
            return similarity.pq_topk(e, queries, k=7, m=4, k_codes=8,
                                      rerank=9)

    for fn in (
        lambda e: similarity.brute_force_topk_arrow(e, queries, k=7),
        lambda e: similarity.pq_topk(e, queries, k=7, m=4, k_codes=8,
                                     rerank=9),
        # the block-nested-loop cogroup ADC path: ties must also be
        # stable across BLOCK/CHUNK geometry, not just Arrow batches
        pq_over_cap,
    ):
        got = [sorted(map(tuple, fn(embs.repartition(n)).collect()))
               for n in (1, 7)]
        assert got[0] == got[1]


def test_brute_topk_oracle_precondition_margins():
    """The shared sim_topk_bruteforce/_arrow oracle assumes the corpus
    keeps cosine scores away from two knife edges where a float64
    summation-order difference (HOF sequential fold vs BLAS blocked
    sum, ~1e-12 relative) could flip the ORACLE-visible output:

      1. the rank-k boundary — distinct scores straddling rank 10 must
         differ by far more than summation error;
      2. the 6-decimal rounding grid — no reported score may sit within
         summation error of a .xxxxxx5 rounding boundary.

    Asserted here at BOTH oracle scale factors so a future corpus
    generator change reads as 'precondition broken', not 'engine
    wrong' (the failure message says which)."""
    import duckdb

    margin_sql = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM read_parquet('{p}') WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM read_parquet('{p}')),
         scored AS (
           SELECT query_id, neighbor_id,
                  list_inner_product(qv, cv)
                  / (sqrt(list_inner_product(qv, qv))
                     * sqrt(list_inner_product(cv, cv))) AS s
           FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         ranked AS (
           SELECT query_id, s,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS rank
           FROM scored)
    SELECT
      min((SELECT min(a.s - b.s) FROM ranked a, ranked b
           WHERE a.query_id = b.query_id AND a.rank <= 10
             AND b.rank = a.rank + 1 AND a.s <> b.s)) AS min_boundary_gap,
      min((SELECT min(abs(abs(s * 1e6 - floor(s * 1e6)) - 0.5))
           FROM ranked WHERE rank <= 10)) AS min_round_margin
    """
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        p = os.path.join(sf_dir, "embeddings.parquet")
        gap, rmargin = duckdb.sql(margin_sql.format(p=p)).fetchone()
        # summation error ~1e-12 on unit-norm dots; demand ≥1000× slack
        assert gap is None or gap > 1e-9, (
            f"oracle precondition broken at {sf_dir}: adjacent distinct "
            f"scores at the rank-10 boundary differ by {gap} — "
            f"summation order could flip the top-k set")
        assert rmargin is not None and rmargin > 1e-3, (
            f"oracle precondition broken at {sf_dir}: a top-10 score "
            f"sits {rmargin} (×1e-6) from a 6-decimal rounding edge — "
            f"summation order could flip the reported sim")


def test_ann_lsh_oracle_precondition_plane_margins():
    """The sim_topk_ann_lsh oracle recomputes bucket sign bits with a
    sequential SQL sum while the engine uses a numpy/BLAS matmul —
    different float64 summation orders. The sketches agree iff no
    |embedding·plane| dot sits within summation error of 0. Assert the
    margin at both oracle SFs so a corpus change reads as 'precondition
    broken', not 'engine wrong'."""
    import duckdb
    margin_sql = """
    WITH planes AS (
      SELECT pp.p AS p,
             list_transform(range(0, 64), d ->
               CASE WHEN (CAST(('0x' || substr(md5('plane:' || pp.p || ':0'),
                                               2 * (d // 8) + 1, 2)) AS INT)
                          >> (d % 8)) & 1 = 1
                    THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS pl
      FROM (SELECT unnest(range(0, 32)) AS p) pp)
    SELECT min(abs(list_inner_product(v.embedding::DOUBLE[], pl.pl)))
    FROM read_parquet('{p}') v CROSS JOIN planes pl
    """
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        p = os.path.join(sf_dir, "embeddings.parquet")
        (margin,) = duckdb.sql(margin_sql.format(p=p)).fetchone()
        # ±1-coefficient sums of 64 doubles: error ~1e-15; demand 1e6× slack
        assert margin > 1e-9, (
            f"oracle precondition broken at {sf_dir}: an embedding·plane "
            f"dot is {margin} from 0 — summation order could flip a "
            f"bucket sign bit")


def test_portable_hash_mode_band_collision_equivalence(spark, documents):
    """xxhash64 stays the scale default only because the portable mode
    behaves the same way where it matters: identical documents collide
    with est_jaccard=1 / hamming=0 in BOTH modes, and both modes
    recover the high-Jaccard (>=0.7) truth pairs at equal-or-better
    recall than the banding-theory floor."""
    a = documents.limit(30)
    dup = a.withColumn("doc_id", F.col("doc_id") + 100000)
    both = a.unionByName(dup)
    expected = {(r.doc_id, r.doc_id + 100000)
                for r in a.select("doc_id").collect()}
    for mode in ("xxhash64", "portable"):
        mh = {(r.doc_id_a, r.doc_id_b): r.est_jaccard
              for r in dedup.minhash_lsh_pairs(
                  both, threshold=0.9, hash_mode=mode).collect()}
        assert expected <= set(mh) and \
            all(mh[k] == 1.0 for k in expected), f"minhash[{mode}]"
        sh = {(r.doc_id_a, r.doc_id_b)
              for r in dedup.simhash_pairs(
                  both, max_hamming=0, hash_mode=mode).collect()}
        assert expected <= sh, f"simhash[{mode}]"
    # high-similarity recall parity on the real corpus
    truth = {(r.doc_id_a, r.doc_id_b)
             for r in dedup.ngram_jaccard_pairs(
                 documents.withColumn("lang", F.lit("x")),
                 n=3, threshold=0.7).collect()}
    if truth:
        for mode in ("xxhash64", "portable"):
            found = {(r.doc_id_a, r.doc_id_b)
                     for r in dedup.minhash_lsh_pairs(
                         documents, threshold=0.4,
                         hash_mode=mode).collect()}
            recall = len(truth & found) / len(truth)
            assert recall >= 0.6, f"{mode} recall {recall}"


def test_ivfpq_probe_equals_pq_topk_on_probed_cells(spark, embeddings,
                                                    tmp_path):
    """The FAISS-IVFPQ composition contract: for each query, probing
    the persisted IVF-PQ index returns EXACTLY what pq_topk (same
    codebooks) returns over the sub-corpus of that query's probed
    cells — cell pruning + ADC-over-codes + exact rerank must add no
    approximation beyond the cell restriction itself."""
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(embeddings, path, n_cells=8)
    queries = embeddings.where(F.col("vec_id") < 3)
    got = {}
    for r in similarity.ivfpq_probe_topk(spark, path, queries,
                                         k=10, n_probe=4).collect():
        got.setdefault(r.query_id, set()).add(
            (r.neighbor_id, r.sim, r.rank))

    quant = quantizer._load_quantizer(spark, path)
    books = similarity._load_codebooks(spark, path)
    cells_df = spark.read.parquet(path + "/cells")
    for q in queries.select("vec_id", "embedding").collect():
        one = spark.createDataFrame([(q.vec_id, list(q.embedding))],
                                    "vec_id long, embedding array<double>")
        probed = sorted({r.cell for r in one.mapInPandas(
            quantizer._quantizer_cells_fn(quant, 4),
            "vec_id long, cell int").collect()})
        sub_corpus = (cells_df.where(F.col("cell").isin(probed))
                      .select("vec_id", F.lit(0).alias("label"),
                              "embedding"))
        want = {(r.neighbor_id, r.sim, r.rank)
                for r in similarity.pq_topk(sub_corpus, one, k=10,
                                            _books=books).collect()}
        assert got.get(q.vec_id, set()) == want, f"query {q.vec_id}"


def test_ivfpq_probe_plan_prunes_partitions_and_columns(spark, embeddings,
                                                        tmp_path,
                                                        monkeypatch):
    """The two physical properties that make IVF-PQ an index at 100 TB:
    (1) the scans carry the probed-cell PARTITION filter (directory
    pruning), and (2) the ADC-stage scan's ReadSchema has codes but NOT
    the raw embedding column (8-byte codes per vector, not d-dim
    floats). Checked on the Spark-scan strategy, forced by a zero
    probed-cell byte cap."""
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(embeddings, path, n_cells=8)
    queries = embeddings.where(F.col("vec_id") < 3)
    with monkeypatch.context() as m:
        m.setattr(offload, "MAX_DRIVER_CELL_BYTES", 0)
        probe = similarity.ivfpq_probe_topk(spark, path, queries,
                                            k=10, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # cell-store scans are the ones carrying the cell partition column
    # (the Location path string is truncated under pytest's long tmp
    # paths, so match on the projected column list instead)
    scans = [seg for seg in plan.split("FileScan")[1:]
             if "cell#" in seg.split("\n")[0]]
    assert scans, "expected FileScan nodes over the cell store"
    for seg in scans:
        head = seg.split("\n")[0]
        assert "PartitionFilters" in head and \
            "cell" in head.split("PartitionFilters", 1)[1][:200], \
            "every cell-store scan must prune by probed cell set"
    adc_scans = [seg for seg in scans
                 if "codes" in seg.split("ReadSchema", 1)[-1][:200]]
    assert adc_scans, "expected a codes-projecting ADC scan"
    for seg in adc_scans:
        schema = seg.split("ReadSchema", 1)[-1][:200]
        assert "embedding" not in schema, \
            "ADC scan must not deserialize raw vectors"
    # build determinism: rebuild → identical probe answer (this one
    # read on the driver)
    path2 = str(tmp_path / "ivfpq2")
    similarity.build_ivfpq_index(embeddings, path2, n_cells=8)
    a = sorted(map(tuple, probe.collect()))
    b = sorted(map(tuple, similarity.ivfpq_probe_topk(
        spark, path2, queries, k=10, n_probe=2).collect()))
    assert a == b


def test_ivf_builds_run_no_extra_probe_jobs(spark, embeddings, tmp_path):
    """Build-path job budget: the k-means init fetch doubles as the
    emptiness probe, so the builds must not spend a separate Spark job
    on a ``.first()`` check (the r5 ann_lsh_topk fix, applied to the
    index builders in r6). Counts pinned from a measured run — a
    reintroduced probe job bumps them by one and fails here."""
    sc = spark.sparkContext
    emb = embeddings.localCheckpoint(eager=True)
    sc.setJobGroup("build_ivfpq", "jobcount")
    similarity.build_ivfpq_index(emb, str(tmp_path / "jc_pq"), n_cells=8)
    n_pq = len(sc.statusTracker().getJobIdsForGroup("build_ivfpq"))
    sc.setJobGroup("build_ivf", "jobcount")
    similarity.build_ivf_index(emb, str(tmp_path / "jc_ivf"), n_cells=8)
    n_ivf = len(sc.statusTracker().getJobIdsForGroup("build_ivf"))
    sc.setJobGroup("default", "")
    assert n_pq <= 11, f"ivfpq build ran {n_pq} jobs (budget 11)"
    assert n_ivf <= 9, f"ivf build ran {n_ivf} jobs (budget 9)"


def test_ivfpq_probe_pins_no_rdds(spark, embeddings, tmp_path):
    """Serving hygiene: a probe is a per-request call — it must leave
    ZERO persisted/checkpointed RDDs behind (the eager-checkpoint
    design pinned one per call for the session lifetime, the 2.5→14 s
    degradation SCALING.md measures for leaked checkpoint blocks)."""
    from s3_elasticsearch_data_pipeline_spark.session import (
        persistent_rdd_ids)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(embeddings, path, n_cells=8)
    queries = embeddings.where(F.col("vec_id") < 3)
    ivf_path = str(tmp_path / "ivf")
    similarity.build_ivf_index(embeddings, ivf_path, n_cells=8)
    before = persistent_rdd_ids(spark)
    for _ in range(3):
        similarity.ivfpq_probe_topk(spark, path, queries,
                                    k=5, n_probe=2).collect()
        similarity.ivf_probe_topk(spark, ivf_path, queries,
                                  k=5, n_probe=2).collect()
    assert persistent_rdd_ids(spark) - before == set()


def test_ivfpq_recall_and_empty_inputs(spark, embeddings, tmp_path):
    """IVF-PQ is doubly approximate (cell restriction + PQ shortlist) —
    still must recover most true neighbors at generous probe width, and
    the empty-index / empty-query edges return empty stable-schema
    frames instead of throwing."""
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(embeddings, path, n_cells=8)
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    found = {(r.query_id, r.neighbor_id)
             for r in similarity.ivfpq_probe_topk(
                 spark, path, queries, k=10, n_probe=6,
                 rerank=100).collect()
             if r.query_id != r.neighbor_id}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"IVF-PQ recall {recall}"
    # empty corpus index
    epath = str(tmp_path / "empty")
    similarity.build_ivfpq_index(embeddings.where(F.lit(False)), epath)
    out = similarity.ivfpq_probe_topk(spark, epath, queries, k=10)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    # empty queries against a real index
    out2 = similarity.ivfpq_probe_topk(
        spark, path, queries.where(F.lit(False)), k=10)
    assert out2.count() == 0 and out2.columns == out.columns


def test_ivfpq_append_equals_bulk_assign(spark, embeddings, tmp_path):
    """FAISS add-after-train for IVF-PQ: appending a batch against the
    persisted centroids+codebooks must land every vector exactly where
    a bulk assignment with the SAME parameters would — probe results
    over (build-half + append-half) equal a probe over an index whose
    cells hold ALL vectors assigned/encoded by the half-trained
    parameters (shared kernel, no drift)."""
    import shutil
    half = embeddings.where(F.col("vec_id") % 2 == 0)
    rest = embeddings.where(F.col("vec_id") % 2 == 1)
    queries = embeddings.where(F.col("vec_id") < 5)
    p1 = str(tmp_path / "inc")
    similarity.build_ivfpq_index(half, p1, n_cells=8)
    similarity.ivfpq_index_append(spark, p1, rest)
    got = sorted(map(tuple, similarity.ivfpq_probe_topk(
        spark, p1, queries, k=10, n_probe=4).collect()))
    # reference: same half-trained params, bulk-assigned over ALL rows
    p2 = str(tmp_path / "bulk")
    q = quantizer._load_quantizer(spark, p1)
    books = similarity._load_codebooks(spark, p1)
    similarity._ivfpq_append_cells(embeddings, q, books, False,
                                   p2 + "/cells", "overwrite")
    for d in ("centroids", "codebooks", "meta"):
        shutil.copytree(p1 + "/" + d, p2 + "/" + d)
    want = sorted(map(tuple, similarity.ivfpq_probe_topk(
        spark, p2, queries, k=10, n_probe=4).collect()))
    assert got == want
    # untrained append is refused loudly
    with pytest.raises(ValueError, match="untrained"):
        similarity.ivfpq_index_append(spark, str(tmp_path / "none"), rest)


def test_ivfpq_residual_mode_recall_and_determinism(spark, embeddings,
                                                    tmp_path):
    """Residual encoding (the full FAISS IVFPQ): recall holds at the
    same floor as the raw-code index, rebuilds are deterministic, the
    meta flag round-trips, and residual codes reconstruct the corpus
    STRICTLY better than raw codes from the same budget (the point of
    encoding x − centroid[cell])."""
    import numpy as np
    path = str(tmp_path / "res")
    similarity.build_ivfpq_index(embeddings, path, n_cells=8,
                                 residual=True)
    assert similarity._load_ivfpq_residual(spark, path) is True
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings, queries, k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    found = {(r.query_id, r.neighbor_id)
             for r in similarity.ivfpq_probe_topk(
                 spark, path, queries, k=10, n_probe=6,
                 rerank=100).collect()
             if r.query_id != r.neighbor_id}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"residual IVF-PQ recall {recall}"
    # deterministic rebuild
    path2 = str(tmp_path / "res2")
    similarity.build_ivfpq_index(embeddings, path2, n_cells=8,
                                 residual=True)
    a = sorted(map(tuple, similarity.ivfpq_probe_topk(
        spark, path, queries, k=10, n_probe=4).collect()))
    b = sorted(map(tuple, similarity.ivfpq_probe_topk(
        spark, path2, queries, k=10, n_probe=4).collect()))
    assert a == b
    # reconstruction: residual codes beat raw codes at equal budget
    raw_path = str(tmp_path / "raw")
    similarity.build_ivfpq_index(embeddings, raw_path, n_cells=8,
                                 residual=False)

    def recon_mse(p, residual):
        cents = quantizer._load_quantizer(spark, p).centroids
        books = similarity._load_codebooks(spark, p)
        m, _, sub = books.shape
        rows = spark.read.parquet(p + "/cells") \
            .select("cell", "codes", "embedding").collect()
        errs = []
        for r in rows:
            x = np.array(r.embedding)
            dec = np.concatenate([books[j, r.codes[j]] for j in range(m)])
            if residual:
                dec = dec + cents[r.cell]
            errs.append(((x - dec) ** 2).mean())
        return float(np.mean(errs))

    assert recon_mse(path, True) < recon_mse(raw_path, False), \
        "residual codes must reconstruct better than raw codes"


@pytest.mark.parametrize("sized", [624, 2048])
def test_pq_train_sample_sizing_rule(spark, sized):
    """The FAISS ≥39-points-per-centroid training rule is real on this
    kernel: on a 10×-fixture-scale clustered corpus, codebooks trained
    with the sized sample reconstruct strictly better (lower mean MSE)
    than the fixture default of 256 — the measured basis for
    similarity.recommended_train_sample (SCALING.md)."""
    import numpy as np
    assert similarity.recommended_train_sample(16) == 624
    rng = np.random.RandomState(7)
    centers = rng.randn(32, 64) * 3
    x = np.vstack([c + rng.randn(160, 64) for c in centers])
    df = spark.createDataFrame(
        [(int(i), 0, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, label int, embedding array<double>") \
        .localCheckpoint(eager=True)

    def mean_mse(ts):
        return (similarity.product_quantize(df, m=8, k_codes=16,
                                            train_sample=ts)
                .agg(F.avg("recon_mse")).first()[0])

    assert mean_mse(sized) < mean_mse(256) * 0.95, \
        "sized training sample must reconstruct measurably better"


def test_two_level_blocking_recall_on_planted_pairs(spark):
    """The r7 two-level quantizer path (n_cells >= IVF_TWO_LEVEL_MIN_CELLS
    — corpus-proportional cells, super→sub chained assignment) must
    behave like the flat path where it matters: planted near-dup twins
    (base vector + tiny perturbation) are recovered with high recall,
    reported sims are exact (rerank is exact in both paths), and no
    false pair appears. 6k vectors × occupancy 64 → ~94 cells, well
    past the switch."""
    import numpy as np

    from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
        IVF_TWO_LEVEL_MIN_CELLS)
    rng = np.random.default_rng(11)
    dims, n_base, n_twins = 16, 6000, 120
    base = rng.normal(size=(n_base, dims))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)]
    # twins: tiny perturbation -> cosine ~0.999, planted as ids 100k+
    twin_ids = rng.choice(n_base, size=n_twins, replace=False)
    for j, src in enumerate(twin_ids):
        v = base[src] + rng.normal(scale=1e-3, size=dims)
        rows.append((100_000 + int(src), [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_blocked_near_dup(emb, threshold=0.99)
    got = {(r.vec_id_a, r.vec_id_b) for r in pairs.collect()}
    # auto rule must have chosen the two-level path at this size
    assert (n_base + n_twins) / 64 >= IVF_TWO_LEVEL_MIN_CELLS
    planted = {(int(s), 100_000 + int(s)) for s in twin_ids}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, f"two-level recall {recall}"
    # precision: anything reported must truly clear the threshold
    # (exact rerank) — verify against numpy on a sample
    allv = {i: np.array(v) for i, v in rows}
    for a, b in list(got)[:200]:
        va, vb = allv[a], allv[b]
        sim = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert round(sim, 6) >= 0.99 or np.isnan(sim), (a, b, sim)


def test_margin_bitext_planted_pair_and_hub_suppression(spark):
    """Margin mining must (a) mine a planted near-parallel pair at
    rank 1 with the batch's top margin, and (b) score a HUB vector
    (near everything on the target side) lower than the planted pair
    despite a comparable raw cosine — the whole point of the margin
    criterion vs absolute-threshold mining."""
    import numpy as np

    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        margin_bitext_pairs)
    rng = np.random.default_rng(5)
    dims = 16
    rows = []
    # background: 40 random vectors per side (label 0 = src, 1 = tgt)
    for i in range(40):
        rows.append((i * 2, [float(x) for x in rng.normal(size=dims)], 0))
        rows.append((i * 2 + 1,
                     [float(x) for x in rng.normal(size=dims)], 1))
    # planted parallel pair: tgt = src + tiny noise
    src = rng.normal(size=dims)
    rows.append((1000, [float(x) for x in src], 0))
    rows.append((1001, [float(x) for x in
                        src + rng.normal(scale=1e-2, size=dims)], 1))
    # hub: a target vector equal to the MEAN direction — relatively
    # close to many sources at once, so its neighborhood average is
    # high and its margins deflate
    hub = np.stack([r[1] for r in rows if r[2] == 0]).mean(axis=0)
    rows.append((2001, [float(x) for x in hub * 3], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    mined = margin_bitext_pairs(emb, k=4, threshold=1.0).collect()
    assert mined, "mining must return pairs"
    by_margin = sorted(mined, key=lambda r: -r["margin"])
    top = by_margin[0]
    assert (top["src_id"], top["tgt_id"]) == (1000, 1001), \
        "planted parallel pair must carry the batch's top margin"
    assert top["rank"] == 1
    # every mined pair involving the hub must margin below the planted
    hub_margins = [r["margin"] for r in mined if r["tgt_id"] == 2001]
    assert all(m < top["margin"] for m in hub_margins)


def test_margin_bitext_direction_strategies(spark, embeddings):
    """Artetxe & Schwenk §3.2 candidate algebra on the exact miner:
    intersection ⊆ forward and ⊆ backward; max = forward ∪ backward;
    forward matches the default; an unknown direction fails fast."""
    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        margin_bitext_pairs)

    def pairs(direction):
        return {(r["src_id"], r["tgt_id"]) for r in
                margin_bitext_pairs(embeddings,
                                    direction=direction).collect()}

    fwd, bwd = pairs("forward"), pairs("backward")
    inter, mx = pairs("intersection"), pairs("max")
    assert inter <= fwd and inter <= bwd
    assert mx == fwd | bwd
    assert pairs("forward") == {
        (r["src_id"], r["tgt_id"])
        for r in margin_bitext_pairs(embeddings).collect()}
    with pytest.raises(ValueError, match="direction"):
        margin_bitext_pairs(embeddings, direction="sideways")
    with pytest.raises(ValueError, match="direction"):
        similarity.margin_bitext_pairs_ann(embeddings,
                                           direction="sideways")


def test_margin_bitext_ann_planted_recall(spark):
    """The ANN-fed miner (per-side IVF shortlists — the 100 TB shape)
    must recover ≥0.95 of planted parallel pairs: a near-identical
    cross-side twin lands in the same trained cell as its query with
    n_probe slack, so shortlist recall concentrates exactly where
    mining precision matters. Margins only need the pair to clear the
    threshold — shortlist neighborhood averages are ≤ the exact ones
    (a shortlist misses only high sims), so an exact-mined planted
    pair can't margin BELOW threshold under ANN."""
    import numpy as np

    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        margin_bitext_pairs, margin_bitext_pairs_ann)
    rng = np.random.default_rng(11)
    dims = 16
    rows = []
    # background: 400 random vectors per side (label 0 = src, 1 = tgt)
    for i in range(400):
        rows.append((i * 2, [float(x) for x in rng.normal(size=dims)], 0))
        rows.append((i * 2 + 1,
                     [float(x) for x in rng.normal(size=dims)], 1))
    # 60 planted parallel pairs: tgt = src + tiny noise
    planted = set()
    for j in range(60):
        src = rng.normal(size=dims)
        sid, tid = 10_000 + j * 2, 10_001 + j * 2
        rows.append((sid, [float(x) for x in src], 0))
        rows.append((tid, [float(x) for x in
                           src + rng.normal(scale=1e-2, size=dims)], 1))
        planted.add((sid, tid))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    exact = {(r["src_id"], r["tgt_id"])
             for r in margin_bitext_pairs(emb).collect()}
    assert planted <= exact, "exact mining must find every planted pair"
    ann = {(r["src_id"], r["tgt_id"])
           for r in margin_bitext_pairs_ann(emb).collect()}
    recall = len(ann & planted) / len(planted)
    assert recall >= 0.95, f"ANN planted-pair recall {recall}"


def test_margin_bitext_ann_no_cross_join(spark, embeddings):
    """The whole point of the ANN form: the A×B product must never
    appear — no CartesianProduct, no BroadcastNestedLoopJoin anywhere
    in the plan (the exact form's over-cap fallback IS a cross join;
    the ANN form replaces it)."""
    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        margin_bitext_pairs_ann)
    plan = (margin_bitext_pairs_ann(embeddings)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Two-level coarse quantizer for the IVF/IVF-PQ index family (r8):
# n_cells >= IVF_TWO_LEVEL_MIN_CELLS trains on a bounded driver sample
# and assigns via two chained matmuls — O(n·sqrt(n_cells)) instead of
# the flat trainer's O(n·n_cells) per Lloyd round. The flat path (all
# oracle SFs, default n_cells=16) is byte-untouched.
# ---------------------------------------------------------------------------


def test_ivf_two_level_planted_recall(spark, big_emb):
    """Approximate recall through the two-level quantizer: a query's
    planted near-twin (same cluster, tiny offset) must be retrieved at
    rank 1 for >=95% of queries — the twin lands in the same cell via
    the same deterministic assignment."""
    import numpy as np
    rng = np.random.default_rng(9)
    base = {r["vec_id"]: r["embedding"]
            for r in big_emb.where("vec_id < 40").collect()}
    rows = [(100_000 + i, [float(x + rng.normal(scale=1e-3))
                           for x in v]) for i, v in base.items()]
    twins = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    corpus = big_emb.unionByName(twins)
    got = similarity.ivf_topk(corpus, twins, k=1, n_cells=64).collect()
    hits = sum(1 for r in got
               if r["rank"] == 1
               and r["neighbor_id"] == r["query_id"] - 100_000)
    assert hits / len(rows) >= 0.95, hits


def test_ivfpq_two_level_append_probe_lockstep(spark, big_emb,
                                               tmp_path):
    """FAISS add-after-train through the gate: an IVF-PQ index built
    on half the corpus then appended with the other half probes
    IDENTICALLY to one built on the full corpus with the same
    parameters trained on the same half (train-set determinism:
    quantizer + codebooks come from the half both flows share)."""
    half = big_emb.where("vec_id % 2 = 0")
    rest = big_emb.where("vec_id % 2 = 1")
    queries = big_emb.where("vec_id < 6")
    p1 = str(tmp_path / "full")
    # build on half, append rest — the production loop
    similarity.build_ivfpq_index(half, p1, n_cells=64, residual=True)
    assert quantizer._load_quantizer(spark, p1).two_level
    similarity.ivfpq_index_append(spark, p1, rest)
    got1 = {tuple(r) for r in similarity.ivfpq_probe_topk(
        spark, p1, queries, k=5).collect()}
    # rebuild from scratch with the SAME params (trained on the half —
    # _train_ivfpq_params is deterministic given the training frame)
    p2 = str(tmp_path / "re")
    q, books = similarity._train_ivfpq_params(
        half, 64, 2, 8, 16, 256, 8, True)
    similarity._ivfpq_append_cells(big_emb, q, books, True,
                                   p2 + "/cells", "overwrite")
    similarity._write_ivfpq_params(spark, p2, q, books, True)
    got2 = {tuple(r) for r in similarity.ivfpq_probe_topk(
        spark, p2, queries, k=5).collect()}
    assert got1 == got2


def test_two_level_rebuild_crash_reads_untrained(spark, big_emb,
                                                 tmp_path):
    """Rebuild-in-place crash contract: the centroid table is the
    commit marker (deleted first, written last), so a crash at ANY
    point before the final centroids write — including after the new
    supers landed — leaves no centroid table and reads as UNTRAINED,
    never as a mixed-generation quantizer."""
    import shutil
    q_old = quantizer._train_quantizer(big_emb, 64, 2)
    path = str(tmp_path / "idx")
    quantizer._write_centroid_tables(spark, path, q_old)
    assert quantizer._load_quantizer(spark, path).two_level
    # simulate the rebuild crashing right after the new supers write:
    # commit-marker order = rmtree(centroids) -> write supers -> CRASH
    q_new = quantizer._train_quantizer(
        big_emb.where("vec_id % 3 = 0"), 64, 2)
    shutil.rmtree(path + "/centroids")
    (spark.createDataFrame(
        [(s, [float(x) for x in q_new.super_cents[s]])
         for s in range(len(q_new.super_cents))],
        "super int, centroid array<double>")
     .write.mode("overwrite").parquet(path + "/supers"))
    assert quantizer._load_quantizer(spark, path) is None
    # recovery: a completed rebuild over the crashed state loads clean
    quantizer._write_centroid_tables(spark, path, q_new)
    r = quantizer._load_quantizer(spark, path)
    assert r.two_level and r.offsets == q_new.offsets


def test_margin_bitext_indexed_equals_inline(spark, embeddings,
                                             tmp_path):
    """Persisted-index margin mining (build-once / mine-many) must be
    bit-identical to the inline ANN miner at the same parameters: the
    quantizer roundtrips exactly and the probe shares the inline
    search's assignment/scoring kernels. Also: no cross join in the
    plan, and the direction strategies compose the same way."""
    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        build_ivf_index, margin_bitext_pairs_ann,
        margin_bitext_pairs_indexed)
    a = embeddings.where(F.col("label") % 2 == 0).select(
        "vec_id", "embedding")
    b = embeddings.where(F.col("label") % 2 == 1).select(
        "vec_id", "embedding")
    build_ivf_index(a, str(tmp_path / "src"), n_cells=16)
    build_ivf_index(b, str(tmp_path / "tgt"), n_cells=16)
    for direction in ("forward", "intersection"):
        inline = {tuple(r) for r in margin_bitext_pairs_ann(
            embeddings, n_cells=16, direction=direction).collect()}
        indexed = {tuple(r) for r in margin_bitext_pairs_indexed(
            spark, str(tmp_path / "src"), str(tmp_path / "tgt"),
            direction=direction).collect()}
        assert inline == indexed, direction
    plan = (margin_bitext_pairs_indexed(
        spark, str(tmp_path / "src"), str(tmp_path / "tgt"))
        ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_margin_bitext_indexed_mine_many_after_append(spark, embeddings,
                                                      tmp_path):
    """The production loop end-to-end: build per-side indexes, mine,
    APPEND a new target batch (ivf_index_append — no retrain), mine
    again. The second run must (a) retrieve pairs involving the new
    vectors, and (b) equal a single mine over indexes built with the
    same quantizers on the full data (add-after-train contract)."""
    import numpy as np

    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        build_ivf_index, ivf_index_append, margin_bitext_pairs_indexed)
    a = embeddings.where(F.col("label") % 2 == 0).select(
        "vec_id", "embedding")
    b = embeddings.where(F.col("label") % 2 == 1).select(
        "vec_id", "embedding")
    build_ivf_index(a, str(tmp_path / "src"), n_cells=16)
    build_ivf_index(b, str(tmp_path / "tgt"), n_cells=16)
    first = {(r["src_id"], r["tgt_id"]) for r in
             margin_bitext_pairs_indexed(
                 spark, str(tmp_path / "src"),
                 str(tmp_path / "tgt")).collect()}
    # new target batch: near-twins of 20 source vectors — each should
    # be minable after the append
    rng = np.random.default_rng(4)
    src_rows = {r["vec_id"]: r["embedding"]
                for r in a.orderBy("vec_id").limit(20).collect()}
    twins = spark.createDataFrame(
        [(100_000 + i, [float(x + rng.normal(scale=1e-3)) for x in v])
         for i, v in src_rows.items()],
        "vec_id long, embedding array<double>")
    ivf_index_append(spark, str(tmp_path / "tgt"), twins)
    second = {(r["src_id"], r["tgt_id"]) for r in
              margin_bitext_pairs_indexed(
                  spark, str(tmp_path / "src"),
                  str(tmp_path / "tgt")).collect()}
    planted = {(i, 100_000 + i) for i in src_rows}
    found = len(second & planted) / len(planted)
    assert found >= 0.95, f"appended twins minable: {found}"
    # pairs that predate the append and don't involve displaced
    # shortlist slots generally persist; at minimum the run is a
    # superset on the planted axis and non-empty on the old axis
    assert first and second
