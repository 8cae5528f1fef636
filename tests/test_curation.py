"""Property tests for the corpus-curation operators beyond the oracle
hash-match: cluster-assignment invariants, scrub idempotency, filter
monotonicity, and sampling determinism."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload, registry
from s3_elasticsearch_data_pipeline_spark.operators import dedup, text
from s3_elasticsearch_data_pipeline_spark.tables import load_table


def test_connected_components_pair_consistency(spark, sf_oracle):
    """Every near-dup pair must land in the same cluster, and every
    cluster_id must be the minimum doc_id of its own cluster."""
    docs = load_table(spark, sf_oracle, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    labels = dedup.connected_components(pairs)
    a = labels.select(F.col("doc_id").alias("doc_id_a"),
                      F.col("cluster_id").alias("ca"))
    b = labels.select(F.col("doc_id").alias("doc_id_b"),
                      F.col("cluster_id").alias("cb"))
    split = (pairs.join(a, "doc_id_a").join(b, "doc_id_b")
             .where(F.col("ca") != F.col("cb")).count())
    assert split == 0, f"{split} pairs split across clusters"
    bad_roots = (labels.groupBy("cluster_id")
                 .agg(F.min("doc_id").alias("mn"))
                 .where(F.col("cluster_id") != F.col("mn")).count())
    assert bad_roots == 0, "cluster_id is not the min doc_id of the cluster"


def test_connected_components_empty_pairs(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents")
    no_pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=1.1)
    assert dedup.connected_components(no_pairs).count() == 0


def test_pii_scrub_idempotent_and_clean(spark, sf_oracle):
    """After one scrub pass, a second pass finds nothing to redact."""
    docs = (load_table(spark, sf_oracle, "documents")
            .limit(200)
            .select("doc_id",
                    F.concat(F.col("text"),
                             F.lit(" mail to a.b-c_d@sub.example.org or"
                                   " call 4155550123456"))
                    .alias("text")))
    once = text.pii_scrub(docs)
    assert once.where(F.col("n_redactions") < 2).count() == 0
    again = text.pii_scrub(
        once.select("doc_id", F.col("clean_text").alias("text")))
    assert again.where(F.col("n_redactions") > 0).count() == 0
    diff = (once.select("doc_id", F.col("clean_text").alias("t1"))
            .join(again.select("doc_id", F.col("clean_text").alias("t2")),
                  "doc_id")
            .where(F.col("t1") != F.col("t2")).count())
    assert diff == 0, "second scrub pass changed already-clean text"


def test_quality_filter_is_subset_and_monotone(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents")
    total = docs.count()
    kept_loose = text.quality_filter(docs, min_quality=0.0)
    kept_tight = text.quality_filter(docs, min_quality=0.6)
    n_loose, n_tight = kept_loose.count(), kept_tight.count()
    assert 0 < n_tight < n_loose <= total
    # tightening the threshold only removes rows, never adds
    extra = kept_tight.join(kept_loose.select("doc_id"), "doc_id",
                            "left_anti").count()
    assert extra == 0


def test_stratified_sample_deterministic_and_stratified(spark, sf_oracle):
    q = registry.queries()["stratified_sample"]
    r1 = {r["doc_id"] for r in q(spark, sf_oracle).collect()}
    r2 = {r["doc_id"] for r in q(spark, sf_oracle).collect()}
    assert r1 == r2, "hash sampling must be run-invariant"
    docs = load_table(spark, sf_oracle, "documents")
    rates = {r["lang"]: r["n"] for r in
             q(spark, sf_oracle).groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # ~10% of en, ~50% elsewhere — generous bounds, just the ordering
    assert rates["en"] / totals["en"] < 0.25
    assert rates["de"] / totals["de"] > 0.3


def test_vocab_and_idf_consistency(spark, sf_oracle):
    """doc_freq in the vocab head must agree with the IDF table."""
    docs = load_table(spark, sf_oracle, "documents")
    vocab = text.vocab_top_terms(docs, k=25)
    idf = text.idf_table(docs)
    mismatch = (vocab.select("term", "doc_freq")
                .join(idf.select("term",
                                 F.col("doc_freq").alias("df2")), "term")
                .where(F.col("doc_freq") != F.col("df2")).count())
    assert mismatch == 0
    n_docs = docs.count()
    bad = idf.where((F.col("doc_freq") > n_docs)
                    | (F.col("idf") < 0)).count()
    assert bad == 0


def test_new_ops_empty_input_guards(spark):
    """Degenerate inputs: the round-1 additions must return empty
    frames with the right schema, not throw."""
    from s3_elasticsearch_data_pipeline_spark.operators import (
        analytics, dedup, text)
    from s3_elasticsearch_data_pipeline_spark.operators.graph import pagerank
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        scd2_history)

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long")
    events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string")
    edges = spark.createDataFrame([], "src string, dst string")
    embs = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")

    assert text.repetition_scores(docs).count() == 0
    assert text.contamination_overlap(docs).count() == 0
    assert analytics.zscore_outliers(events).count() == 0
    assert scd2_history(events).count() == 0
    assert pagerank(edges).count() == 0
    assert dedup.embedding_blocked_near_dup(embs).count() == 0


def test_prefix_sums_partition_invariant(spark, sf_smoke):
    """The two-phase scan must be a pure function of the order key —
    identical output at any partition count, matching a serial scan."""
    import os
    from s3_elasticsearch_data_pipeline_spark.operators.packing import (
        prefix_sums)
    docs = spark.read.parquet(os.path.join(sf_smoke, "documents.parquet"))
    base = docs.select("doc_id", "n_chars")
    serial = {r["doc_id"]: r["cum"] for r in
              prefix_sums(base, "doc_id", "n_chars", n_parts=1).collect()}
    wide = {r["doc_id"]: r["cum"] for r in
            prefix_sums(base, "doc_id", "n_chars", n_parts=7).collect()}
    assert serial == wide
    rows = sorted(serial.items())
    total = base.agg(F.sum("n_chars")).first()[0]
    assert rows[-1][1] == total


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

GRAPHS = st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                  min_size=1, max_size=40).map(
    lambda es: [(a, b) for a, b in es if a != b])


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=GRAPHS)
@pytest.mark.slow
def test_star_cc_equals_label_propagation(spark, edges):
    """large-star/small-star must reach the same fixpoint as min-label
    propagation on arbitrary graphs (paths, cliques, forests...)."""
    from s3_elasticsearch_data_pipeline_spark.operators import dedup
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    # a zero DRIVER_CC_MAX_PAIRS pins the DISTRIBUTED paths; the default
    # call takes the driver union-find — all three must agree.
    with pytest.MonkeyPatch.context() as m:
        m.setattr(offload, "DRIVER_CC_MAX_PAIRS", 0)
        a = {(r.doc_id, r.cluster_id)
             for r in dedup.connected_components(df).collect()}
        b = {(r.doc_id, r.cluster_id)
             for r in dedup.connected_components_star(df).collect()}
    c = {(r.doc_id, r.cluster_id)
         for r in dedup.connected_components(df).collect()}
    d = {(r.doc_id, r.cluster_id)
         for r in dedup.connected_components_star(df).collect()}
    assert a == b == c == d


def test_cc_self_pair_semantics_match_across_paths(spark, monkeypatch):
    """Self-pairs are where the two variants intentionally differ —
    plain propagation keeps a self-pair-only node as its own singleton
    cluster, star drops it — and the GRAPHS strategy above filters
    a != b, so pin the contract here on BOTH physical paths."""
    from s3_elasticsearch_data_pipeline_spark.operators import dedup
    df = spark.createDataFrame([(1, 1), (2, 3), (3, 3)],
                               "doc_id_a long, doc_id_b long")
    plain = {(1, 1), (2, 2), (3, 2)}
    star = {(2, 2), (3, 2)}
    for cap in (0, 10**6):  # distributed vs driver union-find
        monkeypatch.setattr(offload, "DRIVER_CC_MAX_PAIRS", cap)
        got_p = {(r.doc_id, r.cluster_id)
                 for r in dedup.connected_components(df).collect()}
        got_s = {(r.doc_id, r.cluster_id)
                 for r in dedup.connected_components_star(df).collect()}
        assert got_p == plain, (cap, got_p)
        assert got_s == star, (cap, got_s)


def test_dataset_shuffle_positions_are_dense_permutations(spark, sf_oracle):
    """Within every shard the positions must be exactly 0..n-1 (dense,
    no gaps/dupes) — the property a sharded training-set writer relies
    on — and assignment must be reproducible across partitionings."""
    import pyspark.sql.functions as F

    from s3_elasticsearch_data_pipeline_spark.operators.text import (
        dataset_shuffle)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_oracle, "documents")
    out = dataset_shuffle(docs)
    stats = (out.groupBy("shard")
             .agg(F.count(F.lit(1)).alias("n"), F.min("pos").alias("lo"),
                  F.max("pos").alias("hi"),
                  F.count_distinct("pos").alias("n_distinct"))
             .collect())
    assert stats
    for r in stats:
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1
        assert r["n_distinct"] == r["n"]
    again = dataset_shuffle(docs.repartition(7))
    assert out.exceptAll(again).count() == 0


def test_dataset_mixture_rates_are_monotone_and_exact_at_bounds(
        spark, sf_oracle):
    """Weight 1.0 keeps every document of the source, weight 0.0 keeps
    none, and a higher weight never keeps fewer documents."""
    from s3_elasticsearch_data_pipeline_spark.operators.text import (
        dataset_mixture)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    docs = load_table(spark, sf_oracle, "documents")
    total_src1 = docs.where("source = 'src1'").count()

    def kept(w: float) -> int:
        out = dataset_mixture(docs, weights={"src1": w}, default_weight=0.0)
        return out.where("source = 'src1'").count()

    assert kept(1.0) == total_src1
    assert kept(0.0) == 0
    counts = [kept(w) for w in (0.1, 0.3, 0.5, 0.8)]
    assert counts == sorted(counts), counts


def test_ngram_prefix_filter_exact_under_hot_shingle_skew(spark):
    """Positional prefix filter (round-2): on a fixture where every doc
    shares one boilerplate shingle (the hot-skew killer), the prefix
    index must generate far fewer candidates than the full inverted
    index — and the surviving pairs must be IDENTICAL (the filter is
    exact at any threshold)."""
    boiler = "copyright example corp all rights reserved "
    rows = []
    for i in range(60):
        # distinct bodies + shared boilerplate; 3 true near-dup pairs
        body = f"doc {i} unique words alpha{i} beta{i} gamma{i} delta{i}"
        rows.append((2 * i, boiler + body))
        if i < 3:
            rows.append((2 * i + 1, boiler + body + " extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("lang", F.lit("en"))
    sh = dedup._shingle_docs(docs, 3, "lang").localCheckpoint(eager=True)
    n_all = dedup._all_pairs_candidates(sh).count()
    n_pref = dedup._prefix_candidates(sh, 0.5).count()
    assert n_pref < n_all / 4, (n_pref, n_all)
    exact = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, prefix_filter=False).collect()))
    pref = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, prefix_filter=True).collect()))
    assert pref == exact and len(pref) >= 3


def test_incremental_lsh_dedup_drops_near_copies(spark):
    """A batch doc that is a near-copy of a corpus doc must be dropped;
    novel batch docs must survive (batch = doc_id % 3 == 0)."""
    _incremental_lsh_fixture_case(spark, "xxhash64")


def test_incremental_lsh_dedup_portable_mode_same_admissions(spark):
    """hash_mode="portable" (what the registry runs so the DuckDB twin
    can replay the admission decision) makes the same drop/admit calls
    as the xxhash64 scale default on far-from-threshold copies — the
    same equivalence contract minhash_lsh_pairs carries."""
    _incremental_lsh_fixture_case(spark, "portable")


def _incremental_lsh_fixture_case(spark, hash_mode):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    rows = [
        (1, base, "en"),                          # corpus
        (3, base + " indeed", "en"),              # batch: near-copy → drop
        (6, "completely different words about spark shuffles "
            "and partitions and codegen stages here", "en"),  # batch: novel
        (2, "another unrelated corpus document with its own "
            "vocabulary entirely separate from others", "en"),  # corpus
        (9, "третий свежий документ на другом языке чтобы не "
            "совпадать ни с чем в корпусе вообще никак", "ru"),  # batch: novel
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"] for r in
           dedup.incremental_lsh_dedup(docs, batch_mod=3,
                                       hash_mode=hash_mode).collect()}
    assert 3 not in out, "near-copy of corpus doc 1 must be dropped"
    assert {6, 9} <= out, "novel batch docs must survive"
    assert out <= {0, 3, 6, 9}  # only batch ids can appear


def test_incremental_lsh_dedup_partition_of_batch(spark, sf_oracle):
    """Survivors are a subset of the batch and the operator is
    deterministic across runs."""
    docs = load_table(spark, sf_oracle, "documents")
    a = {r["doc_id"] for r in
         dedup.incremental_lsh_dedup(docs).collect()}
    b = {r["doc_id"] for r in
         dedup.incremental_lsh_dedup(docs).collect()}
    assert a == b
    batch_ids = {r["doc_id"] for r in
                 docs.where("doc_id % 3 = 0").select("doc_id").collect()}
    assert a <= batch_ids and a


def test_containment_catches_embedded_eval_doc(spark):
    """An eval doc fully embedded in a larger train doc must score
    containment 1.0 even though its Jaccard vs the train doc is low —
    the asymmetry this operator exists for."""
    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    train_text = (eval_text + " " + " ".join(f"filler{i}" for i in range(60)))
    docs = spark.createDataFrame(
        [(10, eval_text, "en"), (11, train_text, "en"),
         (12, "unrelated words entirely different content here okay", "en")],
        "doc_id long, text string, lang string")
    out = dedup.containment_decontamination(docs, threshold=0.9).collect()
    assert [(r["eval_doc"], r["train_doc"]) for r in out] == [(10, 11)]
    assert out[0]["containment"] == 1.0
    # symmetric Jaccard would have missed it at the same threshold
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert not any({r["doc_id_a"], r["doc_id_b"]} == {10, 11} for r in jac)


@pytest.mark.slow
def test_ngram_prefix_equivalence_fuzz(spark):
    """Seeded random corpora: the prefix-filtered candidate path must
    produce byte-identical pairs to the full inverted index at several
    thresholds — the exactness theorem, fuzzed."""
    import random
    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(4):
        rows = []
        for doc_id in range(40):
            length = rng.randint(3, 25)
            words = [rng.choice(vocab) for _ in range(length)]
            if rng.random() < 0.4:  # inject shared boilerplate
                words = ["common", "prefix", "text"] + words
            rows.append((doc_id, " ".join(words),
                         rng.choice(["en", "fr"])))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string")
        for t in (0.3, 0.5, 0.8):
            a = sorted(map(tuple, dedup.ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=True).collect()))
            b = sorted(map(tuple, dedup.ngram_jaccard_pairs(
                docs, threshold=t, prefix_filter=False).collect()))
            assert a == b, f"trial {trial} t={t}: {a} != {b}"


def test_duplicate_spans_seeded_fixture(spark):
    """ExactSubstr-style span stats on a constructed corpus: a 10-token
    run shared verbatim by two docs must flag BOTH with exact span and
    coverage counts; unrelated docs and short docs report zeros."""
    shared = " ".join(f"s{i}" for i in range(10))      # one shared span
    rows = [
        # doc 0: 12 tokens, shared run at positions 2..11 → 3 spans
        # total, 1 duplicated, 10 covered tokens
        (0, "a b " + shared, "en"),
        # doc 1: exactly the shared run → 1 span, duplicated, 10/10
        (1, shared, "en"),
        # doc 2: 12 unique tokens → spans but none duplicated
        (2, " ".join(f"u{i}" for i in range(12)), "en"),
        # doc 3: too short to span
        (3, "tiny doc", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in dedup.duplicate_spans(docs, k=10).collect()}
    assert (out[0]["n_spans"], out[0]["n_dup_spans"],
            out[0]["n_dup_tokens"]) == (3, 1, 10)
    assert out[0]["dup_token_ratio"] == 0.833333       # 10/12
    assert (out[1]["n_spans"], out[1]["n_dup_spans"],
            out[1]["n_dup_tokens"], out[1]["dup_token_ratio"]) == \
        (1, 1, 10, 1.0)
    assert (out[2]["n_dup_spans"], out[2]["n_dup_tokens"]) == (0, 0)
    assert (out[3]["n_spans"], out[3]["n_dup_spans"],
            out[3]["dup_token_ratio"]) == (0, 0, 0.0)
    # within-doc repetition alone is NOT cross-doc duplication
    solo = spark.createDataFrame(
        [(9, " ".join(["r"] * 25), "en")], "doc_id long, text string, lang string")
    r = dedup.duplicate_spans(solo, k=10).collect()[0]
    assert r["n_dup_spans"] == 0


def test_incremental_semantic_dedup_contract(spark, sf_oracle):
    """Semantic dedup-at-ingest (r7): survivors are a deterministic
    subset of the batch; a planted exact copy of a corpus vector is
    dropped (cosine 1.0 in whatever cell it lands — multi-assign
    guarantees it shares the corpus twin's nearest cell since both
    assign identically); an empty prior corpus admits everything."""
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    emb = load_table(spark, sf_oracle, "embeddings")
    batch_ids = {r["vec_id"] for r in
                 emb.where("vec_id % 3 = 0").select("vec_id").collect()}
    a = {r["vec_id"] for r in
         dedup.incremental_semantic_dedup(emb).collect()}
    b = {r["vec_id"] for r in
         dedup.incremental_semantic_dedup(emb).collect()}
    assert a == b, "must be deterministic across runs"
    assert a <= batch_ids and a

    # plant: copy corpus vector 1 (1 % 3 != 0 -> corpus side) into the
    # batch under id 999_999 (999999 % 3 == 0 -> batch side)
    src = emb.where("vec_id = 1").select("embedding").first()
    planted = spark.createDataFrame(
        [(999_999, list(src["embedding"]))],
        "vec_id long, embedding array<double>")
    emb2 = emb.select("vec_id", "embedding").unionByName(planted)
    out = {r["vec_id"] for r in
           dedup.incremental_semantic_dedup(emb2).collect()}
    assert 999_999 not in out, "exact copy of a corpus vector must drop"

    # empty corpus: everything is novel
    only_batch = emb.where("vec_id % 3 = 0")
    out2 = {r["vec_id"] for r in
            dedup.incremental_semantic_dedup(only_batch).collect()}
    assert out2 == batch_ids


def _ref_maximal_spans(texts: dict, min_len: int = 10):
    """Pure-Python suffix-array reference for duplicate_spans_maximal:
    sort all suffixes, adjacent LCPs, dup_len = max neighbor LCP,
    merge [pos, pos+dup_len) intervals per doc."""
    sufs = sorted(((t.split()[p:], d, p) for d, t in texts.items()
                   for p in range(len(t.split()))),
                  key=lambda x: x[0])

    def lcp(a, b):
        m = min(len(a), len(b))
        i = 0
        while i < m and a[i] == b[i]:
            i += 1
        return i

    lcps = [lcp(sufs[i][0], sufs[i + 1][0])
            for i in range(len(sufs) - 1)]
    by_doc: dict = {}
    for i, (_, d, p) in enumerate(sufs):
        dl = max(lcps[i - 1] if i > 0 else 0,
                 lcps[i] if i < len(sufs) - 1 else 0)
        if dl >= min_len:
            by_doc.setdefault(d, []).append((p, p + dl))
    out = []
    for d, iv in by_doc.items():
        iv.sort()
        cs, ce = iv[0]
        for s, e in iv[1:]:
            if s > ce:
                out.append((d, cs, ce - cs))
                cs, ce = s, e
            else:
                ce = max(ce, e)
        out.append((d, cs, ce - cs))
    return sorted(out)


@pytest.mark.slow
def test_maximal_spans_matches_suffix_array_reference(spark, sf_smoke):
    """r10 variable-length ExactSubstr: the distributed prefix-
    doubling implementation must EXACTLY match a brute-force Python
    suffix array on the real smoke corpus AND on crafted fixtures
    covering the tricky shapes: overlapping within-doc self-repeats,
    identical whole documents (suffix ties), shared runs at different
    offsets, sub-threshold runs."""
    real = {r["doc_id"]: r["text"] for r in
            load_table(spark, sf_smoke, "documents")
            .select("doc_id", "text").collect()}
    got = sorted(tuple(r) for r in
                 dedup.duplicate_spans_maximal(
                     load_table(spark, sf_smoke, "documents")).collect())
    assert got == _ref_maximal_spans(real)

    run = " ".join(f"d{i}" for i in range(12))
    fixtures = {
        1: "x0 x1 " + run + " y0",            # shared run, offset 2
        2: "z0 " + run + " z1 z2",            # shared run, offset 1
        3: "unrelated words only here",       # no spans
        4: " ".join(["a"] * 12),              # overlapping self-repeat
        5: "",                                # empty
        6: "same same2 " + " ".join(f"q{i}" for i in range(9)),
        7: "same same2 " + " ".join(f"q{i}" for i in range(9)),  # identical twin
        8: " ".join(f"d{i}" for i in range(9)),  # 9-token sub-run (<10)
    }
    docs = spark.createDataFrame(sorted(fixtures.items()),
                                 "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 dedup.duplicate_spans_maximal(docs).collect())
    want = _ref_maximal_spans(fixtures)
    assert got == want
    # identical docs 6/7 are fully covered (tail-clamped, not 12-long)
    assert (6, 0, 11) in got and (7, 0, 11) in got
    # doc 8's 9-token prefix of the shared run is below min_len
    assert not any(d == 8 for d, _, _ in got)


@pytest.mark.slow
def test_maximal_spans_empty_and_partition_invariance(spark):
    from s3_elasticsearch_data_pipeline_spark.operators.dedup import (
        duplicate_spans_maximal)
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = duplicate_spans_maximal(empty)
    assert out.count() == 0
    assert out.columns == ["doc_id", "span_start", "span_len"]
    run = " ".join(f"w{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(i, ("pad%d " % i) + run) for i in range(8)],
        "doc_id long, text string")
    a = sorted(tuple(r) for r in duplicate_spans_maximal(docs).collect())
    b = sorted(tuple(r) for r in
               duplicate_spans_maximal(docs.repartition(13)).collect())
    assert a == b and len(a) == 8


def test_exactsubstr_trim_matches_reference(spark):
    """The trimmer drops EXACTLY the tokens the reference maximal
    spans cover: identical twin docs trim to their last (uncovered)
    token, unrelated docs pass through verbatim, token-less docs get
    zero rows with empty text."""
    from s3_elasticsearch_data_pipeline_spark.operators.dedup import (
        exactsubstr_trim)
    run = " ".join(f"d{i}" for i in range(12))
    fixtures = {
        1: "x0 x1 " + run + " y0",
        2: "z0 " + run + " z1 z2",
        3: "unrelated words only here",
        4: "",
        5: "cc " + " ".join(f"e{i}" for i in range(10)),
        6: "cc " + " ".join(f"e{i}" for i in range(10)),
    }
    docs = spark.createDataFrame(sorted(fixtures.items()),
                                 "doc_id long, text string")
    got = {r["doc_id"]: r for r in exactsubstr_trim(docs).collect()}
    spans = _ref_maximal_spans(fixtures)
    for d, t in fixtures.items():
        toks = t.split()
        covered = set()
        for sd, s, l in spans:
            if sd == d:
                covered.update(range(s, s + l))
        keep = [w for i, w in enumerate(toks) if i not in covered]
        r = got[d]
        assert r["n_tokens"] == len(toks), d
        assert r["n_removed"] == len(covered), d
        assert r["clean_text"] == " ".join(keep), d
    assert got[3]["n_removed"] == 0
    assert got[3]["clean_text"] == fixtures[3]
    assert got[4]["n_tokens"] == 0 and got[4]["clean_text"] == ""
    # the twins share an 11-token prefix span ("cc e0..e9"); the run
    # itself is 11 tokens, so everything is covered on both
    assert got[5]["n_removed"] == 11 and got[5]["clean_text"] == ""
