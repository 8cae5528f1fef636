#!/usr/bin/env python
"""Scale-headroom smoke (not part of the driver contract): replicate
sf0.1 N× with shifted keys into a scratch dir, then time the headline
operator shapes at both scales. Linear-ish scaling (≤ ~N× wall on N×
rows with fixed parallelism) is the evidence that the physical plans
don't hide quadratic or driver-bound steps.

Usage: python bench_scale.py [N]   (default 10)
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from bench import timed_run, warm_up
from s3_elasticsearch_data_pipeline_spark import registry
from s3_elasticsearch_data_pipeline_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_QUERIES = (
    "q1_pricing_summary", "q6_forecast_revenue", "a1_group_count_month",
    "j2_missing_ids", "w_running_totals", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "text_quality_scores",
    "scd2_user_history", "outlier_zscore", "graph_pagerank_trade",
    "contamination_ngram_overlap", "text_repetition_scores",
    "corpus_training_set",
    "corpus_training_set_v2",  # r9: + learned-domain resample stage
    "timeseries_ohlc", "timeseries_cusum", "text_bpe_merge_step",
    "sketch_bloom_filter", "gaps_islands", "session_paths",
    # r10: unigram-LM trainer — the EM rounds run on the chunk-TYPE
    # table (vocab-sized), so the scale axis is the two corpus-sized
    # passes (word-type aggregate + encode join-back)
    "text_unigram_train",
    "market_basket_lift", "markov_transitions", "w_rolling_median",
    "stat_correlation_matrix",
    # r9: the smoke rides the PRODUCTION dedup-at-ingest variant
    # (xxhash64 + auto bucket guard) — same split as the bench headline
    "dedup_incremental_lsh_prod", "sim_topk_pq", "decontamination_containment",
    "ml_quality_classifier", "audio_decode_features",
    "dedup_semantic_apply",
    "video_decode_features",
    "dedup_connected_components", "multimodal_curation",
    "dedup_duplicate_spans",
    # r10: variable-length ExactSubstr — suffix count grows linearly
    # under replication, rounds stay constant (doc lengths unchanged),
    # so work units (suffixes x rounds) scale exactly Nx; measured
    # clean-window 10x wall ratio 2.1 (fixed round overhead amortizes)
    "dedup_duplicate_spans_maximal",
    # r7 additions with a linear production scale axis. sim_margin_bitext
    # is deliberately absent: its full-product form is eval-scale by
    # contract, so scaling the eval side 10x measures the documented
    # quadratic, not the engine. sim_margin_bitext_ann (r8) IS the
    # production shape — per-side IVF shortlists — and must scale.
    "dedup_incremental_semantic", "corpus_domain_mixture",
    "sim_margin_bitext_ann",
    # r9: the mine-only serving shape — per-sf indexes build once in
    # the untimed warm pass (the production build-once/mine-many
    # amortization), the timed reps measure two ivf_probe_topk passes
    # + the margin stage
    "sim_margin_bitext_mine",
)
#: Per-family revisit thresholds derived from the MEASURED 3-point
#: scaling curve (SCALING.md, "Round-8 graph-family 3-point scaling
#: curve", clean window): both graph families' work units grow exactly
#: linearly under replication (unit_exp 1.0 — suppliers/parts
#: unshifted ⇒ degrees densify, units don't explode) and wall-per-unit
#: exponents are NEGATIVE (−0.62 / −0.71), but their clean-window 10×
#: wall ratios (2.38 / 1.94) sit close enough to the blanket 2.5
#: revisit line that ordinary host noise pushes them over every round.
#: Lines = measured clean ratio × ~1.4 noise allowance; a genuine
#: superlinear regression still trips them (and the N×slack failure
#: gate is untouched).
#: text_repetition_scores (SCALING.md, "Round-9 text_repetition_scores
#: 3-point curve", clean window): per-row fold work Σ(distinct×total
#: bigrams) exactly linear (unit_exp 1.0), wall-per-unit −0.6 — the
#: 0.4 s base is fixed overhead, so the clean 10× wall ratio 2.5 is the
#: noise-floor shape, not a plan defect. Line = 2.5 × ~1.4 allowance.
#: sim_margin_bitext_mine (SCALING.md, "Round-10 focused 10x smoke on
#: the optimized families"): the probe-scoring re-shape halved the 1×
#: base (3.85 → 1.63 s) while the 10× wall stayed FLAT vs r9 (7.73 vs
#: 7.76 s — the 10× cost is the probed candidate scan/rerank, which the
#: re-shape also carries, not the fixed per-call overhead the base
#: shed), so the clean-window ratio is now ~4.7 by construction, not by
#: regression. Line = measured 4.7 × ~1.4 allowance; a genuine 10×
#: absolute regression still trips it (4.7 × 1.63 × 1.4 ≈ 10.7 s vs
#: the 7.7 s measured).
FAMILY_REVISIT = {
    "graph_pagerank_trade": 3.4,
    "market_basket_lift": 2.8,
    "text_repetition_scores": 3.5,
    "sim_margin_bitext_mine": 6.6,
}

KEYED = {  # table → key columns to shift per replica (keeps keys unique)
    "lineitem": ("l_orderkey",), "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",), "events": ("event_id", "user_id"),
    "documents": ("doc_id",), "embeddings": ("vec_id",),
}
SHIFT = 10_000_000_000


def replicate(spark, out_dir: str, n: int) -> None:
    for table, keys in KEYED.items():
        src = spark.read.parquet(os.path.join(BASE, f"{table}.parquet"))
        emb_dims = None
        if table == "embeddings":  # replica-invariant: probe once
            row = src.select("embedding").first()
            emb_dims = len(row[0]) if row and row[0] is not None else 0
        parts = []
        for i in range(n):
            df = src
            for k in keys:
                df = df.withColumn(k, F.col(k) + F.lit(i * SHIFT))
            if table == "documents" and i:
                # vary text so dedup stays honest — and make replicas
                # SHINGLE-disjoint (every token suffixed with the
                # replica tag; replica 0 stays byte-identical to base).
                # Plain copy-replication made every doc a near-dup of
                # its N−1 copies, so near-dup/decontamination candidate
                # pairs — and the TRUE contaminated-pair output — grew
                # ~quadratically in N (decontamination measured 5.2×
                # wall on ~100× output rows at N=10). That is a
                # degeneracy of copied test data, not a property of N×
                # organic corpora; disjoint replicas let the smoke
                # measure the engine, with pair growth confined to its
                # real within-replica term.
                df = df.withColumn(
                    "text",
                    F.regexp_replace("text", r"(\S+)", rf"$1r{i}"))
            if table == "embeddings" and i and emb_dims:
                # same honesty rule for vectors: byte-identical replica
                # embeddings would make every vector N−1 exact twins
                # (cosine 1.0), growing semantic-dedup pair output
                # ~quadratically in N — a copied-data degeneracy, not
                # N× organic data. A per-replica ±1 sign pattern keeps
                # every WITHIN-replica dot product bit-identical
                # ((s⊙a)·(s⊙b) = a·b) while cross-replica cosines
                # collapse toward 0, so pair growth stays in its real
                # within-replica term. Replica 0 stays byte-identical.
                import hashlib
                signs = [1.0 if hashlib.md5(f"{i}:{d}".encode())
                         .digest()[0] % 2 else -1.0
                         for d in range(emb_dims)]
                df = df.withColumn(
                    "embedding",
                    F.zip_with("embedding",
                               F.array(*[F.lit(s) for s in signs]),
                               lambda x, s: x * s).cast("array<float>"))
            parts.append(df)
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        union.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{table}.parquet"))
    for table in ("region", "nation", "supplier", "part"):
        src = os.path.join(BASE, f"{table}.parquet")
        dst = os.path.join(out_dir, f"{table}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)


def time_queries(spark, sf_dir: str,
                 names=SCALE_QUERIES, warm: bool = True,
                 reps: int = 2) -> dict[str, float]:
    """Best-of-``reps`` ``bench.timed_run`` per query. The drain is the
    honest scaling probe: a production pipeline lands results in a
    sink, it does not funnel them through driver ``collect()`` — and
    collect's per-Row Python materialization is linear in OUTPUT rows,
    which for row-preserving shapes (windows, SCD2) drowned the engine
    signal entirely (round-2 measured w_running_totals at "6.7×" on 10×
    data; with the drain it is ~1.5×, i.e. the 10× sort/shuffle was
    never the bottleneck — the driver-side Row decoding was)."""
    qs = registry.queries()
    out = {}
    for name in names:
        build = functools.partial(qs[name], spark, sf_dir)
        if warm:
            timed_run(spark, build)  # untimed warm pass (codegen)
        out[name] = round(min(timed_run(spark, build)[0]
                              for _ in range(reps)), 3)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("bench_scale")
    warm_up(spark, BASE)

    slack = float(os.environ.get("SCALE_SLACK", "1.3"))
    # Revisit (resample-in-a-later-window) anything above this ratio —
    # deliberately far below the failure gate: host-noise windows
    # routinely inflate a burst 2-3×, and a near-linear query measured
    # in a bad window should get another look before its number is
    # recorded, not only when it would fail the run.
    revisit_at = float(os.environ.get("SCALE_REVISIT_RATIO", "2.5"))

    def revisit_line(name: str) -> float:
        return min(FAMILY_REVISIT.get(name, revisit_at), n * slack)

    def ratios(base, scaled):
        return {k: round(scaled[k] / max(base[k], 1e-3), 1) for k in base}

    def offenders(base, scaled):
        return [k for k, r in ratios(base, scaled).items()
                if scaled[k] > 1.0 and r > revisit_line(k)]

    scratch = tempfile.mkdtemp(prefix="sfx_scale_")
    try:
        base_times = time_queries(spark, BASE)
        t0 = time.perf_counter()
        replicate(spark, scratch, n)
        build = round(time.perf_counter() - t0, 1)
        scaled_times = time_queries(spark, scratch)
        # Targeted revisit before declaring superlinearity: the shared
        # host's minute-scale noise windows inflate BOTH best-of-2
        # samples of a burst (measured: pagerank 11.3 s vs 20.2 s at
        # 10× across consecutive runs of identical code). A revisit
        # lands minutes after the original burst — a different window;
        # min() keeps whichever caught clean air. Genuine superlinear
        # work does not get faster by resampling, so the guardrail
        # still fails loudly on real regressions.
        for _ in range(3):
            bad = offenders(base_times, scaled_times)
            if not bad:
                break
            for name, t in time_queries(spark, BASE, bad,
                                        warm=False, reps=1).items():
                base_times[name] = min(base_times[name], t)
            for name, t in time_queries(spark, scratch, bad,
                                        warm=False, reps=1).items():
                scaled_times[name] = min(scaled_times[name], t)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    report = {
        "replicas": n, "build_sec": build,
        "base": base_times, "scaled": scaled_times,
        "ratio": ratios(base_times, scaled_times),
    }
    print(json.dumps(report))

    # CI-style guardrail: every query must stay at-or-near linear on N×
    # data — ratio ≤ N × slack. Sub-second scaled timings are exempt
    # (fixed Spark overheads dominate there, not the algorithm).
    violations = {
        k: r for k, r in report["ratio"].items()
        if scaled_times[k] > 1.0 and r > n * slack}
    if violations:
        print(f"SUPERLINEAR (> {n}x{slack}): {json.dumps(violations)}",
              file=sys.stderr)
        sys.exit(1)
    print(f"linearity guardrail OK (all ratios <= {n}x{slack} "
          f"or sub-second)", file=sys.stderr)


if __name__ == "__main__":
    main()
