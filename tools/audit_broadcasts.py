#!/usr/bin/env python
"""Plan audit: flag BroadcastExchange nodes built over checkpoint-backed
RDD scans. localCheckpoint-backed frames report sizes that undershoot
the broadcast threshold, so Spark can pick a corpus-sized frame as a
hash-join build side (driver-serial relation build; driver OOM at real
scale) — the bug class fixed for ngram-Jaccard/containment (r5) and the
incremental-LSH index probe (r6). A broadcast over an RDD scan is not
automatically wrong (query sets and cluster tables are legitimately
small) — this tool surfaces each site for a human scale-judgment.

AQE note: executedPlan() is an AdaptiveSparkPlanExec LEAF — walking its
children sees nothing. The audit therefore parses the plan's printed
tree (which renders the full pre-AQE physical plan) and scopes each
BroadcastExchange's subtree by indentation. That inspects Spark's
STATS-DRIVEN initial decision, which is exactly where the undershoot
class lives; AQE can only re-plan at runtime from the same wrong stats.

Run: PYTHONPATH=/root/repo python tools/audit_broadcasts.py [names...]
Exit code: number of queries with findings or errors (0 = clean).

--flip (r8, VERDICT item 8): generalizes the r7 four-query 1KB
broadcast-flip probe into a standing sweep over the whole audit
surface. Scale enters Spark's broadcast decision only through the
stats/threshold ratio, so re-planning every FLAGGED query under a 1KB
``autoBroadcastJoinThreshold`` is the 10x/100x-replica probe without
replicas: a stats-driven build side flips to shuffle (its estimate
grows with the data — healthy), while a build side that KEEPS its
broadcast under 1KB is either an explicit ``F.broadcast`` (fine iff
fixed-size by design) or constant-understated stats (the r5 OOM
class). Survivors must match :data:`FLIP_SURVIVORS` exactly; the
allowlist is asserted by tests/test_plan_shape.py. Exit code counts
queries whose survivors diverge from the allowlist (0 = clean).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from s3_elasticsearch_data_pipeline_spark import registry  # noqa: E402
from s3_elasticsearch_data_pipeline_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Non-headline surfaces worth auditing (index builds / apply steps).
EXTRA = ("dedup_fuzzy_apply", "dedup_semantic_apply",
         "dedup_embedding_blocked", "dedup_fuzzy_clusters",
         "dedup_incremental_semantic", "sim_margin_bitext",
         "corpus_domain_mixture", "sim_margin_bitext_intersection",
         "corpus_domain_reweight", "sim_margin_bitext_indexed")

_RDD_SCAN = re.compile(r"Scan ExistingRDD|RDDScan")


def _indent(line: str) -> int:
    """Tree depth of a plan line = width of the tree-drawing prefix
    (spaces, ':', '+', '-'). Anchoring to the prefix rather than the
    first LETTER keeps codegen-stage markers like '*(3) ' from
    inflating a sibling's apparent depth (which would leak the subtree
    scan past a BuildLeft broadcast into the streamed side); section
    headers like '== Initial Plan ==' read as depth 0 and end the scan
    conservatively."""
    return len(line) - len(line.lstrip(" :+-"))


def audit(spark, name: str) -> list[str]:
    df = registry.queries()[name](spark, SF)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _indent(line)
        for sub in lines[i + 1:]:
            if _indent(sub) <= d:
                break
            if _RDD_SCAN.search(sub):
                hits.append(line.strip())
                break
    return hits


#: Explicit-broadcast survivors allowed to keep their build side under
#: a 1KB threshold, per flagged query: the ``F.broadcast(bench)``
#: eval-gram joins — eval benchmarks are fixed-size BY DESIGN, correct
#: at any corpus scale. Every other flagged broadcast must flip to
#: shuffle at 1KB (stats-driven ⇒ the estimate grows with the data).
#: A query flagged but absent here allows ZERO survivors. Asserted
#: against the plan-shape test's expectations in
#: tests/test_plan_shape.py.
FLIP_SURVIVORS = {
    # r11: 4 -> 2 — the dataset_shuffle self-join left the v1 plan
    # (shuffle assignment attached inline), so the curated subtree
    # (and its two eval-gram broadcasts) is no longer duplicated
    # across the mixed/shuf branches. 2 -> 1: the split attaches
    # inline too, so the contamination screen (one eval-gram
    # broadcast) runs once instead of on both sides of a self-join
    "corpus_training_set": 1,
    "corpus_curation_pipeline": 1,
    "contamination_ngram_overlap": 1,
    "multimodal_curation": 0,
    # r9: the production dedup-at-ingest exposes the shared hot-bucket
    # guard (dedup.drop_hot_buckets) to the audit — one explicit
    # F.broadcast(hot) per side (index + batch). The HOT list is the
    # over-cap (band, bucket) keys only: ≤ rows/cap entries of two
    # ints in the adversarial worst case, and in organic corpora a
    # handful of boilerplate buckets — the broadcast is the point
    # (anti-join the cap list map-side, never shuffle the band rows
    # for it). corpus_training_set_v2 is absent by design: its r9
    # localCheckpoints collapse the curation subtree to one execution
    # and the flip audit flags nothing.
    "dedup_incremental_lsh_prod": 2,
    # r10: domain_reweight ships per-cell rates as an explicit
    # F.broadcast of a DRIVER-BUILT kilobyte table (n_cells rows of
    # [cell, rate] — the learned-domain count is a modeling choice,
    # 8-64 rows at any corpus scale). Broadcasting it is the point
    # of verdict item 5 (flat plan vs the F.when chain); surviving
    # the 1KB flip is correct because the table's size is bounded by
    # n_cells, not by the data.
    "corpus_domain_reweight": 1,
}

_FLIP_KEYS = ("spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.adaptive.autoBroadcastJoinThreshold")


def flip_audit(spark, name: str, flagged: int) -> tuple[int, int, bool]:
    """Re-plan ``name`` under a 1KB broadcast threshold and return
    (flipped, survivors, allowlisted?). Only called for queries the
    normal audit flagged."""
    prior = {k: spark.conf.get(k, None) for k in _FLIP_KEYS}
    try:
        for k in _FLIP_KEYS:
            spark.conf.set(k, "1KB")
        survivors = len(audit(spark, name))
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    allowed = FLIP_SURVIVORS.get(name, 0)
    return flagged - survivors, survivors, survivors == allowed


def main(names, flip: bool = False) -> int:
    spark = get_spark()
    flagged_n, errors, bad_flips = 0, 0, 0
    for name in names:
        try:
            hits = audit(spark, name)
        except Exception as ex:  # noqa: BLE001 — report, keep auditing
            print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:100]}")
            errors += 1
            continue
        if hits:
            flagged_n += 1
            print(f"{name}: {len(hits)} broadcast(s) over RDD scans")
            for h in hits:
                print(f"    {h[:140]}")
            if flip:
                flipped, kept, ok = flip_audit(spark, name, len(hits))
                if not ok:
                    bad_flips += 1
                print(f"    flip@1KB: {flipped} flipped to shuffle, "
                      f"{kept} survivor(s) vs allowlist "
                      f"{FLIP_SURVIVORS.get(name, 0)} — "
                      f"{'OK' if ok else 'VIOLATION'}")
    tail = (f"; flip: {bad_flips} allowlist violation(s)"
            if flip else "")
    print(f"audited {len(names)} queries: {flagged_n} with RDD-scan "
          f"broadcasts, {errors} errors{tail}")
    return (bad_flips + errors) if flip else (flagged_n + errors)


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if a != "--flip"]
    do_flip = "--flip" in sys.argv[1:]
    names = argv or list(HEADLINE) + list(EXTRA)
    raise SystemExit(main(names, flip=do_flip))
