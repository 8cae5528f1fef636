#!/usr/bin/env python
"""IVF build-wall scaling smoke (r8, VERDICT item 2): measure
``build_ivf_index`` wall at (n, n_cells) and (10n, 10·n_cells) —
corpus AND cell count scaled together, the axis where the flat
trainer is O(n·n_cells) = 100× per decade and the two-level
construction is O(n·sqrt(n_cells)) ≈ 31.6× asymptotically (Spark
fixed overhead pulls the small-scale ratio far below that; the flat
control at the same sizes shows the gap the gate removes).

Run in a CLEAN window (nothing else on the host):

    PYTHONPATH=/root/repo python tools/bench_ivf_scale.py [--flat]

Prints one JSON line per (mode, scale) with build wall seconds, plus
a final summary with the 10x ratios. --flat additionally measures the
flat trainer at BOTH sizes by lifting the two-level gate (the
counterfactual; expect the 10x ratio near the O(n·n_cells) slope).
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, "/root/repo")

from s3_elasticsearch_data_pipeline_spark.operators import (  # noqa: E402
    quantizer, similarity as sim)
from s3_elasticsearch_data_pipeline_spark.session import (  # noqa: E402
    get_spark)

DIMS = 32
SCALES = ((20_000, 64), (200_000, 640))


def synth(spark, n: int, seed: int = 7):
    """Clustered corpus (n/50 clusters), generated executor-side so the
    driver never holds the frame; localCheckpoint pins it out of the
    timed build."""
    from pyspark.sql import functions as F
    n_clusters = max(8, n // 50)
    rng = np.random.default_rng(seed)
    # cluster centers derived per-row from a hash of the cluster id so
    # generation stays a pure projection (no driver-side matrix ship)
    seeds = [float(x) for x in rng.normal(size=DIMS)]
    base = F.array(*[F.lit(s) for s in seeds])
    cl = (F.col("id") % n_clusters).cast("double")
    emb = F.transform(
        base, lambda s, i: s * F.cos(cl * (i + 1))
        + F.sin(cl * 7.13 + i) * 4.0
        + F.cos(F.col("id").cast("double") * 0.7919 + i) * 0.3)
    return (spark.range(n)
            .select(F.col("id").alias("vec_id"),
                    emb.cast("array<double>").alias("embedding"))
            .localCheckpoint())


def main() -> None:
    flat_too = "--flat" in sys.argv
    spark = get_spark("bench-ivf-scale")
    # warmup: JVM/codegen/Arrow first-call costs otherwise inflate the
    # first timed build by several seconds (measured 9.6 vs 2.4 s)
    wd = tempfile.mkdtemp(prefix="ivfscale-warm-")
    sim.build_ivf_index(synth(spark, 2000), wd + "/ivf", n_cells=16)
    shutil.rmtree(wd, ignore_errors=True)
    out = {}
    modes = ["two_level"] + (["flat"] if flat_too else [])
    for mode in modes:
        gate = quantizer.IVF_TWO_LEVEL_MIN_CELLS
        if mode == "flat":
            # lift the one gate: every build path reads it from there
            quantizer.IVF_TWO_LEVEL_MIN_CELLS = 10 ** 9
        try:
            for n, cells in SCALES:
                emb = synth(spark, n)
                emb.count()  # materialize outside the timed region
                d = tempfile.mkdtemp(prefix=f"ivfscale-{mode}-{n}-")
                t0 = time.time()
                sim.build_ivf_index(emb, d + "/ivf", n_cells=cells)
                wall = round(time.time() - t0, 2)
                out[f"{mode}_{n}"] = wall
                print(json.dumps({"mode": mode, "n": n,
                                  "n_cells": cells, "wall_sec": wall}),
                      flush=True)
                shutil.rmtree(d, ignore_errors=True)
                emb.unpersist()
        finally:
            quantizer.IVF_TWO_LEVEL_MIN_CELLS = gate
    summary = {"metric": "ivf_build_10x10x_ratio",
               "two_level": round(out["two_level_200000"]
                                  / out["two_level_20000"], 2)}
    if flat_too:
        summary["flat"] = round(out["flat_200000"] / out["flat_20000"], 2)
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
