#!/usr/bin/env python
"""3-point scaling curve for ``sim_margin_bitext_mine`` (r9): the
mine-only serving path rode the r9 10× smoke at 2.0 — under the 2.5
revisit line, but new enough to deserve the same falsifiable evidence
as the graph/text families. The auto-sized IVF design claim is that
per-query work is ~CONSTANT (cells scale with the corpus at fixed
target occupancy, so each query scores ~occupancy × n_probe
candidates); total scored candidate pairs should therefore grow
LINEARLY with the corpus and wall-per-pair should not rise.

The work unit is measured, not assumed: for each direction, load the
probed index's quantizer + per-cell occupancy, assign the querying
side's vectors to their n_probe nearest cells with the SAME kernel the
probe uses, and sum the occupancies — exactly the candidate pairs the
rerank scores.

Run in a CLEAN window (indexes are built OUTSIDE the timed region,
matching the build-once/mine-many contract):

    PYTHONPATH=/root/repo python tools/bench_mine_curve.py
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench_scale import BASE, _drain, replicate  # noqa: E402
from s3_elasticsearch_data_pipeline_spark.operators import (  # noqa: E402
    quantizer, similarity as sim)
from s3_elasticsearch_data_pipeline_spark.session import (  # noqa: E402
    get_spark)
from tools.bench_graph_curve import _fit_exponent  # noqa: E402

SCALES = (1, 3, 10)
REPS = 3
N_PROBE = 4


def build_indexes(spark, sf_dir: str, out: str) -> None:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.where(F.col("label") % 2 == 0).select("vec_id", "embedding")
    b = emb.where(F.col("label") % 2 == 1).select("vec_id", "embedding")
    sim.build_ivf_index(a, out + "/src",
                        n_cells=quantizer.auto_n_cells(a.count()))
    sim.build_ivf_index(b, out + "/tgt",
                        n_cells=quantizer.auto_n_cells(b.count()))


def scored_pairs(spark, idx: str) -> int:
    """Candidate pairs one direction's probe scores: Σ over queries of
    the probed cells' occupancies. Queries are the OTHER side's
    vectors (read from its cell store, like the miner does)."""
    total = 0
    for probe_side, query_side in (("tgt", "src"), ("src", "tgt")):
        q = quantizer._load_quantizer(spark, f"{idx}/{probe_side}")
        occ_rows = (spark.read.parquet(f"{idx}/{probe_side}/cells")
                    .groupBy("cell").count().collect())
        occ = {r["cell"]: r["count"] for r in occ_rows}
        qvecs = np.array(
            [list(r["embedding"]) for r in
             spark.read.parquet(f"{idx}/{query_side}/cells")
             .select("embedding").collect()], dtype=np.float64)
        order = quantizer._q_nearest_cells(q, qvecs, N_PROBE)
        for row in order:
            total += sum(occ.get(int(c), 0) for c in row if c >= 0)
    return total


def main() -> None:
    spark = get_spark("bench-mine-curve")
    spark.range(64).mapInPandas(lambda it: it, "id long").count()
    dirs, scratch = {1: BASE}, []
    for n in SCALES[1:]:
        d = tempfile.mkdtemp(prefix=f"minecurve-{n}x-data-")
        replicate(spark, d, n)
        dirs[n] = d
        scratch.append(d)
    idx_dirs = {}
    try:
        for n in SCALES:             # untimed: the build-once side
            idx = tempfile.mkdtemp(prefix=f"minecurve-{n}x-idx-")
            scratch.append(idx)
            build_indexes(spark, dirs[n], idx)
            idx_dirs[n] = idx
        units = {n: scored_pairs(spark, idx_dirs[n]) for n in SCALES}

        def mine(n):
            return sim.margin_bitext_pairs_indexed(
                spark, idx_dirs[n] + "/src", idx_dirs[n] + "/tgt")
        for n in SCALES:             # warm (codegen etc.)
            _drain(mine(n))
        walls = {n: float("inf") for n in SCALES}
        for _ in range(REPS):        # interleaved best-of-REPS
            for n in SCALES:
                t0 = time.perf_counter()
                _drain(mine(n))
                walls[n] = min(walls[n], time.perf_counter() - t0)
        ws = [round(walls[n], 3) for n in SCALES]
        us = [units[n] for n in SCALES]
        for n, w, u in zip(SCALES, ws, us):
            print(json.dumps({"family": "sim_margin_bitext_mine",
                              "scale": n, "wall_sec": w,
                              "scored_pairs": u}), flush=True)
        we, ue = _fit_exponent(SCALES, ws), _fit_exponent(SCALES, us)
        print(json.dumps({"metric": "mine_family_scaling_exponents",
                          "wall_exp": we, "unit_exp": ue,
                          "wall_per_unit_exp": round(we - ue, 2)}),
              flush=True)
    finally:
        for d in scratch:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
