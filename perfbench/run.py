#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 10 --trace 0

Derives its inputs from ``--seed``, starts a ``local[nproc]`` session,
sets up, then runs passes of the workload: until ``--seconds`` have
elapsed on ``corpus_curation`` (at least one pass), one epoch on
``ingest_serve``. With ``--trace 1`` every pass is traced. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Spans, per-pass records, the pass wall and
CPU, the host's CPU steal over the measured passes and the per-layer
table go to ``perfbench/out/<workload>-seed<n>-trace<t>.json``.
See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
E2E_UNITS = {"setup_s": "s", "jobs": "count", "shuffle_bytes": "bytes"}


def _environment(run_dir: str) -> None:
    """Everything the session must see before it starts: Python workers
    import the package from the repository root whatever the working
    directory, and every file Spark or the package writes lands in the
    per-run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        f"--conf spark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "pyspark-shell"))


def _stop(spark, pids: list[int]) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [REPO, HERE]
    import layers
    from workloads import WORKLOADS, Runner
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    run_dir = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    spark, pids = None, []
    try:
        _environment(run_dir)
        t0 = time.perf_counter()
        from s3_elasticsearch_data_pipeline_spark.session import get_spark
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        r = Runner(spark, run_dir, args.seed)
        wl = WORKLOADS[args.workload]()
        t = time.perf_counter()
        wl.setup(r)
        state_s = time.perf_counter() - t
        setup_s = session_s + state_s

        passes = []
        host0 = layers.host_cpu()
        start = time.perf_counter()
        while (len(passes) < (wl.epochs or 1)
               or (wl.epochs is None
                   and time.perf_counter() - start < args.seconds)):
            passes.append(wl.run_pass(r, len(passes), bool(args.trace)))
        measure_s = time.perf_counter() - start
        host1 = layers.host_cpu()
        peak_rss = r.proc.jvm_peak_rss_mb()
        pids = list(r.proc.sample()["pids"])
    finally:
        if spark is not None:
            _stop(spark, pids)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(p.attempted for p in passes)
    failed = sum(len(p.failures) for p in passes)
    med = statistics.median
    e2e = {
        "setup_s": setup_s,
        "jobs": med(len(p.jobs) for p in passes),
        "shuffle_bytes": med(sum(s["shuffleWriteBytes"] for s in p.stages)
                             for p in passes),
    }
    import report
    if args.trace:
        metrics = report.per_layer(r.tracer, passes, peak_rss)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    side = {
        "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds,
        "measure_s": measure_s, "session_s": session_s, "state_s": state_s,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "host_steal_ratio": ((host1[0] - host0[0])
                             / max(1, host1[1] - host0[1])),
        "jvm_peak_rss_mb": peak_rss,
        "end_to_end": e2e, "pass_s": med(p.wall for p in passes),
        "cpu_s": med(layers.cpu_delta(p.cpu0, p.cpu1)["tree"]
                     for p in passes),
        "metrics": metrics,
        "passes": [report.pass_record(p) for p in passes],
        "op_table": [report.op_table(r.tracer, p) for p in passes
                     if p.traced],
        "spans": [s.as_dict() for s in r.tracer.spans],
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(side, fh, indent=1, default=str)

    line = json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})
    print(line)
    parsed = json.loads(line)
    if "\n" in line or set(parsed) != {"correct", "attempted", "failed",
                                       "metrics"}:
        raise RuntimeError("malformed result line")
    return 0


if __name__ == "__main__":
    sys.exit(main())
