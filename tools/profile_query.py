#!/usr/bin/env python
"""Per-query profiler for the optimization rounds (guide §1): time a
registry query in isolation with bench.py's discipline (``warm_up``,
then ``timed_run`` per run: GC before the window, distributed drain,
release of every persisted RDD after it), capture its
``explain("formatted")`` plan, and break the last run's wall clock
down by Spark job/stage.

Usage:
    python tools/profile_query.py QUERY [--runs N] [--plan-out FILE]
        [--sf-dir DIR] [--stages]

The session is ``session.get_spark``'s, UI off like bench.py's: the
job and stage metrics come from the Spark status store
(``perfbench/layers.StatusStore``), which the driver keeps whether or
not the UI runs. Each timed run's jobs carry the description
``QUERY: run I``. Timings here guide optimization; the
driver-comparable numbers remain bench.py's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_run, warm_up  # noqa: E402
from perfbench.layers import StatusStore  # noqa: E402
from s3_elasticsearch_data_pipeline_spark import registry  # noqa: E402
from s3_elasticsearch_data_pipeline_spark.session import (  # noqa: E402
    get_spark, job_phases)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-out", default=None)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--stages", action="store_true",
                    help="dump per-stage metrics of the LAST timed run")
    args = ap.parse_args(argv)

    spark = get_spark("profile-query")
    qs = registry.queries()
    if args.query not in qs:
        sys.exit(f"unknown query {args.query!r}")
    warm_up(spark, args.sf_dir)

    df = None

    def build():
        nonlocal df
        df = qs[args.query](spark, args.sf_dir)
        return df

    times = []
    with job_phases(spark, args.query) as phase:
        for i in range(args.runs):
            phase(f"run {i}")
            t0 = time.time()
            dt, rows = timed_run(spark, build)
            window = (t0, time.time())
            times.append(dt)
            print(f"run {i}: {dt:.3f}s ({rows} rows)", file=sys.stderr)

    print(json.dumps({"query": args.query, "runs": [round(t, 3) for t in times],
                      "min": round(min(times), 3)}))

    if args.plan_out:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(args.plan_out, "w") as fh:
            fh.write(f"# {args.query} @ {args.sf_dir} "
                     f"(drained, run min {min(times):.3f}s)\n")
            fh.write(plan)
        print(f"plan -> {args.plan_out}", file=sys.stderr)

    if args.stages:
        store = StatusStore(spark)
        print("\n# last-run jobs (id, dur_s, desc):", file=sys.stderr)
        for j in sorted(store.jobs(*window), key=lambda j: j["jobId"]):
            end = j.get("completionTime")
            dur = (end - j["submissionTime"]) / 1000 if end else -1
            desc = (j.get("description") or j.get("name", ""))[:90]
            print(f"  job {j['jobId']:>4} {dur:7.3f}s  {desc}",
                  file=sys.stderr)
            for sid in sorted(j["stageIds"]):
                s = store.stage(sid)
                if s.get("status") == "SKIPPED":
                    continue
                print(f"      stage {sid:>4} {s.get('status','?'):>9} "
                      f"tasks={s.get('numCompleteTasks',0):>3} "
                      f"exec_ms={s.get('executorRunTime',0):>7} "
                      f"cpu_ms={int(s.get('executorCpuTime',0)/1e6):>7} "
                      f"shuf_r={s.get('shuffleReadBytes',0):>10} "
                      f"shuf_w={s.get('shuffleWriteBytes',0):>10} "
                      f"in={s.get('inputBytes',0):>11} "
                      f"{s.get('name','')[:60]}", file=sys.stderr)


if __name__ == "__main__":
    main()
