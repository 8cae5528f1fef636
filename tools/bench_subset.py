#!/usr/bin/env python
"""Run a subset of the bench headliners with bench.py's EXACT timing
methodology (same session, warm-up, GC + unpersist discipline, drain)
— for A/B comparisons during optimization without a full bench run.

Usage: python tools/bench_subset.py q1 q2 ... [--runs N]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_run, warm_up  # noqa: E402
from s3_elasticsearch_data_pipeline_spark import registry  # noqa: E402
from s3_elasticsearch_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-subset")
    qs = registry.queries()
    for q in args.queries:
        if q not in qs:
            sys.exit(f"unknown query {q!r}")

    warm_up(spark, sf_dir)
    out = {}
    for name in args.queries:
        build = functools.partial(qs[name], spark, sf_dir)
        samples = [timed_run(spark, build)[0] for _ in range(args.runs)]
        out[name] = round(min(samples), 3)
        print(f"# {name}: {out[name]:.3f}s  (all: "
              f"{[round(s, 3) for s in samples]})", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
