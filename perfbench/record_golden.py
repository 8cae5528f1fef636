#!/usr/bin/env python3
"""Record the benchmark's goldens into ``perfbench/golden.json``:

* per ``corpus_curation`` op: (row count, content hash) of the drained
  output on the shipped sf0.01 tables, checked to repeat across two
  runs, and cross-checked once against the registry's DuckDB oracle twin
  where one exists (the result is kept under ``oracle``);
* for ``ingest_serve``: the corpus the base documents leave after the
  first ``lsh_ingest_stream`` call (count, sum of doc ids).

Run from the repository root after an op's result changes:

    python3 perfbench/record_golden.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
from workloads import CORPUS_CURATION, GOLDEN_PATH, drain  # noqa: E402


def main() -> None:
    run_dir = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    run._environment(run_dir)
    from s3_elasticsearch_data_pipeline_spark import registry
    from s3_elasticsearch_data_pipeline_spark.session import get_spark
    from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
        lsh_ingest_stream, read_corpus)
    from tests.oracle import compare, duckdb_conn
    spark = get_spark("perfbench-golden")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracle = registry.queries(), registry.oracle_sql()
    golden, checked = {}, {}
    try:
        d = os.path.join(run_dir, "data")
        shutil.copytree(gen.DATA_DIR, d)
        con = duckdb_conn(d)
        for op in CORPUS_CURATION:
            a, b = drain(qs[op](spark, d)), drain(qs[op](spark, d))
            if a != b:
                raise RuntimeError(f"{op} not deterministic: {a} {b}")
            golden[op] = list(a)
            if op in oracle:
                problems = compare(qs[op](spark, d), con, oracle[op],
                                   strict_dtypes=False)
                checked[op] = "; ".join(problems) or "match"
            print(op, a, checked.get(op, "no oracle twin"), flush=True)
        src = os.path.join(run_dir, "src")
        os.makedirs(src)
        shutil.copy(os.path.join(d, "documents.parquet"), src)
        lsh_ingest_stream(spark, src, run_dir + "/corpus",
                          run_dir + "/index", run_dir + "/ckpt",
                          schema=spark.read.parquet(src).schema)
        ids = [r[0] for r in read_corpus(spark, run_dir + "/corpus")
               .select("doc_id").collect()]
        golden["ingest_serve.base_corpus"] = [len(ids), sum(ids)]
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(GOLDEN_PATH, "w", encoding="utf-8") as fh:
        json.dump({"golden": golden, "oracle": checked}, fh, indent=1,
                  sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
