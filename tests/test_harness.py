"""The timing harness: ``bench.py`` owns the drain, the warm-up and the
between-run release, and every other harness script imports them.
Importing each script as a module catches rot such as a tool importing
a helper that was renamed or deleted."""

from __future__ import annotations

import glob
import importlib.util
import json
import os

import pytest

import bench
from s3_elasticsearch_data_pipeline_spark.session import persistent_rdd_ids

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = ["bench.py", "bench_scale.py"] + sorted(
    os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "tools",
                                                             "*.py")))


def _load(script: str):
    name = "harness_" + script[:-len(".py")].replace(os.sep, "_")
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, script))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("script", SCRIPTS)
def test_harness_script_imports(script):
    _load(script)


def test_drain_returns_row_count(spark):
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")],
                               "id long, s string")
    assert bench.drain(df) == 3


def test_timed_run_releases_checkpointed_frames(spark):
    pinned = []

    def build():
        df = spark.range(10).localCheckpoint()
        pinned.append(persistent_rdd_ids(spark))
        return df

    seconds, rows = bench.timed_run(spark, build)
    assert rows == 10 and seconds > 0
    assert pinned[0], "localCheckpoint pinned no RDD"
    assert persistent_rdd_ids(spark) == set()


def test_profile_query_stages_with_ui_off(spark, sf_smoke, capsys):
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    profile_query = _load(os.path.join("tools", "profile_query.py"))
    profile_query.main(["q1_pricing_summary", "--runs", "1", "--stages",
                        "--sf-dir", sf_smoke])
    out, err = capsys.readouterr()
    result = json.loads(out.strip().splitlines()[-1])
    assert result["query"] == "q1_pricing_summary"
    assert len(result["runs"]) == 1
    lines = [line.strip() for line in err.splitlines()]
    jobs = [line for line in lines if line.startswith("job ")]
    stages = [line for line in lines if line.startswith("stage ")]
    assert jobs and stages
    assert all(line.endswith("q1_pricing_summary: run 0") for line in jobs)
    assert spark.sparkContext.getLocalProperty("spark.job.description") \
        is None
