from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s3_elasticsearch_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def spelled(path, spelling: str) -> str:
    """``path`` as a bare local path (``"bare"``) or as its ``file://``
    URI (``"file_uri"``): persisted state must read the same through
    both spellings of one directory."""
    return ("file://" if spelling == "file_uri" else "") + str(path)


def persisted_rdds(spark) -> dict:
    """Every persisted or checkpointed RDD by id, as JVM references
    held from Python. The context's own map holds them weakly, so
    holding these keeps the async ContextCleaner from reclaiming them
    while a test compares id sets."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e._1()] = e._2()
    return out


def count_jobs(spark, label: str, fn) -> int:
    """Spark jobs run by ``fn()``, counted under the job group ``label``."""
    import time as _time
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the ASYNC listener bus — poll until
    # two consecutive reads agree, else a just-finished trailing job
    # (broadcast build, AQE stage) lands after the first read and the
    # pin flaps by one (observed 27 vs 28 on the margin-mine flow)
    prev = -1
    for _ in range(20):
        cur = len(sc.statusTracker().getJobIdsForGroup(label))
        if cur == prev:
            return cur
        prev = cur
        _time.sleep(0.15)
    return prev


def shuffle_bytes(spark, label: str) -> int:
    """Shuffle bytes written by the jobs of group ``label`` (read after
    ``count_jobs`` has let the listener bus settle)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    return sum(store.lastStageAttempt(s).shuffleWriteBytes()
               for j in sc.statusTracker().getJobIdsForGroup(label)
               for s in sc.statusTracker().getJobInfo(j).stageIds)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="module")
def big_emb(spark):
    """4000 vectors in 40 well-separated clusters — large enough that
    the 64-cell gate engages and IVF recall is meaningful."""
    import numpy as np
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(40, 16)) * 8
    rows = []
    for i in range(4000):
        c = i % 40
        v = centers[c] + rng.normal(scale=0.6, size=16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").localCheckpoint()
