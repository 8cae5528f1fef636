"""Serving-sized index probes read their probed cells on the driver.

``ivfpq_probe_topk`` and ``ivf_probe_topk`` answer a serving-sized
query batch whose probed cells fit ``offload.MAX_DRIVER_CELL_BYTES``
and ``offload.MAX_DRIVER_PROBE_PAIRS`` from a driver read of those
cells' files: the query fetch is the call's one Spark job, and the
returned local relation drains in none. A zero byte cap forces the
Spark-scan strategy, whose rows the driver read must reproduce
exactly.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload, storage
from s3_elasticsearch_data_pipeline_spark.operators import quantizer
from s3_elasticsearch_data_pipeline_spark.operators import similarity as sim
from s3_elasticsearch_data_pipeline_spark.offload import DECISION_LOGGER
from s3_elasticsearch_data_pipeline_spark.streaming.ivfpq_ingest import (
    ivfpq_ingest_stream)
from s3_elasticsearch_data_pipeline_spark.tables import load_table
from tests.conftest import count_jobs, spelled

@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return (spark.read.parquet(os.path.join(sf_smoke, "embeddings.parquet"))
            .select("vec_id", "embedding"))


def _frame(spark, ids, vecs):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>")


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _decisions(caplog, site: str) -> list:
    return [(r.path, r.rows, r.bytes, r.cap) for r in caplog.records
            if r.name == DECISION_LOGGER and r.site == site]


def _driver_and_scan(monkeypatch, caplog, site: str, probe,
                     cap: str = "MAX_DRIVER_CELL_BYTES"):
    """Rows of ``probe()`` on the driver read and on the Spark scan
    (forced by zeroing ``cap``), checking from the decision events that
    each took its strategy."""
    caplog.set_level(logging.INFO, logger=DECISION_LOGGER)
    caplog.clear()
    driver = _rows(probe())
    with monkeypatch.context() as m:
        m.setattr(offload, cap, 0)
        scan = _rows(probe())
    paths = [path for path, *_ in _decisions(caplog, site)]
    assert paths == ["driver", "distributed"], paths
    return driver, scan


def _unit_rows(seed: int, n: int, dims: int = 64):
    v = np.random.default_rng(seed).normal(size=(n, dims))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


@pytest.mark.parametrize("spelling", ["bare", "file_uri"])
def test_probe_after_append_and_rebuild_runs_one_job(spark, emb, tmp_path,
                                                     spelling):
    """A vector probed right after ``ivfpq_index_append`` is its own top
    hit, and the probe plus the drain of its result run one job (the
    query fetch). A rebuild at the same path is read at once: nothing
    is cached between calls."""
    path = spelled(tmp_path / "ivfpq", spelling)
    sim.build_ivfpq_index(emb, path, n_cells=8)
    vecs = _unit_rows(7, 20)
    ids = np.arange(10_000, 10_020)
    new = _frame(spark, ids, vecs)
    sim.ivfpq_index_append(spark, path, new)

    def served(i):
        out = []
        n = count_jobs(spark, f"jc-driver-probe-{spelling}-{i}", lambda: (
            out.extend(sim.ivfpq_probe_topk(
                spark, path, _frame(spark, ids[i:i + 1], vecs[i:i + 1]),
                k=10).collect())))
        top = min(out, key=lambda r: r["rank"])
        return n, len(out), top["neighbor_id"], top["sim"]

    for i in (0, 13):
        assert served(i) == (1, 10, ids[i], 1.0)
    sim.build_ivfpq_index(emb.unionByName(new.where(F.col("vec_id") < 10_010)),
                          path, n_cells=4)
    assert served(3) == (1, 10, ids[3], 1.0)
    # vector 13 is no longer indexed
    assert served(13)[2] != ids[13]


def test_stream_layout_with_replayed_epoch(spark, sf_oracle, tmp_path,
                                           monkeypatch, caplog):
    """The stream's ``cells/epoch=E/cell=C/`` layout reads the same on
    the driver as through Spark's partition discovery, including an
    epoch replayed after a crash between its cells write and its
    commit."""
    vecs = (load_table(spark, sf_oracle, "embeddings")
            .select("vec_id", "embedding").where(F.col("vec_id") < 400))
    src, index = str(tmp_path / "src"), str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    vecs.where(F.col("vec_id") < 200).write.parquet(src)
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)
    vecs.where(F.col("vec_id") >= 200).write.mode("append").parquet(src)

    def crash(stage, epoch_id):
        if stage == "after_cells_write":
            raise RuntimeError(stage)

    with pytest.raises(Exception, match="after_cells_write"):
        ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8,
                            fault_hook=crash)
    ivfpq_ingest_stream(spark, src, index, ckpt, n_cells=8)
    assert storage.children(spark, index + "/cells") == [
        "epoch=0", "epoch=1"]
    queries = vecs.where(F.col("vec_id").isin(1, 250, 399))
    driver, scan = _driver_and_scan(
        monkeypatch, caplog, "similarity.ivfpq_probe_topk",
        lambda: sim.ivfpq_probe_topk(spark, index, queries, k=10))
    assert driver == scan and len(driver) == 30
    assert {r[0] for r in driver if r[3] == 1} == {1, 250, 399}

    # the driver read lists the probed cells' files of every epoch and
    # nothing else
    probed, listed = [], []
    read, list_files = sim._read_probed_cells, storage.list_files

    def read_spy(spark, path, cell_queries, *args):
        probed.extend(cell_queries)
        return read(spark, path, cell_queries, *args)

    def list_spy(spark, path, *args):
        got = list_files(spark, path, *args)
        if path.endswith("/cells"):  # not a parameter table
            listed.extend(f for f, _ in got)
        return got

    with monkeypatch.context() as m:
        m.setattr(sim, "_read_probed_cells", read_spy)
        m.setattr(storage, "list_files", list_spy)
        sim.ivfpq_probe_topk(spark, index, queries.where("vec_id = 250"),
                             k=10, n_probe=2)
    on_disk = {os.path.join(d, f): d.rsplit("/", 1)[-1]
               for d, _, fs in os.walk(index + "/cells") for f in fs
               if not f.startswith(("_", "."))}
    assert len(probed) == 2 and len(set(on_disk.values())) > 2
    assert sorted(f.split(":", 1)[-1] for f in listed) == sorted(
        f for f, cell in on_disk.items()
        if cell in {f"cell={c}" for c in probed})


@pytest.mark.parametrize("family", ["ivfpq", "ivfpq_residual", "ivf"])
def test_duplicate_ids_and_zero_norm_match_spark_scan(
        spark, tmp_path, monkeypatch, caplog, family):
    """A vec_id stored twice keeps its join multiplicity and a zero-norm
    vector keeps its NULL sims, exactly as on the Spark scan."""
    vecs = _unit_rows(11, 160)
    vecs[0] = 0.0
    corpus = _frame(spark, np.arange(160), vecs)
    # ids 5..9 again with their own vectors, id 11 again with another
    dup_ids = [5, 6, 7, 8, 9, 11]
    dups = _frame(spark, dup_ids, np.vstack([vecs[5:10], _unit_rows(3, 1)]))
    path = str(tmp_path / family)
    if family == "ivf":
        sim.build_ivf_index(corpus, path, n_cells=4)
        sim.ivf_index_append(spark, path, dups)
        site = "similarity.ivf_probe_topk"
        topk = sim.ivf_probe_topk
    else:
        sim.build_ivfpq_index(corpus, path, n_cells=4,
                              residual=family == "ivfpq_residual")
        sim.ivfpq_index_append(spark, path, dups)
        site = "similarity.ivfpq_probe_topk"
        topk = sim.ivfpq_probe_topk
    queries = corpus.where(F.col("vec_id").isin(0, 5, 11, 40))
    driver, scan = _driver_and_scan(
        monkeypatch, caplog, site,
        lambda: topk(spark, path, queries, k=12, n_probe=4))
    assert driver == scan
    assert [r for r in driver if r[0] == 0] and all(
        r[2] is None for r in driver if r[0] == 0)
    ids = [(r[0], r[1]) for r in driver]
    assert len(ids) > len(set(ids)), "a duplicate id scores twice"


def test_two_threads_probing_one_path_agree(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(emb, path, n_cells=8)
    vecs = [r["embedding"] for r in
            emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()]

    def serve():
        return [_rows(sim.ivfpq_probe_topk(
            spark, path, _frame(spark, [i], [v]), k=5))
            for i, v in enumerate(vecs)]

    want = serve()
    with ThreadPoolExecutor(2) as pool:
        got = [f.result() for f in [pool.submit(serve) for _ in range(2)]]
    assert got == [want, want]


@pytest.mark.parametrize("family", ["ivfpq", "ivf"])
@pytest.mark.parametrize("cap,name", [("bytes", "MAX_DRIVER_CELL_BYTES"),
                                      ("pairs", "MAX_DRIVER_PROBE_PAIRS")])
def test_over_cap_cells_take_spark_scan_and_log_it(
        spark, emb, tmp_path, monkeypatch, caplog, family, cap, name):
    """Probed cells over the byte cap, or whose (query, candidate)
    pairs are over the pair cap, take the Spark scan: one decision
    event per probe names the cap, with the same listed files and
    bytes the driver read judged."""
    path = str(tmp_path / family)
    build, topk = ((sim.build_ivf_index, sim.ivf_probe_topk)
                   if family == "ivf" else
                   (sim.build_ivfpq_index, sim.ivfpq_probe_topk))
    build(emb, path, n_cells=8)
    site = f"similarity.{topk.__name__}"
    queries = emb.where(F.col("vec_id") == 3)
    driver, scan = _driver_and_scan(
        monkeypatch, caplog, site,
        lambda: topk(spark, path, queries, k=10), name)
    assert driver == scan
    (_, files, nbytes, cap1), (_, files2, nbytes2, cap2) = _decisions(
        caplog, site)
    assert (cap1, cap2) == (None, cap)
    assert files == files2 > 0 and nbytes == nbytes2 > 0


@pytest.mark.parametrize("spelling", ["bare", "file_uri"])
def test_param_table_reads_absent_empty_or_raises(spark, tmp_path,
                                                  spelling):
    """A parameter table reads on the driver in no job; only an absent
    or empty one reads as untrained (None), and a corrupt one
    raises."""
    table = spelled(tmp_path / "centroids", spelling)
    assert quantizer._read_param_table(spark, table) is None
    spark.createDataFrame([], "cell int, centroid array<double>") \
        .write.parquet(table)
    assert quantizer._read_param_table(spark, table) is None
    spark.createDataFrame([(1, [0.5, 2.0])],
                          "cell int, centroid array<double>") \
        .write.mode("overwrite").parquet(table)
    (tmp_path / "centroids" / "_temporary").mkdir()
    (tmp_path / "centroids" / "_temporary" / "part-9.parquet").write_bytes(
        b"a pending write")
    got = []
    n = count_jobs(spark, f"jc-param-read-{spelling}", lambda: got.append(
        quantizer._read_param_table(spark, table)))
    assert (n, got) == (0, [[{"cell": 1, "centroid": [0.5, 2.0]}]])
    (tmp_path / "centroids" / "part-9.parquet").write_bytes(b"not parquet")
    with pytest.raises(pa.ArrowInvalid):
        quantizer._read_param_table(spark, table)


@pytest.mark.parametrize("spelling", ["bare", "file_uri"])
def test_list_files_skips_hidden_entries_at_every_level(spark, tmp_path,
                                                        spelling):
    root = tmp_path / "cells"
    for rel, size in (("cell=1/part-0", 3), ("cell=1/.part-0.crc", 1),
                      ("cell=1/_SUCCESS", 0), ("_temporary/cell=1/part-1", 2),
                      (".hidden/cell=2/part-2", 2),
                      ("epoch=0/cell=2/part-3", 5)):
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(b"x" * size)
    probed = "{{cell=1,cell=2},*/{cell=1,cell=2}}/*"
    listed = storage.list_files(spark, spelled(root, spelling), probed)
    assert [(f.rsplit("/cells/", 1)[1], n) for f, n in listed] == [
        ("cell=1/part-0", 3), ("epoch=0/cell=2/part-3", 5)]
    assert storage.read_files(spark, [f for f, _ in listed]) == [
        b"xxx", b"xxxxx"]
    with pytest.raises(Py4JJavaError, match="FileNotFound"):
        storage.read_bytes(spark, spelled(root / "cell=1" / "none",
                                          spelling))
    assert [f.rsplit("/", 1)[1] for f, _ in storage.list_files(
        spark, spelled(root / "cell=1", spelling))] == ["part-0"]
    assert storage.list_files(spark, spelled(tmp_path / "none",
                                             spelling), probed) == []
