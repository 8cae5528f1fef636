"""The workloads. Each runs one client in a closed loop: the next call
starts only after the previous one has returned and its output has been
drained.

* ``corpus_curation``: one pass runs every op of the mix once, in an
  order the seed permutes on every pass but the first.
* ``ingest_serve``: one pass is one epoch — new documents arrive, then
  ``lsh_ingest_stream``, ``ivfpq_index_append``, ``upsert_by_key`` and a
  fixed number of single-query ``ivfpq_probe_topk`` calls run in turn.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from layers import ProcTree, StatusStore, Tracer

# text_unigram_encode and dedup_semantic_apply are left out: with them a
# cold pass does not fit the run budget
CORPUS_CURATION = (
    "dedup_minhash_lsh", "dedup_duplicate_spans", "corpus_training_set",
    "image_decode_jpeg", "text_quality_scores", "graph_pagerank_trade")

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "golden.json")


def drain(df) -> tuple[int, str]:
    """Run ``df`` to completion on the executors: row count plus an
    order-insensitive hash over every output column, one row back."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(h.cast("decimal(38,0)")).alias("h")).collect()[0]
    return int(row["n"]), str(row["h"])


@dataclass
class Pass:
    """What one pass measured. ``calls`` are the latencies of the
    workload's client calls (every op; the probes on ingest_serve).
    ``jobs`` and ``stages`` are read from the status store when the pass
    ends, before later passes can push them out of it. ``trace_s`` is
    the time the pass spent in the benchmark's own tracing code."""
    traced: bool
    t0: float = 0.0
    t1: float = 0.0
    wall: float = 0.0
    cpu0: dict = field(default_factory=dict)
    cpu1: dict = field(default_factory=dict)
    calls: list = field(default_factory=list)
    attempted: int = 0
    failures: list = field(default_factory=list)
    persisted_left: int = 0
    pids: set = field(default_factory=set)
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    trace_s: float = 0.0


class Runner:
    """Session-wide state shared by the workloads."""

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.proc = ProcTree()
        self.proc.jvm = spark.sparkContext._gateway.proc.pid
        self.store = StatusStore(spark)
        self.tracer = Tracer()
        self._jsc = spark.sparkContext._jsc.sc()
        with open(GOLDEN_PATH, encoding="utf-8") as fh:
            self.golden = json.load(fh)["golden"]

    def span(self, p: Pass, name: str, op: str):
        if p.traced:
            return self.tracer.span(name, op)
        return _NULL

    def release(self, p: Pass) -> None:
        """Count the RDDs an op left persisted, then unpersist them."""
        rdds = self._jsc.getPersistentRDDs()
        p.persisted_left += rdds.size()
        it = rdds.valuesIterator()
        while it.hasNext():
            it.next().unpersist(False)
        if p.traced:
            t = time.perf_counter()
            p.pids |= set(self.proc.sample()["pids"])
            self.tracer.overhead_s += time.perf_counter() - t

    def begin(self, p: Pass) -> None:
        self.spark._jvm.System.gc()  # clean up the previous pass's blocks
        p.cpu0 = self.proc.sample()
        p.pids = set(p.cpu0["pids"])
        p.trace_s = -self.tracer.overhead_s
        p.t0 = time.time()

    def end(self, p: Pass) -> None:
        p.t1 = time.time()
        p.wall = p.t1 - p.t0
        p.trace_s += self.tracer.overhead_s
        p.cpu1 = self.proc.sample()
        p.jobs = self.store.jobs(p.t0, p.t1)
        p.stages = self.store.stages_of(p.jobs)


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _Null()


# ------------------------------------------------------------------ batch

class Batch:
    """A fixed op mix from ``registry.queries()`` over the shipped
    tables. The first pass runs in a fresh session, as a batch job sees
    it, class loading and JIT compilation included: it costs about twice
    the wall of the next and the session is still warming after four
    passes, so no warm-up that fits the run budget reaches a steady
    state. ``epochs`` is None: passes run until the run's seconds are
    up."""

    epochs = None

    def __init__(self, name: str, ops: tuple[str, ...]):
        self.name, self.ops = name, ops

    def setup(self, r: Runner) -> None:
        from s3_elasticsearch_data_pipeline_spark import registry
        self.data_dir = os.path.join(r.run_dir, "data")
        shutil.copytree(gen.DATA_DIR, self.data_dir)
        self.qs = registry.queries()

    def call(self, r: Runner, p: Pass, op: str) -> None:
        p.attempted += 1
        t = time.perf_counter()
        try:
            with r.span(p, op, op):
                with r.span(p, "registry.build", op):
                    df = self.qs[op](r.spark, self.data_dir)
                with r.span(p, "drain", op):
                    got = drain(df)
            p.calls.append(time.perf_counter() - t)
        except Exception as e:  # an op that raises counts as failed
            p.failures.append({"op": op, "error": repr(e)[:500]})
            got = None
        finally:
            r.release(p)
        want = r.golden.get(op)
        if got is not None and list(got) != want:
            p.failures.append({"op": op, "want": want, "got": list(got)})

    def run_pass(self, r: Runner, k: int, traced: bool) -> Pass:
        order = list(self.ops)
        # the first pass keeps the listed order: the session's cold costs
        # fall on whichever op runs first, so a shuffled first pass would
        # vary with the seed
        if k:
            random.Random(r.seed * 1009 + k).shuffle(order)
        p = Pass(traced=traced)
        r.begin(p)
        with r.span(p, "pass", f"pass{k}"):
            for op in order:
                self.call(r, p, op)
        r.end(p)
        return p


# ----------------------------------------------------------- ingest_serve

MONTHS = ("January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December")
SLICE_DOCS = 200    # documents offered per epoch
DELTA_ROWS = 2000   # keyed-sink rows upserted per epoch
PROBES = 2          # single-query probes per epoch
TOP_K = 10


def sink_rows(events: pd.DataFrame) -> pd.DataFrame:
    """Keyed-sink rows from events; the month is a function of the key,
    so an update never moves a key between partitions."""
    return pd.DataFrame({
        "id": [f"ev{i:09d}" for i in events.event_id],
        "month": [MONTHS[i % 12] for i in events.event_id],
        "user_id": events.user_id.to_numpy(),
        "event_type": events.event_type.to_numpy(),
        "value": events.value.to_numpy()})


class IngestServe:
    """State grows with every epoch, so a run measures a fixed number of
    epochs whatever ``--seconds`` says: faster code must not buy itself
    more, costlier epochs. The number is one, because set-up alone takes
    most of the run budget. Set-up ingests the base documents, builds the
    index and the keyed sink, which warms every call an epoch makes but
    the probe; one unmeasured probe of a base vector warms that."""

    name = "ingest_serve"
    epochs = 1

    def setup(self, r: Runner) -> None:
        from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
            build_ivfpq_index, ivfpq_probe_topk)
        from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
            upsert_by_key)
        spark, d = r.spark, os.path.join(r.run_dir, "ingest")
        self.paths = {k: os.path.join(d, k) for k in (
            "src", "corpus", "lsh_index", "ckpt", "ivfpq", "sink", "in")}
        os.makedirs(self.paths["src"])
        os.makedirs(self.paths["in"])
        self.docs = gen.read_table("documents")
        emb = gen.read_table("embeddings")
        events = gen.read_table("events")
        shutil.copy(os.path.join(gen.DATA_DIR, "documents.parquet"),
                    os.path.join(self.paths["src"], "epoch-base.parquet"))
        self.doc_schema = spark.read.parquet(self.paths["src"]).schema
        self._ingest(spark)
        build_ivfpq_index(spark.read.parquet(
            os.path.join(gen.DATA_DIR, "embeddings.parquet")),
            self.paths["ivfpq"])
        ivfpq_probe_topk(spark, self.paths["ivfpq"], spark.createDataFrame(
            [(int(emb.vec_id[0]), [float(x) for x in emb.embedding[0]])],
            "vec_id long, embedding array<float>"), k=TOP_K).collect()
        base_sink = os.path.join(self.paths["in"], "sink-base.parquet")
        gen.write_parquet(sink_rows(events), base_sink)
        upsert_by_key(spark, spark.read.parquet(base_sink), self.paths["sink"])
        # state the checks compare against, grown epoch by epoch
        self.corpus = set(self._corpus_ids(spark))
        want = r.golden["ingest_serve.base_corpus"]
        got = [len(self.corpus), sum(self.corpus)]
        if want != got:
            raise RuntimeError(f"base corpus {got} != golden {want}")
        self.sink = sink_rows(events).set_index("id")
        self.texts = list(self.docs.text)
        self.dims = len(emb.embedding[0])
        self.labels = emb.label.to_numpy()
        self.event_types = events.event_type.unique()
        self.n_users = int(events.user_id.max()) + 1
        self.next_doc = int(self.docs.doc_id.max()) + 1
        self.next_vec = int(emb.vec_id.max()) + 1
        self.next_event = int(events.event_id.max()) + 1
        # the seed picks the near-duplicate share of each epoch's slice
        self.dup_share = float(np.random.default_rng(r.seed).uniform(0.15, 0.30))

    def _ingest(self, spark) -> None:
        from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
            lsh_ingest_stream)
        p = self.paths
        lsh_ingest_stream(spark, p["src"], p["corpus"], p["lsh_index"],
                          p["ckpt"], schema=self.doc_schema)

    def _corpus_ids(self, spark) -> list[int]:
        from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
            read_corpus)
        return [row[0] for row in read_corpus(spark, self.paths["corpus"])
                .select("doc_id").collect()]

    def _arrivals(self, r: Runner, k: int) -> dict:
        """Epoch ``k``'s inputs, written where the program reads them."""
        rng = np.random.default_rng([r.seed, k + 1])
        n_dup = int(round(SLICE_DOCS * self.dup_share))
        n_new = SLICE_DOCS - n_dup
        fresh = gen.random_texts(rng, self.docs.text, n_new)
        # near-duplicates: an earlier text re-spaced (token-identical,
        # byte-different) under a new doc id
        dups = [self.texts[i].replace(" ", "  ")
                for i in rng.integers(0, len(self.texts), n_dup)]
        ids = np.arange(self.next_doc, self.next_doc + SLICE_DOCS)
        order = rng.permutation(SLICE_DOCS)
        texts = [(fresh + dups)[i] for i in order]
        is_fresh = order < n_new
        docs = gen.documents_frame(ids, texts, self.docs, rng)
        gen.write_parquet(docs, os.path.join(self.paths["src"],
                                             f"epoch-{k + 1:04d}.parquet"))
        vecs = gen.unit_vectors(rng, SLICE_DOCS, self.dims)
        vec_ids = np.arange(self.next_vec, self.next_vec + SLICE_DOCS)
        vec_path = os.path.join(self.paths["in"], f"vec-{k + 1}.parquet")
        gen.write_parquet(gen.embeddings_frame(
            vec_ids, vecs, rng.choice(self.labels, SLICE_DOCS)), vec_path)
        # events delta: half updates of existing keys, half new keys
        n_upd = DELTA_ROWS // 2
        upd_ids = rng.choice(self.next_event, n_upd, replace=False)
        new_ids = np.arange(self.next_event,
                            self.next_event + DELTA_ROWS - n_upd)
        ev = pd.DataFrame({
            "event_id": np.concatenate([upd_ids, new_ids]),
            "user_id": rng.integers(0, self.n_users, DELTA_ROWS),
            "event_type": rng.choice(self.event_types, DELTA_ROWS),
            "value": np.round(rng.exponential(20.0, DELTA_ROWS), 2)})
        delta = sink_rows(ev)
        delta_path = os.path.join(self.paths["in"], f"delta-{k + 1}.parquet")
        gen.write_parquet(delta, delta_path)
        probe_ix = rng.choice(SLICE_DOCS, PROBES, replace=False)
        return {"fresh_ids": set(int(i) for i in ids[is_fresh]),
                "texts": texts, "vec_path": vec_path, "delta": delta,
                "delta_path": delta_path,
                "delta_bytes": os.path.getsize(delta_path),
                "probes": [(int(vec_ids[i]), vecs[i]) for i in probe_ix]}

    def run_pass(self, r: Runner, k: int, traced: bool) -> Pass:
        from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
            ivfpq_index_append, ivfpq_probe_topk)
        from s3_elasticsearch_data_pipeline_spark.sinks.keyed import (
            upsert_by_key)
        spark, paths = r.spark, self.paths
        p = Pass(traced=traced)
        a = self._arrivals(r, k)
        sink_files = _files(paths["sink"])
        results = []
        r.begin(p)
        with r.span(p, "pass", f"epoch{k}"):
            steps = (
                ("streaming.lsh_ingest_stream", lambda: self._ingest(spark)),
                ("similarity.ivfpq_index_append", lambda: ivfpq_index_append(
                    spark, paths["ivfpq"],
                    spark.read.parquet(a["vec_path"]))),
                ("sinks.upsert_by_key", lambda: upsert_by_key(
                    spark, spark.read.parquet(a["delta_path"]),
                    paths["sink"])))
            for name, fn in steps:
                self._step(r, p, name, fn)
            for i, (vid, vec) in enumerate(a["probes"]):
                results.append(self._probe(r, p, i, vid, vec,
                                           ivfpq_probe_topk))
        r.end(p)
        p.extra = {"offered": SLICE_DOCS, "delta_bytes": a["delta_bytes"],
                   "files_written": len(_files(paths["sink"]) - sink_files)}
        self._check(r, p, a, results)
        self.next_doc += SLICE_DOCS
        self.next_vec += SLICE_DOCS
        self.next_event += DELTA_ROWS - DELTA_ROWS // 2
        self.texts += a["texts"]
        return p

    def _step(self, r: Runner, p: Pass, name: str, fn) -> None:
        p.attempted += 1
        try:
            with r.span(p, name, name):
                fn()
        except Exception as e:  # an op that raises counts as failed
            p.failures.append({"op": name, "error": repr(e)[:500]})
        finally:
            r.release(p)

    def _probe(self, r: Runner, p: Pass, i: int, vid: int, vec, topk):
        spark = r.spark
        p.attempted += 1
        op = f"probe{i}"
        t = time.perf_counter()
        rows = None
        try:
            with r.span(p, op, op):
                q = spark.createDataFrame(
                    [(vid, [float(x) for x in vec])],
                    "vec_id long, embedding array<float>")
                with r.span(p, "similarity.ivfpq_probe_topk", op):
                    df = topk(spark, self.paths["ivfpq"], q, k=TOP_K)
                with r.span(p, "drain", op):
                    rows = sorted((row["rank"], row["neighbor_id"],
                                   row["sim"]) for row in df.collect())
            p.calls.append(time.perf_counter() - t)
        except Exception as e:  # an op that raises counts as failed
            p.failures.append({"op": op, "error": repr(e)[:500]})
        finally:
            r.release(p)
        return vid, rows

    def _check(self, r: Runner, p: Pass, a: dict, results: list) -> None:
        """Per-epoch goldens derived from the generated inputs: the
        corpus gains exactly the fresh documents, the keyed sink holds
        the last write per key, and a vector probed right after its
        append is its own nearest neighbour."""
        spark = r.spark
        self.corpus |= a["fresh_ids"]
        got = set(self._corpus_ids(spark))
        if got != self.corpus:
            p.failures.append({"op": "corpus", "missing": len(self.corpus
                               - got), "extra": len(got - self.corpus)})
        p.extra["admitted"] = len(a["fresh_ids"])
        self.sink = pd.concat([self.sink[~self.sink.index.isin(
            a["delta"].id)], a["delta"].set_index("id")])
        want = self.sink.reset_index().sort_values("id", ignore_index=True)
        have = (spark.read.parquet(self.paths["sink"]).toPandas()
                .sort_values("id", ignore_index=True)[list(want.columns)])
        if not (len(have) == len(want) and have.equals(want.astype(
                have.dtypes.to_dict()))):
            p.failures.append({"op": "sink", "want_rows": len(want),
                               "got_rows": len(have)})
        p.extra["result_rows"] = 0
        for vid, rows in results:
            if rows is None:
                continue
            p.extra["result_rows"] += len(rows)
            if (len(rows) != TOP_K or rows[0][1] != vid
                    or abs(rows[0][2] - 1.0) > 1e-5):
                p.failures.append({"op": "probe", "vec_id": vid,
                                   "top": rows[:2]})


def _files(root: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(root):
        out.update(os.path.join(d, n) for n in names
                   if not n.startswith((".", "_")))
    return out


WORKLOADS = {
    "corpus_curation": lambda: Batch("corpus_curation", CORPUS_CURATION),
    "ingest_serve": IngestServe,
}
