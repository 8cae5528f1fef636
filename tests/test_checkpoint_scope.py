"""Who releases checkpoint blocks: every operator that checkpoints
intermediates runs them inside ``session.checkpoint_scope``, so a call
leaves pinned only what its returned frame reads, whether it returns
or raises.

Each failing case replaces one helper the operator calls after its
first checkpoint with one that raises. The RDDs persisted before the
call are held as JVM references (``persisted_rdds``), so the async
ContextCleaner cannot free them mid-call: any id that is gone or new
afterwards was freed or left by the call itself.
"""

from __future__ import annotations

import types

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.operators import (
    dedup, graph, ml, text, unigram)
from s3_elasticsearch_data_pipeline_spark.plans import reconcile
from s3_elasticsearch_data_pipeline_spark.plans.incremental import (
    incremental_load)
from s3_elasticsearch_data_pipeline_spark.session import (
    persistent_rdd_ids, release_persistent_rdds)
from tests.conftest import persisted_rdds


class Injected(RuntimeError):
    pass


def _raise(*_args, **_kwargs):
    raise Injected("injected after the first checkpoint")


def _capped(cap: str, call):
    """``call()`` with ``offload.<cap>`` zeroed: its distributed path."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(offload, cap, 0)
        return call()


def _without(module, name):
    """``module`` with ``name`` replaced by a callable that raises."""
    return types.SimpleNamespace(**{**vars(module), name: _raise})


_TEXT = ("the quick brown fox jumps over the lazy dog and then it runs "
         "far away into the deep green forest")


@pytest.fixture(scope="module")
def frames(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "doc_id_a long, doc_id_b long")
    docs = spark.createDataFrame(
        [(1, _TEXT, "en"), (2, _TEXT + " again today", "en"),
         (3, "le renard brun saute par dessus le chien paresseux", "fr")],
        "doc_id long, text string, lang string")
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)],
        "src long, dst long")
    return types.SimpleNamespace(pairs=pairs, docs=docs, edges=edges)


def _reconcile(spark, frames, tmp_path):
    """Reconcile a sink holding one orphan (month m0) against a source
    with one row the sink lacks (month m1): the orphan checkpoint comes
    first, then the repair upsert."""
    rows = [(f"r{i}", f"m{i % 2}", float(i)) for i in range(6)]
    schema = "id string, month string, value double"
    sink = str(tmp_path / "serving")
    incremental_load(spark, spark.createDataFrame(rows, schema), sink)
    (spark.createDataFrame([("ghost", "m0", 1.0)], schema)
     .write.mode("append").partitionBy("month").parquet(sink))
    source = spark.createDataFrame(rows + [("new", "m1", 9.0)], schema)
    return reconcile.reconcile(spark, source, sink, prune_orphans=True)


#: op -> (call, (module, name, replacement) that raises after the first
#: checkpoint, RDDs left pinned on return, RDDs left pinned on raise).
#: ``unigram_encode``'s returned plan reads its token and word-type
#: tables, which its scope keeps beside the result on return.
CASES = {
    "connected_components": (
        lambda s, f, t: dedup.connected_components(f.pairs),
        (dedup, "_driver_union_find", _raise), 0, 0),
    "connected_components_distributed": (
        lambda s, f, t: _capped("DRIVER_CC_MAX_PAIRS", lambda:
                                dedup.connected_components(f.pairs)),
        (dedup, "F", _without(F, "least")), 1, 0),
    "connected_components_star": (
        lambda s, f, t: dedup.connected_components_star(f.pairs),
        (dedup, "_driver_union_find", _raise), 0, 0),
    "connected_components_star_distributed": (
        lambda s, f, t: _capped("DRIVER_CC_MAX_PAIRS", lambda:
                                dedup.connected_components_star(f.pairs)),
        (dedup, "F", _without(F, "least")), 1, 0),
    "duplicate_spans": (
        lambda s, f, t: dedup.duplicate_spans(f.docs),
        (dedup, "F", _without(F, "sequence")), 1, 0),
    "duplicate_spans_maximal": (
        lambda s, f, t: dedup.duplicate_spans_maximal(f.docs),
        (dedup, "_suffix_rank_round", _raise), 1, 0),
    "pagerank": (
        lambda s, f, t: graph.pagerank(f.edges),
        (graph, "aqe_disabled", _raise), 1, 0),
    "bpe_train": (
        lambda s, f, t: text.bpe_train(f.docs),
        (text, "_bpe_train_driver_side", _raise), 0, 0),
    "unigram_encode": (
        lambda s, f, t: unigram.unigram_encode(f.docs),
        (unigram, "_seed_counts", _raise), 3, 0),
    "train_quality_classifier": (
        lambda s, f, t: _capped("DRIVER_GD_MAX_ROWS", lambda:
                                ml.train_quality_classifier(f.docs)),
        (ml, "math", _without(ml.math, "ceil")), 0, 0),
    "reconcile": (_reconcile, (reconcile, "upsert_by_key", _raise), 0, 0),
}


@pytest.mark.parametrize("outcome", ["returns", "raises"])
@pytest.mark.parametrize("op", sorted(CASES))
def test_op_leaves_only_what_its_result_reads(spark, frames, tmp_path,
                                              monkeypatch, op, outcome):
    call, (module, name, replacement), on_return, on_raise = CASES[op]
    held = persisted_rdds(spark)
    before = set(held)
    if outcome == "raises":
        monkeypatch.setattr(module, name, replacement)
        with pytest.raises(Injected):
            call(spark, frames, tmp_path)
        expected = on_raise
    else:
        out = call(spark, frames, tmp_path)
        if isinstance(out, DataFrame):
            out.count()  # the blocks the result reads are still there
        expected = on_return
    after = persistent_rdd_ids(spark)
    left = after - before
    release_persistent_rdds(spark, left)
    assert before <= after, f"freed RDDs it did not pin: {before - after}"
    assert len(left) == expected, left
    del held
