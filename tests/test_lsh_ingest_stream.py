"""Streaming dedup-at-ingest (streaming/lsh_ingest.py): cross-batch
near-dup rejection against the persisted band index, deterministic
in-batch admission, and idempotent re-runs.

NB: the documents table intentionally contains natural near-dups, so
assertions are behavioral (who must be rejected / retained) rather
than exact counts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
    lsh_ingest_stream, read_corpus)


def _docs(spark, sf_smoke):
    return (spark.read.parquet(os.path.join(sf_smoke, "documents.parquet"))
            .select("doc_id", "lang", "text"))


def test_cross_batch_near_dups_rejected(spark, sf_smoke, tmp_path):
    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    base = _docs(spark, sf_smoke).where(F.col("doc_id") < 40)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    base.write.parquet(src)

    lsh_ingest_stream(spark, src, corpus, index, ckpt)
    first_ids = {r["doc_id"] for r in
                 read_corpus(spark, corpus).select("doc_id").collect()}
    # in-batch natural near-dups may drop a few, but admission is a
    # non-empty subset of the drop and the corpus-defining invariant
    assert first_ids and first_ids <= base_ids

    # second drop: EXACT copies of every base doc under shifted ids
    # (each copy must collide with its admitted original, or with
    # whatever its original collided with) plus later documents
    dups = base.withColumn("doc_id", F.col("doc_id") + 100000)
    fresh = _docs(spark, sf_smoke).where(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 60))
    fresh_ids = {r["doc_id"] for r in fresh.select("doc_id").collect()}
    dups.unionByName(fresh).write.mode("append").parquet(src)

    lsh_ingest_stream(spark, src, corpus, index, ckpt)
    ids = {r["doc_id"] for r in
           read_corpus(spark, corpus).select("doc_id").collect()}
    assert not any(i >= 100000 for i in ids), \
        "copies of already-admitted docs must be rejected"
    assert ids >= first_ids, "prior admissions must be retained"
    assert ids - first_ids <= fresh_ids
    assert ids & fresh_ids, "unrelated new docs must be admitted"

    # a third run with no new files changes nothing
    before = sorted(ids)
    lsh_ingest_stream(spark, src, corpus, index, ckpt)
    after = sorted(r["doc_id"] for r in
                   read_corpus(spark, corpus).select("doc_id").collect())
    assert after == before


def test_in_batch_dups_lower_id_wins(spark, sf_smoke, tmp_path):
    src = str(tmp_path / "src")
    base = _docs(spark, sf_smoke).where(F.col("doc_id") < 10)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    # one drop containing each doc twice under different ids: the
    # shifted twin must always lose to its lower-id original
    both = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + 500000))
    both.write.parquet(src)
    lsh_ingest_stream(spark, src, str(tmp_path / "c"),
                      str(tmp_path / "i"), str(tmp_path / "k"))
    ids = {r["doc_id"] for r in
           read_corpus(spark, str(tmp_path / "c"))
           .select("doc_id").collect()}
    assert ids and ids <= base_ids
    assert not any(i >= 500000 for i in ids)


def test_short_docs_dedup_exactly_via_fallback_channel(spark, tmp_path):
    """Documents too short to shingle (< n tokens) must still dedup —
    EXACTLY, via the band -1 text-hash channel — instead of being
    invisible to the index and re-admitted on every drop."""
    src = str(tmp_path / "src")
    first = spark.createDataFrame(
        [(1, "en", "hello world"), (2, "en", "tiny"),
         (3, "en", "completely different short")],
        "doc_id long, lang string, text string")
    first.write.parquet(src)
    args = (spark, src, str(tmp_path / "c"), str(tmp_path / "i"),
            str(tmp_path / "k"))
    lsh_ingest_stream(*args)
    # second drop: exact copies of the short docs + one new short doc
    spark.createDataFrame(
        [(100, "en", "hello world"), (200, "en", "tiny"),
         (300, "en", "new short text")],
        "doc_id long, lang string, text string") \
        .write.mode("append").parquet(src)
    lsh_ingest_stream(*args)
    ids = {r["doc_id"] for r in
           read_corpus(spark, str(tmp_path / "c"))
           .select("doc_id").collect()}
    assert ids == {1, 2, 3, 300}


def test_hot_bucket_cap_bounds_boilerplate_ingest(spark, sf_smoke,
                                                  tmp_path):
    """The ingest twin of the batch operator's hot-bucket guard
    (tests/test_skew_stress.py): a boilerplate-heavy drop against an
    accumulated-boilerplate index is df² per micro-batch without the
    cap. With ``max_bucket_docs``: (1) the boilerplate family's
    buckets go hot, so its docs are ADMITTED (bounded join, the
    documented recall trade — exact dedup owns byte-identical text),
    (2) cool-bucket admissions are byte-identical to the uncapped run,
    and (3) the exempt band −1 exact-text channel keeps deduping
    short docs exhaustively."""
    boiler_text = ("the quick brown fox jumps over the lazy dog "
                   "again and again " * 3)
    normal = _docs(spark, sf_smoke).where(F.col("doc_id") < 40) \
        .select("doc_id", "text")
    boiler = (spark.range(300)
              .select((F.col("id") + 500_000).alias("doc_id"),
                      F.lit(boiler_text).alias("text")))
    shorts = (spark.range(50)
              .select((F.col("id") + 900_000).alias("doc_id"),
                      F.lit("tiny doc").alias("text")))

    def run(cap, name):
        src = str(tmp_path / name / "src")
        corpus = str(tmp_path / name / "corpus")
        index = str(tmp_path / name / "index")
        ckpt = str(tmp_path / name / "ckpt")
        normal.unionByName(boiler).unionByName(shorts) \
            .write.parquet(src)
        lsh_ingest_stream(spark, src, corpus, index, ckpt,
                          max_bucket_docs=cap)
        # second drop: more boilerplate probing the accumulated index
        (spark.range(100)
         .select((F.col("id") + 600_000).alias("doc_id"),
                 F.lit(boiler_text).alias("text"))
         .write.mode("append").parquet(src))
        lsh_ingest_stream(spark, src, corpus, index, ckpt,
                          max_bucket_docs=cap)
        return {r["doc_id"] for r in
                read_corpus(spark, corpus).select("doc_id").collect()}

    uncapped = run(None, "uncapped")
    capped = run(50, "capped")
    # uncapped: one boilerplate survivor; capped: the family is hot in
    # every band, so every boilerplate doc is admitted (bounded join)
    assert len([i for i in uncapped if 500_000 <= i < 700_000]) == 1
    assert len([i for i in capped if 500_000 <= i < 700_000]) == 400
    # cool-bucket admissions identical with and without the cap
    assert ({i for i in capped if i < 500_000}
            == {i for i in uncapped if i < 500_000})
    # band −1 exact channel is exempt: 50 identical short docs still
    # collapse to the lowest id despite exceeding the cap
    assert ({i for i in capped if i >= 900_000} == {900_000}
            and {i for i in uncapped if i >= 900_000} == {900_000})


def test_incremental_lsh_cap_admits_hot_keeps_cool_identical(
        spark, sf_smoke):
    """Batch dedup-at-ingest twin: with the cap, hot-bucket batch docs
    are admitted, cool-bucket decisions are byte-identical."""
    from s3_elasticsearch_data_pipeline_spark.operators import dedup
    boiler_text = ("the quick brown fox jumps over the lazy dog "
                   "again and again " * 3)
    normal = _docs(spark, sf_smoke).where(F.col("doc_id") < 60) \
        .select("doc_id", "text")
    boiler = (spark.range(200)
              .select((F.col("id") + 500_001).alias("doc_id"),
                      F.lit(boiler_text).alias("text")))
    docs = normal.unionByName(boiler)
    uncapped = {r["doc_id"] for r in
                dedup.incremental_lsh_dedup(
                    docs, batch_mod=3, max_bucket_docs=None).collect()}
    capped = {r["doc_id"] for r in
              dedup.incremental_lsh_dedup(
                  docs, batch_mod=3, max_bucket_docs=50).collect()}
    boiler_batch = {i for i in range(500_001, 500_201) if i % 3 == 0}
    # uncapped: every boilerplate batch doc matches the corpus copies
    assert not (uncapped & boiler_batch)
    # capped: hot buckets never match — all admitted
    assert capped & boiler_batch == boiler_batch
    # cool decisions identical
    assert ({i for i in capped if i < 500_000}
            == {i for i in uncapped if i < 500_000})


def test_hash_mode_pinned_with_index(spark, sf_smoke, tmp_path):
    """The persisted band index records its build hash_mode and a
    mismatched re-run fails fast instead of silently never colliding
    (which would admit every duplicate); a pre-marker legacy index is
    refused outright because its mode is unknowable."""
    import pytest
    src = str(tmp_path / "src")
    corpus, index = str(tmp_path / "c"), str(tmp_path / "i")
    _docs(spark, sf_smoke).where(F.col("doc_id") < 20).write.parquet(src)
    lsh_ingest_stream(spark, src, corpus, index, str(tmp_path / "k1"))
    # marker written with the default mode
    with open(os.path.join(index, "_HASH_MODE")) as fh:
        assert fh.read().strip() == "xxhash64"
    # same mode re-runs fine (no new files -> no-op)
    lsh_ingest_stream(spark, src, corpus, index, str(tmp_path / "k1"))
    # a different mode against the same index must fail fast
    with pytest.raises(ValueError, match="hash_mode"):
        lsh_ingest_stream(spark, src, corpus, index,
                          str(tmp_path / "k2"), hash_mode="portable")
    # legacy index (epochs present, marker absent) is refused
    os.remove(os.path.join(index, "_HASH_MODE"))
    with pytest.raises(ValueError, match="_HASH_MODE"):
        lsh_ingest_stream(spark, src, corpus, index, str(tmp_path / "k3"))


def test_hash_mode_repin_allowed_while_index_empty(tmp_path):
    """A first run that dies before producing any epoch must not wedge
    the index on its hash_mode: with zero epoch= directories a retry
    under a DIFFERENT mode re-pins the marker (the index is empty, so
    a rebuild-equivalent restart is safe); once an epoch exists the
    mismatch fails fast as before. Marker writes are atomic
    (temp + os.replace) so concurrent first runs never tear it."""
    import pytest

    from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
        _check_and_pin_hash_mode)
    index = str(tmp_path / "i")
    _check_and_pin_hash_mode(index, "xxhash64")  # first attempt pins
    with open(os.path.join(index, "_HASH_MODE")) as fh:
        assert fh.read() == "xxhash64"
    # no epochs yet -> a different mode RE-pins instead of raising
    _check_and_pin_hash_mode(index, "portable")
    with open(os.path.join(index, "_HASH_MODE")) as fh:
        assert fh.read() == "portable"
    # an epoch directory freezes the mode
    os.makedirs(os.path.join(index, "epoch=0"))
    with pytest.raises(ValueError, match="hash_mode"):
        _check_and_pin_hash_mode(index, "xxhash64")
    _check_and_pin_hash_mode(index, "portable")  # recorded mode still ok
    # no stray temp file left behind
    assert not os.path.exists(os.path.join(index, "_HASH_MODE.tmp"))


def test_fallback_channel_routes_the_docs_the_banding_skips(spark):
    """Every doc the banding skips (null text, empty or blank text,
    fewer than ``n`` tokens) takes the exact-text fallback row, and
    every doc it bands takes none: the token-count predicate selects
    the same rows as the anti-join against the banded doc ids that it
    replaced."""
    from s3_elasticsearch_data_pipeline_spark.operators.dedup import (
        _lsh_banded, portable_hash60)
    from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
        _banded_with_fallback)
    n, num_hashes, bands = 3, 16, 4
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "two tokens"),
         (5, "exactly three tokens"), (6, "  padded   three  tokens "),
         (7, " ".join(f"word{i}" for i in range(40))), (8, "tiny")],
        "doc_id long, text string")

    def anti_join_definition(df, hash_mode):
        text_hash = (portable_hash60 if hash_mode == "portable"
                     else F.xxhash64)
        banded = _lsh_banded(df, n, num_hashes, bands, hash_mode)
        short = (df.join(banded.select("doc_id").distinct(), "doc_id",
                         "left_anti")
                 .select("doc_id",
                         F.array_repeat(text_hash("text"), num_hashes)
                         .alias("sig"),
                         F.lit(-1).alias("band"),
                         text_hash("text").alias("bucket")))
        return banded.unionByName(short)

    def rows(df):
        return sorted((r["doc_id"], tuple(r["sig"]), r["band"],
                       r["bucket"]) for r in df.collect())

    for hash_mode in ("xxhash64", "portable"):
        got = rows(_banded_with_fallback(docs, n, num_hashes, bands,
                                         hash_mode))
        assert got == rows(anti_join_definition(docs, hash_mode))
        assert {d for d, _, band, _ in got if band == -1} == \
            {1, 2, 3, 4, 8}


def test_epoch_corpus_and_index_admit_the_same_docs(spark, sf_smoke,
                                                    tmp_path):
    """One admission decision per epoch feeds both writes: in every
    ``epoch=`` partition the corpus doc ids equal the distinct index
    doc ids, across drops holding in-batch and cross-batch near-dups
    and short exact copies."""
    from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
        _read_optional_parquet)
    src = str(tmp_path / "src")
    corpus, index = str(tmp_path / "c"), str(tmp_path / "i")
    docs = _docs(spark, sf_smoke).select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 20)
    shorts = spark.createDataFrame([(900, "hello world"), (901, "tiny")],
                                   "doc_id long, text string")
    # drop 1: in-batch near-dups (re-spaced copies under higher ids)
    (base.unionByName(shorts)
     .unionByName(base.where(F.col("doc_id") % 2 == 0).select(
         (F.col("doc_id") + 500_000).alias("doc_id"),
         F.regexp_replace("text", " ", "  ").alias("text")))
     .write.parquet(src))
    args = (spark, src, corpus, index, str(tmp_path / "k"))
    lsh_ingest_stream(*args)
    # drop 2: cross-batch copies of drop 1, fresh docs and an in-batch
    # copy of a fresh doc
    fresh = docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 35))
    (base.withColumn("doc_id", F.col("doc_id") + 100_000)
     .unionByName(shorts.withColumn("doc_id", F.col("doc_id") + 100_000))
     .unionByName(fresh)
     .unionByName(fresh.where(F.col("doc_id") == 20)
                  .withColumn("doc_id", F.lit(600_000).cast("long")))
     .write.mode("append").parquet(src))
    lsh_ingest_stream(*args)

    def ids_by_epoch(df):
        out: dict[int, set[int]] = {}
        for r in df.select("epoch", "doc_id").distinct().collect():
            out.setdefault(r["epoch"], set()).add(r["doc_id"])
        return out

    admitted = ids_by_epoch(_read_optional_parquet(spark, corpus))
    indexed = ids_by_epoch(_read_optional_parquet(spark, index))
    assert len(admitted) == 2 and admitted == indexed
    offered = {r["doc_id"] for r in
               spark.read.parquet(src).select("doc_id").collect()}
    assert sum(map(len, admitted.values())) < len(offered)
    assert not any(i >= 100_000 for ids in admitted.values() for i in ids)
