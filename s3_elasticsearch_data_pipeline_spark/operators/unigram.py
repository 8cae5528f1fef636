"""Unigram-LM (SentencePiece-style) tokenizer: trainer + Viterbi
encoder — the OTHER tokenizer family modern LLM pipelines run (Kudo,
ACL 2018: subword regularization / SentencePiece's unigram mode),
next to BPE (operators/text.py:bpe_train).

Algorithm (deterministic hard-EM variant):

1. **Seed vocabulary** — all single characters of the corpus plus the
   ``seed_size`` most frequent multi-character substrings (length ≤
   ``max_piece_len``), occurrence-counted over the word-CHUNK type
   table and tie-broken (count desc, piece asc). Single characters
   guarantee every string stays segmentable.
2. **EM iterations** (fixed count — the k-means/BPE determinism
   discipline): each round Viterbi-segments every chunk type under
   the current piece probabilities (hard E-step), counts piece usage
   weighted by chunk frequency, then re-estimates ``p = count /
   total`` (M-step). Unused multi-character pieces drop out (the
   pruning step, count-based rather than loss-based — documented
   divergence from SentencePiece's batched loss prune); single
   characters are kept with add-one-floor smoothing
   (``max(count, 1)``) so feasibility never breaks.
3. **Viterbi encode** — segment each word with the trained
   probabilities, maximizing the PRODUCT of piece probabilities.

Cross-engine float discipline (the reason this is oracle-checkable):
Viterbi maximizes a probability **product**, not a log-prob sum —
``score[i] = score[j] * p(piece)`` is one IEEE multiply per DP step
in a fixed order, and ``p = count / total`` is one integer-to-double
division, so every score is bit-identical in Python and DuckDB (no
transcendentals anywhere; the published log-sum form is numerically
identical in argmax but NOT bit-replayable across libms). Underflow
is structurally impossible: ≥ 1e-12 per piece, ≤ 16 pieces per chunk
⇒ scores ≥ 1e-192 ≫ DBL_MIN. Ties break on the smaller split point
``j`` (the longer last piece), identically on both engines.

Scale shape (the BPE trick, kept): training runs on the word-type →
chunk-type table — vocab-sized regardless of corpus size — so each
EM round is one Arrow-batched Viterbi pass over chunk types + one
piece-count aggregate (~vocab rows collected, like the k-means
centroid table). Words are chunked to ``UNIT_LEN`` (16) characters
(scraped-corpus "words" beyond that are URLs/DNA/garbage; chunking
bounds the DP and the oracle's unrolled-CTE depth). The corpus-sized
passes are exactly two: the word-type aggregate and the encode
join-back.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.functions.textfns import tokens
from s3_elasticsearch_data_pipeline_spark.session import checkpoint_scope
from s3_elasticsearch_data_pipeline_spark.tables import (
    parallelize_for_compute as _par)

#: Chunk length words are cut to before segmentation (bounds the DP
#: unroll on both engines; SentencePiece similarly caps sentence
#: length). 16 chars covers essentially all natural-language words.
UNIT_LEN = 16
#: Maximum piece length considered during seeding and segmentation.
MAX_PIECE_LEN = 4
#: Multi-character seed pieces kept (plus ALL single characters).
SEED_SIZE = 48
#: Fixed hard-EM iteration count (determinism discipline: never
#: converge-by-threshold across engines).
EM_ITERS = 2


#: The word → UNIT_LEN-chunk explode expression (shared by the
#: training chunk-type table and the encode join-back so the two can
#: never disagree on chunk boundaries).
_CHUNKS_EXPR = (f"transform(sequence(0, cast(floor((length(word) - 1) "
                f"/ {UNIT_LEN}) as int)), "
                f"k -> substring(word, k * {UNIT_LEN} + 1, {UNIT_LEN}))")


def _words(documents: DataFrame) -> DataFrame:
    """(word, wn) word-type table — the corpus-sized tokenize pass."""
    return (_par(documents)
            .select(F.explode(tokens(F.col("text"))).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("wn")))


def _units_of_words(words: DataFrame) -> DataFrame:
    """(unit, n) chunk-type table from the word-type table: words
    chunked to UNIT_LEN characters, occurrence-weighted."""
    return (words
            .select("wn", F.explode(F.expr(_CHUNKS_EXPR)).alias("unit"))
            .groupBy("unit").agg(F.sum("wn").alias("n")))


def _units(documents: DataFrame) -> DataFrame:
    """(unit, n) chunk-type table: whitespace words, chunked to
    UNIT_LEN characters, occurrence-weighted. The one corpus-sized
    pass of training."""
    return _units_of_words(_words(documents))


def _seed_counts(units: DataFrame, seed_size: int,
                 max_piece: int) -> dict[str, int]:
    """Seed vocabulary counts: every single character (feasibility
    floor) + the top ``seed_size`` multi-char substrings by
    (count desc, piece asc). ONE kilobyte collect — the singles and
    the ranked multis ride the same job (r10: two separate collects
    re-ran the substring-explode aggregate per branch; Catalyst does
    not CSE across actions). The rank window partitions on the
    single/multi split, so multis rank among themselves exactly as
    the old ``orderBy ... limit`` did (same (count desc, piece asc)
    total order) and singles survive regardless of rank."""
    from pyspark.sql import Window
    sub = (units.select("n", F.explode(F.expr(
        f"flatten(transform(sequence(1, length(unit)), s -> "
        f"transform(sequence(1, least({max_piece}, "
        f"length(unit) - s + 1)), l -> substring(unit, s, l))))"
    )).alias("piece"))
        .groupBy("piece").agg(F.sum("n").alias("c")))
    w = Window.partitionBy(F.length("piece") == 1).orderBy(
        F.col("c").desc(), "piece")
    rows = (sub.withColumn("__r", F.row_number().over(w))
            .where((F.length("piece") == 1)
                   | (F.col("__r") <= seed_size))
            .collect())
    return {r["piece"]: int(r["c"]) for r in rows}


def _viterbi_pieces(unit: str, probs: dict, max_piece: int) -> list:
    """Best segmentation of one chunk: maximize the product of piece
    probabilities (fixed-order IEEE multiplies — see module
    docstring); ties prefer the smaller split point j. Pure Python —
    called per chunk TYPE, never per occurrence."""
    L = len(unit)
    score = [1.0] + [0.0] * L
    parent = [0] * (L + 1)
    for i in range(1, L + 1):
        best, bj = None, 0
        for j in range(max(0, i - max_piece), i):
            cand = score[j] * probs.get(unit[j:i], 0.0)
            if best is None or cand > best:
                best, bj = cand, j
        score[i], parent[i] = best, bj
    pieces, pos = [], L
    while pos > 0:
        j = parent[pos]
        pieces.append(unit[j:pos])
        pos = j
    pieces.reverse()
    return pieces


def _segment_fn(probs: dict, max_piece: int):
    """mapInPandas kernel: (unit, n) -> (unit, n, pieces). The probs
    dict is vocab-sized driver state (kilobytes), closed over like the
    k-means cell kernel (quantizer._quantizer_cells_fn)."""
    def run(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "unit": pdf["unit"], "n": pdf["n"],
                "pieces": [_viterbi_pieces(u, probs, max_piece)
                           for u in pdf["unit"]]})
    return run


def _em_probs(spark, units: DataFrame, counts: dict[str, int],
              iters: int, max_piece: int) -> dict[str, int]:
    """Run ``iters`` hard-EM rounds; return the final piece counts.
    Each round: Arrow Viterbi pass over chunk types + ONE piece-count
    aggregate collect (vocab-sized); singles smoothed to >= 1,
    unused multi-char pieces pruned."""
    singles = {p for p in counts if len(p) == 1}
    for _ in range(iters):
        total = sum(counts.values())
        probs = {p: c / total for p, c in counts.items()}
        seg = units.mapInPandas(
            _segment_fn(probs, max_piece),
            "unit string, n bigint, pieces array<string>")
        used = {r["piece"]: int(r["c"]) for r in
                (seg.select(F.explode("pieces").alias("piece"), "n")
                 .groupBy("piece").agg(F.sum("n").alias("c"))
                 .collect())}
        counts = {p: max(used.get(p, 0), 1) for p in sorted(singles)}
        counts.update({p: c for p, c in used.items() if len(p) >= 2})
    return counts


def unigram_train(documents: DataFrame, seed_size: int = SEED_SIZE,
                  iters: int = EM_ITERS,
                  max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """Train the unigram-LM piece table (module docstring). Returns
    (rank, piece, freq, prob): rank by (freq desc, piece asc), prob
    floor-rounded to 1e-6 exactly as the DuckDB twin rounds it."""
    spark = documents.sparkSession
    # NB (r11, measured rejection): round-robining this vocab-small
    # checkpoint to cluster width to parallelize the EM Viterbi passes
    # made every round SLOWER (per-round stage 0.17 s -> 0.3-0.47 s;
    # exec 8-10 s across 32 tasks with only ~0.3 s CPU — Python-worker
    # fan-out wait dominates KB-scale data). The single AQE-coalesced
    # task is the right shape at fixture scale; at real vocab sizes
    # the aggregate's own shuffle keeps it multi-partition anyway.
    with checkpoint_scope(spark):
        units = _units(documents).localCheckpoint(eager=True)
        counts = _seed_counts(units, seed_size, max_piece_len)
        if not counts:
            return spark.createDataFrame(
                [], "rank int, piece string, freq bigint, prob double")
        counts = _em_probs(spark, units, counts, iters, max_piece_len)
    total = sum(counts.values())
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return spark.createDataFrame(
        [(r + 1, p, c, math.floor(c / total * 1e6 + 0.5) / 1e6)
         for r, (p, c) in enumerate(rows)],
        "rank int, piece string, freq bigint, prob double")


def unigram_encode(documents: DataFrame, seed_size: int = SEED_SIZE,
                   iters: int = EM_ITERS,
                   max_piece_len: int = MAX_PIECE_LEN,
                   head_pieces: int = 12) -> DataFrame:
    """Viterbi-encode every document with the trained unigram LM —
    the apply side of :func:`unigram_train` (together: the tokenizer
    round trip). Same scale trick as bpe_encode: segment each chunk
    TYPE once (the interpreted DP runs over vocab-sized data), then
    join occurrences back and assemble per-doc stats.

    Returns (doc_id, n_words, n_chars, n_pieces, head) — head is the
    first ``head_pieces`` pieces in document order, pipe-joined."""
    spark = documents.sparkSession
    # r11 (VERDICT item 4): tokenize the corpus ONCE. The per-
    # occurrence (doc_id, pos, word) table is a LAZY localCheckpoint
    # (materialized as a side effect of the words aggregate below — no
    # separate write job, unlike the r10 eager attempt that measured
    # 4.0 -> 5.0 s), and the word-TYPE table is checkpointed on top of
    # it. Together they replace THREE corpus tokenize passes (training
    # units, the encode word-distinct branch, the encode join-back)
    # with one, and the word-distinct aggregate disappears outright —
    # the words table's keys ARE the distinct words. At 100 TB this is
    # the difference between one corpus scan and three.
    # Both stay pinned with the result (the returned plan reads BOTH —
    # that is the single-tokenize trade): callers release them by
    # unpersisting after draining the result, exactly as they already
    # must for unit_pieces. The scope owns them from the start, so a
    # raise inside it releases them too. The chunk-type segmentation
    # table is kept the same way (bpe_encode's word_syms discipline);
    # the training-side units checkpoint is released by the scope.
    with checkpoint_scope(spark) as keep:
        toks = keep(_par(documents)
                    .select("doc_id",
                            F.posexplode(tokens(F.col("text")))
                            .alias("pos", "word")), eager=False)
        n_obs = Observation()
        words = keep(toks.groupBy("word")  # fills toks
                     .agg(F.count(F.lit(1)).alias("wn"))
                     .observe(n_obs, F.count(F.lit(1)).alias("n")))
        units = _units_of_words(words).localCheckpoint(eager=True)
        counts = _seed_counts(units, seed_size, max_piece_len)
        if counts:
            counts = _em_probs(spark, units, counts, iters, max_piece_len)
            total = sum(counts.values())
            probs = {p: c / total for p, c in counts.items()}
        else:
            probs = {}
        unit_pieces = keep(units.mapInPandas(
            _segment_fn(probs, max_piece_len),
            "unit string, n bigint, pieces array<string>")
            .select("unit", "pieces"))

    word_units = words.select(
        "word", F.posexplode(F.expr(_CHUNKS_EXPR)).alias("k", "unit"))
    # Pin the piece-assembly aggregate at cluster parallelism
    # (REPARTITION_BY_NUM is exempt from AQE coalescing): the exchange
    # exists either way (ENSURE_REQUIREMENTS before), but its bytes
    # are vocab-small while its per-word work (array_sort + flatten)
    # is CPU-heavy, and AQE's byte-based coalescing was running it as
    # ONE task (the measured 0.78 s single-task assembly stage).
    par = spark.sparkContext.defaultParallelism
    word_pieces = (word_units.join(unit_pieces, "unit")
                   .repartition(par, "word")
                   .groupBy("word")
                   .agg(F.sum(F.size("pieces")).cast("int").alias("np"),
                        F.flatten(F.array_sort(
                            F.collect_list(F.struct("k", "pieces")))
                            .getField("pieces")).alias("wpieces")))
    # Broadcast the VOCAB side when it is vocab-sized — the planner's
    # size estimate was broadcasting the OCCURRENCE side (toks), which
    # inverts at corpus scale; above the cap the join runs un-hinted
    # (both sides shuffle by word — the correct 100 TB shape). The
    # words checkpoint's Observation counts them, not an action.
    n_word_types = n_obs.get["n"]
    hint = (F.broadcast if offload.decide(
        "unigram.unigram_encode", n_word_types, 0,
        ("rows", n_word_types, offload.MAX_BROADCAST_WORDS)) is None
        else (lambda d: d))
    encoded = (toks.join(hint(word_pieces), "word")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_words"),
                    F.sum(F.length("word")).cast("int").alias("n_chars"),
                    F.sum("np").cast("int").alias("n_pieces"),
                    F.concat_ws("|", F.slice(
                        F.flatten(F.array_sort(
                            F.collect_list(F.struct("pos", "wpieces")))
                            .getField("wpieces")),
                        F.lit(1), F.lit(head_pieces))).alias("head")))
    return (documents.select("doc_id").join(encoded, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_words", F.lit(0)).alias("n_words"),
                    F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
                    F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
                    F.coalesce("head", F.lit("")).alias("head")))
