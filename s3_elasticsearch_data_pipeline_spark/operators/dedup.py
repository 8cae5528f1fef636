"""Deduplication operators over the documents table (M4 north star).

Five strategies, scale-ranked:

- ``exact_dedup``        — hash-groupBy on md5(text): the shuffle moves
  16-byte hashes, never document bodies.
- ``ngram_jaccard_pairs``— exact n-gram Jaccard within cheap blocking
  keys (language); the quadratic blow-up is bounded per block.
- ``minhash_lsh_pairs``  — MinHash signatures + banded LSH: candidate
  pairs only where a band bucket collides; the 100 TB path (cost ~
  n_bands × docs, not docs²).
- ``simhash_fingerprints`` / ``simhash_pairs`` — 64-bit SimHash with
  banded blocking + Hamming verification.
- ``embedding_near_dup_pairs`` — cosine near-duplicates over the
  embeddings table, label-blocked.

All are pure built-in expressions (arrays + higher-order functions);
the only shuffles are the groupBys/joins on compact keys.

Algorithm provenance (public literature): MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997) with
banded LSH (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3);
SimHash (Charikar, "Similarity estimation techniques from rounding
algorithms", STOC 2002; Manku et al., WWW 2007 for the Hamming-block
lookup); the inverted-index exact-Jaccard join is the standard
set-similarity-join shape (cf. PPJoin, Xiao et al., WWW 2008).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.functions.textfns import (
    tokens, word_ngrams_from_tokens)
from s3_elasticsearch_data_pipeline_spark.tables import (
    parallelize_for_compute)
from s3_elasticsearch_data_pipeline_spark.functions.vector import cosine
from s3_elasticsearch_data_pipeline_spark.operators.quantizer import (
    _TARGET_CELL_OCCUPANCY, _quantizer_cells_fn, _train_quantizer)
from s3_elasticsearch_data_pipeline_spark.session import checkpoint_scope


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy (md5 of the body). Returns one row
    per distinct text with the surviving (minimum) doc_id and the
    duplicate count. At scale: the aggregate shuffles only
    (hash, doc_id) pairs — document bodies stay in the scan stage."""
    return (documents
            .select(F.md5("text").alias("text_hash"), "doc_id")
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_dups")))


def _shingle_docs(documents: DataFrame, n: int, block_col: str) -> DataFrame:
    """doc-level shingle table: (doc_id, block, n_sh, sh_arr) where
    ``sh_arr`` is the distinct word-n-gram set as xxhash64 longs —
    document text never reaches a shuffle after this projection."""
    # Guard on token count, not shingle count: a filter on the shingle
    # array would be pushed below the projection and re-inline the
    # whole shingling expression into the filter condition.
    return (parallelize_for_compute(documents)
            .withColumn("toks", tokens(F.col("text")))
            .where(F.size("toks") >= n)
            .select("doc_id", F.col(block_col).alias("block"),
                    word_ngrams_from_tokens(F.col("toks"), n)
                    .alias("shingles"))
            .select("doc_id", "block",
                    F.transform("shingles", lambda s: F.xxhash64(s))
                    .alias("sh_arr"))
            .select("doc_id", "block", F.size("sh_arr").alias("n_sh"),
                    "sh_arr"))


def _all_pairs_candidates(shingled: DataFrame) -> DataFrame:
    """Every pair sharing ≥1 shingle (full inverted index — the
    pre-prefix-filter baseline; exact but Σ_shingle(postings²))."""
    idx = (shingled.select("doc_id", "block",
                           F.explode("sh_arr").alias("sh"))
           .localCheckpoint(eager=True))
    a, b = idx.alias("a"), idx.alias("b")
    return (a.join(b, (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_id_a"),
                    F.col("b.doc_id").alias("doc_id_b"))
            .distinct())


def _prefix_candidates(shingled: DataFrame, threshold: float) -> DataFrame:
    """AllPairs/PPJoin positional-prefix candidate pairs — EXACT for
    Jaccard ≥ ``threshold`` (Chaudhuri et al. ICDE 2006; Bayardo et al.
    WWW 2007; Xiao et al. WWW 2008):

    order every doc's shingles by ascending document frequency (rarest
    first, ties broken by hash for a global total order); any pair with
    Jaccard ≥ t must share a shingle within the first
    ``|x| − ⌈t·|x|⌉ + 1`` elements of BOTH prefixes, so only prefixes
    are exploded into the inverted index. The globally-frequent
    shingles (boilerplate text — the hot-skew killers) sort LAST and
    mostly stay out of the index, bounding postings-list blow-up where
    the full index degenerates to Σ(postings²) on one hot shingle.

    Physical shape: two window passes over the exploded shingle rows —
    ``count() over (block, sh)`` for the document frequency and
    ``row_number() over (doc_id order by df, sh)`` for the in-record
    position — i.e. two shuffles and no joins or array re-assembly
    (an earlier groupBy+`array_sort(collect_list)` formulation cost an
    extra shuffle plus per-doc array builds). Postings with df=1 are
    dropped AFTER position assignment (a singleton shingle collides
    with nothing, but still occupies its slot in the global order).

    The self-join then applies, besides the equi-key and ``a < b``:

    * length filter — ``t·max(|x|,|y|) ≤ min(|x|,|y|)`` (size-
      incompatible pairs can't reach t);
    * PPJoin positional filter — a pair found via a shared prefix
      shingle at positions (i, j) is kept only when
      ``1 + min(|x|−i, |y|−j) ≥ ⌈t·(|x|+|y|)/(1+t)⌉`` (the minimum
      overlap Jaccard ≥ t requires). Rejection is exact-safe: the
      bound is valid at the pair's MINIMAL shared shingle (nothing
      before it is shared), and a pair is dropped only when every
      shared occurrence fails — in particular the minimal one.

    Both ceilings are guarded against FP overshoot (``− 1e-9``): a
    double product that lands epsilon above the true integer would
    otherwise shorten the prefix / raise the overlap bar by one and
    break exactness on boundary pairs.
    """
    from pyspark.sql import Window
    exploded = shingled.select("doc_id", "block", "n_sh",
                               F.explode("sh_arr").alias("sh"))
    # clamp at 0: threshold > 1 makes the prefix negative (an empty
    # prefix correctly yields zero candidates there)
    prefix_len = F.greatest(
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        .cast("int")
        + F.lit(1),
        F.lit(0))
    dfw = Window.partitionBy("block", "sh")
    posw = Window.partitionBy("doc_id").orderBy("df", "sh")
    prefixes = (exploded
                .withColumn("df", F.count(F.lit(1)).over(dfw))
                .withColumn("pos", F.row_number().over(posw))
                .where((F.col("pos") <= prefix_len) & (F.col("df") >= 2))
                .select("doc_id", "block", "n_sh", "sh", "pos"))
    prefixes = prefixes.localCheckpoint(eager=True)
    a, b = prefixes.alias("a"), prefixes.alias("b")
    # same FP guard as the ceilings: t·max can land epsilon above the
    # true rational and reject a pair whose exact Jaccard equals t
    size_ok = (F.lit(threshold)
               * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
               - F.lit(1e-9)
               <= F.least(F.col("a.n_sh"), F.col("b.n_sh")))
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n_sh") + F.col("b.n_sh")) - F.lit(1e-9))
    pos_ok = (F.least(F.col("a.n_sh") - F.col("a.pos"),
                      F.col("b.n_sh") - F.col("b.pos"))
              + F.lit(1) >= min_overlap)
    # merge hint: the prefix index is corpus-sized — checkpoint-backed
    # stats undershoot the broadcast threshold at mid scale and Spark
    # builds a driver-serial hash relation over the whole index
    # (measured +1.7 s at 10× sf0.1, and a guaranteed driver OOM at
    # real scale); sort-merge is the only plan that survives 100 TB
    return (a.join(b.hint("merge"),
                   (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & size_ok & pos_ok)
            .select(F.col("a.doc_id").alias("doc_id_a"),
                    F.col("b.doc_id").alias("doc_id_b"))
            .distinct())


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        block_col: str = "lang",
                        prefix_filter: bool = True) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs within a blocking key.

    Physical design (the one that survives 100 TB): candidate pairs come
    from a positional-prefix-filtered inverted index
    (:func:`_prefix_candidates`) — exact at any threshold, and immune to
    the hot-shingle skew that makes a full shingle self-join
    Σ_shingle(postings²). Candidates are then verified exactly:
    re-join the two docs' full shingle-hash arrays and compute
    ``|A∩B| / (|A|+|B|−|A∩B|)``. Shingles travel as xxhash64 longs and
    array payloads only flow for the (few) surviving candidates.

    ``prefix_filter=False`` falls back to the full inverted index
    (:func:`_all_pairs_candidates`) — same output by construction,
    kept for equivalence tests and for very low thresholds where the
    prefix is most of the array anyway.
    """
    shingled = _shingle_docs(documents, n, block_col)
    # Materialize the doc-level shingle table once: Spark does not reuse
    # the scan+shingle subtree across self-join sides (no ReusedExchange
    # fires here). At cluster scale this checkpoint is the shingle-index
    # table a pipeline would persist anyway.
    shingled = shingled.localCheckpoint(eager=True)
    cands = (_prefix_candidates(shingled, threshold) if prefix_filter
             else _all_pairs_candidates(shingled))
    # merge hint: never hash-broadcast the shingle-ARRAY table — its
    # checkpoint-backed size estimate undershoots the broadcast
    # threshold while the real (array-heavy) rows are corpus-sized;
    # Spark picked it as the build side at 10× sf0.1 (driver-serial
    # relation build, +1.7 s) and would OOM the driver at real scale
    sides = shingled.select("doc_id", "n_sh", "sh_arr").hint("merge")
    pairs = (cands
             .join(sides.alias("da"),
                   F.col("doc_id_a") == F.col("da.doc_id"))
             .join(sides.alias("db"),
                   F.col("doc_id_b") == F.col("db.doc_id"))
             .select("doc_id_a", "doc_id_b",
                     F.col("da.n_sh").alias("n_a"),
                     F.col("db.n_sh").alias("n_b"),
                     F.size(F.array_intersect(
                         F.col("da.sh_arr"), F.col("db.sh_arr")))
                     .alias("inter")))
    jaccard = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (pairs
            .select("doc_id_a", "doc_id_b",
                    F.round(jaccard, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


# ---------------------------------------------------------------------------
# Portable-hash mode (oracle-checkable LSH): every hash in the MinHash /
# SimHash pipeline re-expressed with primitives BOTH engines compute
# identically — md5 (verbatim in DuckDB) and modular affine arithmetic
# (integer math is portable; xxhash64 is not). Used by the registry
# queries so the driver's DuckDB twin can re-derive the SAME signatures,
# buckets, and pairs in SQL. xxhash64 stays the scale default (compact
# integer-only hashing, no hex-string materialization per shingle);
# tests/test_approx_ops.py equivalence-tests the two modes' band-
# collision behavior on identical-document and high-Jaccard fixtures.
# ---------------------------------------------------------------------------

#: Modulus for the portable affine permutations: the Mersenne prime
#: 2^31−1. With a, x mod P < 2^31 the product a·x stays < 2^62 — exact
#: signed-64-bit arithmetic on BOTH engines (no Spark decimal widening,
#: no DuckDB HUGEINT), so the permutations cost three long ops per
#: element, same order as the xxhash64 path.
PORTABLE_MOD = (1 << 31) - 1


def portable_hash60(col):
    """Engine-portable 60-bit hash of a string column: the low 15 hex
    chars of md5, parsed base-16. Spark: conv(substr(md5,18,15),16,10);
    DuckDB: CAST('0x'||substr(md5(s),18,15) AS UBIGINT). 60 bits keeps
    the value positive in a signed 64-bit long on both engines."""
    return F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast("long")


def minhash_affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the portable permutations
    h_i(x) = (a_i·(x mod P) + b_i) mod P, P = 2^31−1, derived from md5
    of fixed labels so the registry's oracle SQL can interpolate the
    SAME constants as literals. a_i ∈ [1, P−1], b_i ∈ [0, P−1]."""
    import hashlib

    def low60(label: str) -> int:
        return int(hashlib.md5(label.encode()).hexdigest()[17:32], 16)

    return [(low60(f"minhash:a:{i}") % (PORTABLE_MOD - 1) + 1,
             low60(f"minhash:b:{i}") % PORTABLE_MOD)
            for i in range(num_hashes)]


def _seeded_min_hash_portable(hash_arr, a: int, b: int):
    """Min over the base shingle hashes permuted with the portable
    affine map — pure long arithmetic (a·(x%P) ≤ (P−1)² < 2^62, no
    overflow under ANSI mode); everything is non-negative, so Spark %
    == DuckDB %."""
    def h(x):
        return (F.lit(a) * (x % F.lit(PORTABLE_MOD)) + F.lit(b)) \
            % F.lit(PORTABLE_MOD)

    return F.array_min(F.transform(hash_arr, h))


def _seeded_min_hash(hash_arr, seed: int):
    """Min over the base shingle hashes re-hashed with the seed —
    ``xxhash64(seed, x)`` is integer-only (no per-seed string
    re-allocation, and no wrap-around arithmetic, which ANSI mode —
    Spark 4's default — rejects).

    NB: the lambda must take exactly ONE parameter — PySpark binds a
    second parameter to the array index, silently shadowing captured
    defaults."""
    def h(x):
        return F.xxhash64(F.lit(seed), x)
    return F.array_min(F.transform(hash_arr, h))


def _minhash_signature(hash_arr, num_hashes: int,
                       hash_mode: str = "xxhash64"):
    """num_hashes MinHash values over an ``array<long>`` column of base
    shingle hashes. The base hash is computed once; the per-seed
    permutations are two long ops per element (xxhash64 mode) or one
    decimal affine-mod per element (portable mode)."""
    if hash_mode == "portable":
        return F.array(*[_seeded_min_hash_portable(hash_arr, a, b)
                         for a, b in minhash_affine_constants(num_hashes)])
    return F.array(*[_seeded_min_hash(hash_arr, i) for i in range(num_hashes)])


def sig_agreement(left_sig, right_sig, num_hashes: int):
    """Estimated Jaccard from two MinHash signatures: fraction of
    agreeing positions (the unbiased resemblance estimator, Broder
    1997). Shared by the batch pair join, the incremental-ingest
    probe, and the streaming ingest loop — one definition, not three
    copies."""
    return (F.size(F.filter(
        F.zip_with(left_sig, right_sig,
                   lambda x, y: (x == y).cast("int")),
        lambda v: v == 1)) / F.lit(num_hashes))


def _lsh_banded(documents: DataFrame, n: int, num_hashes: int,
                bands: int, hash_mode: str = "xxhash64") -> DataFrame:
    """(doc_id, sig, band, bucket) rows — the LSH band index layout a
    100 TB pipeline persists as its dedup index table (bands × docs
    compact rows). ``hash_mode="portable"`` swaps every hash for an
    engine-portable twin (md5-low-60 base hash, affine-mod
    permutations, md5-low-60 LONG band buckets) so a SQL oracle can
    re-derive
    the identical index; xxhash64 stays the scale default (integer-only,
    8-byte buckets)."""
    rows_per_band = num_hashes // bands
    base_hash = (portable_hash60 if hash_mode == "portable"
                 else F.xxhash64)
    shingled = (parallelize_for_compute(documents)
                .withColumn("toks", tokens(F.col("text")))
                .where(F.size("toks") >= n)  # see ngram_jaccard_pairs note
                .select("doc_id",
                        F.transform(word_ngrams_from_tokens(F.col("toks"), n),
                                    lambda s: base_hash(s))
                        .alias("sh_hashes")))
    signed = shingled.select(
        "doc_id",
        _minhash_signature(F.col("sh_hashes"), num_hashes,
                           hash_mode).alias("sig"))

    def bucket_of(bi):
        joined = F.concat_ws(
            ",", *[F.element_at(F.col("sig"), bi * rows_per_band + r + 1)
                   .cast("string") for r in range(rows_per_band)])
        # portable buckets are md5-low-60 LONGS, not md5 hex strings:
        # 8-byte join/shuffle keys instead of 32-char strings (measured
        # 2.6→1.6 s on the sf0.1 pair query), still recomputable
        # verbatim in SQL
        return (portable_hash60(joined) if hash_mode == "portable"
                else F.xxhash64(joined))

    banded = signed.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     bucket_of(bi).alias("bucket"))
            for bi in range(bands)])).alias("bb"))
    return banded.select("doc_id", "sig", "bb.band", "bb.bucket")


#: Production default for the LSH hot-bucket cap (the ``"auto"``
#: resolution). Under 64-bit band hashes, non-identical signatures
#: essentially never collide, so bucket size is driven by real
#: duplicate families: a 1024-doc bucket is always a boilerplate/
#: template family, and its self-join term is bounded at cap² ≈ 0.5M
#: comparisons instead of df² (a 10M-copy boilerplate family at
#: 100 TB is 5·10¹³ pairs uncapped — the classic LSH failure mode).
#: Recall contract: a true near-dup pair is lost only if EVERY band
#: bucket it shares holds >1024 docs — overwhelmingly exact/templated
#: near-copies, which exact_dedup/duplicate_spans already catch.
DEFAULT_MAX_BUCKET_DOCS = 1024


def _resolve_bucket_cap(max_bucket_docs) -> int | None:
    """``"auto"`` → :data:`DEFAULT_MAX_BUCKET_DOCS`; ``None`` stays
    the explicit exhaustive opt-out (what the registry oracle queries
    pass, since the DuckDB twins replay exhaustive joins)."""
    if max_bucket_docs == "auto":
        return DEFAULT_MAX_BUCKET_DOCS
    return max_bucket_docs


def drop_hot_buckets(banded: DataFrame,
                     max_bucket_docs: int | None,
                     exempt_band: int | None = None) -> DataFrame:
    """THE hot-bucket guard, shared by every surface that joins LSH
    band rows (batch pairs, dedup-at-ingest, streaming ingest): drop
    rows whose (band, bucket) holds more than ``max_bucket_docs`` docs
    BEFORE the join, bounding any bucket's join cost at cap² (or
    cap × other side). One aggregate over compact 8-byte keys; the HOT
    list is tiny by construction (only over-cap buckets), so the
    anti-join broadcasts. ``exempt_band`` shields a channel from the
    cap — the streaming ingest's exact-text fallback (band −1) dedups
    byte-identical docs and must stay exhaustive (capping it would
    re-admit exact copies, which no recall contract excuses). None cap
    = passthrough."""
    if max_bucket_docs is None:
        return banded
    counted = (banded if exempt_band is None
               else banded.where(F.col("band") != exempt_band))
    hot = (counted.groupBy("band", "bucket")
           .agg(F.count(F.lit(1)).alias("__df"))
           .where(F.col("__df") > max_bucket_docs)
           .select("band", "bucket"))
    return banded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")


def minhash_lsh_pairs(documents: DataFrame, n: int = 3,
                      num_hashes: int = 16, bands: int = 4,
                      threshold: float = 0.5,
                      hash_mode: str = "xxhash64",
                      max_bucket_docs: int | None | str = "auto"
                      ) -> DataFrame:
    """MinHash + banded LSH near-dup pairs — the sub-quadratic path.

    signature → split into ``bands`` bands of ``num_hashes/bands`` rows
    → explode one row per band → groupBy-free self-join on
    (band_index, band_hash) → estimated Jaccard = fraction of matching
    minhashes, thresholded.

    At 100 TB: cost is bands×docs exploded rows shuffled on compact
    band hashes; only colliding candidates are compared.
    ``hash_mode="portable"`` (the registry default) makes every hash
    engine-portable so the DuckDB oracle re-derives identical
    signatures/buckets in SQL — the operator stops being "approximate
    vs a twin engine" and becomes deterministically oracle-checked;
    xxhash64 remains the scale default for persisted indexes.

    ``max_bucket_docs`` is the production hot-bucket guard (standard in
    deployed LSH — boilerplate/templated corpora put thousands of docs
    into one (band, bucket), and the self-join inside such a bucket is
    df² — the classic LSH failure mode; tests/test_skew_stress.py
    measures it). When set, buckets holding more docs are DROPPED
    before the join: one extra aggregate + semi-join on the compact
    (band, bucket) keys, bounding every bucket's join cost at cap².
    Default ``"auto"`` = :data:`DEFAULT_MAX_BUCKET_DOCS` — the
    100 TB-safe posture is ON unless the caller explicitly opts out
    with ``None`` (the registry oracle queries do, because their
    DuckDB twins replay exhaustive joins). Recall note: a true
    near-dup pair is only lost if EVERY band bucket it shares is hot —
    overwhelmingly boilerplate near-copies, which exact dedup
    (``exact_dedup``/``duplicate_spans``) already handles.
    """
    banded = _lsh_banded(documents, n, num_hashes, bands, hash_mode)
    # materialize signatures once — see ngram_jaccard_pairs note
    banded = banded.localCheckpoint(eager=True)
    banded = drop_hot_buckets(banded, _resolve_bucket_cap(max_bucket_docs))
    a, b = banded.alias("a"), banded.alias("b")
    est = sig_agreement(F.col("a.sig"), F.col("b.sig"), num_hashes)
    # merge hint: the banded table is corpus-sized and ARRAY-heavy
    # (bands × docs rows each carrying the num_hashes signature), the
    # width class Catalyst's checkpoint-backed estimates undershoot —
    # the plan audit caught it hash-broadcast as the self-join build
    # side at sf0.1 (driver OOM at real scale); same fix as the
    # ngram/containment (r5) and incremental-LSH (r6) joins
    return (a.join(b.hint("merge"),
                   (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_id_a"),
                    F.col("b.doc_id").alias("doc_id_b"),
                    F.round(est, 6).alias("est_jaccard"))
            .where(F.col("est_jaccard") >= threshold)
            .distinct())


def simhash_fingerprints(documents: DataFrame,
                         hash_mode: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document: per-token 64-bit hash, per-bit
    +1/−1 vote across tokens, sign → fingerprint bit.

    Physical shape: explode tokens → one vectorized hash aggregate with
    64 bit-column sums, grouped by doc_id. votes_b = 2·Σbit_b − n, so
    each bit needs only a sum of (h>>b)&1 — all 64 sums ride one
    partial+final aggregate over compact (doc_id, hash) rows. This
    beats 64 nested array folds per row ~3×, and the aggregate combines
    map-side, so the shuffle carries one 64-int row per doc per task.

    ``hash_mode="portable"`` hashes tokens with md5-low-60 instead of
    xxhash64 (bits 60–63 are then constantly 0 — a 60-effective-bit
    SimHash), letting the DuckDB oracle recompute identical
    fingerprints; the Hamming/banding semantics are unchanged.
    """
    token_hash = (portable_hash60 if hash_mode == "portable"
                  else F.xxhash64)
    n_bits = 60 if hash_mode == "portable" else 64
    exploded = (documents
                .select("doc_id",
                        F.explode(F.transform(tokens(F.col("text")),
                                              lambda t: token_hash(t)))
                        .alias("h")))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)))
        .alias(f"s{b}") for b in range(n_bits)]
    agg = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *bit_sums)
    fingerprint = None
    for b in range(n_bits):
        vote = 2 * F.col(f"s{b}") - F.col("n")  # Σ(+1/−1) votes
        bit = F.when(vote > 0, F.lit(1).cast("long")) \
               .otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fingerprint = term if fingerprint is None else fingerprint + term
    # left join keeps token-less documents with simhash 0 (empty text
    # has no votes; every bit sign is negative by convention)
    out = (documents.select("doc_id")
           .join(agg, "doc_id", "left")
           .select("doc_id",
                   F.coalesce(fingerprint, F.lit(0).cast("long"))
                   .alias("simhash")))
    return out


def simhash_pairs(documents: DataFrame, max_hamming: int = 3,
                  bands: int = 4,
                  hash_mode: str = "xxhash64") -> DataFrame:
    """SimHash near-dup pairs: band the 64 bits into ``bands`` 16-bit
    blocks (pigeonhole: any pair within Hamming ≤ bands−1 shares a
    block; wider radii trade recall), self-join on (band, block),
    verify exact Hamming distance ≤ ``max_hamming``.
    ``hash_mode="portable"`` → oracle-reproducible fingerprints (see
    :func:`simhash_fingerprints`); band/Hamming logic is identical."""
    fp = simhash_fingerprints(documents, hash_mode)
    width = 64 // bands
    mask = (1 << width) - 1
    banded = fp.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     F.shiftright(F.col("simhash"), bi * width)
                     .bitwiseAND(F.lit(mask)).alias("block"))
            for bi in range(bands)])).alias("bb"))
    banded = banded.select("doc_id", "simhash", "bb.band", "bb.block")
    # materialize fingerprints once — see ngram_jaccard_pairs note
    banded = banded.localCheckpoint(eager=True)
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # merge hint: corpus-sized banded self-join — never hash-build
    # either side at scale (same call as the minhash band join; the
    # plan audit caught the checkpoint-backed build at sf0.1)
    return (a.join(b.hint("merge"),
                   (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.block") == F.col("b.block"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_id_a"),
                    F.col("b.doc_id").alias("doc_id_b"),
                    hamming.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())


def _blocked_pair_kernel(threshold: float):
    """Within-group cosine pair scorer for ``applyInPandas`` (shared
    by the label-blocked exact variant and the k-means-cell-blocked
    variant): fixed-order einsum contractions in ``_PAIR_BLOCK_ROWS``
    slabs — see ``embedding_blocked_near_dup`` for why einsum (shape-
    independent dots) and for the two-slab memory bound. Expects
    (vec_id, vec) columns; emits (vec_id_a < vec_id_b, round-6 sim ≥
    threshold)."""
    import numpy as np

    def pairs_in_group(pdf):
        import pandas as pd
        if not len(pdf):
            return pd.DataFrame(
                {"vec_id_a": pd.Series(dtype="int64"),
                 "vec_id_b": pd.Series(dtype="int64"),
                 "cosine_sim": pd.Series(dtype="float64")})
        ids = pdf["vec_id"].to_numpy()
        X = np.stack(pdf["vec"].to_numpy())
        # norms via the SAME fixed-order contraction as the numerator
        # einsum below: (X*X).sum(axis=1) uses numpy's pairwise/8-way
        # accumulator, while einsum and the DuckDB twin's
        # list_inner_product fold sequentially — a 1-ulp denominator
        # difference can flip a round-6 value at a boundary
        nr = np.sqrt(np.einsum("id,id->i", X, X))
        out_a, out_b, out_s = [], [], []
        for lo in range(0, len(ids), _PAIR_BLOCK_ROWS):
            hi = min(lo + _PAIR_BLOCK_ROWS, len(ids))
            sims = np.einsum("id,jd->ij", X[lo:hi], X)
            sims /= nr[lo:hi, None] * nr[None, :]
            # two-stage threshold: cheap margin-widened numpy mask
            # over the slab, then correctly-rounded Python round(x, 6)
            # on the few candidates — np.round's scaled x*1e6 path can
            # disagree with Spark's/DuckDB's decimal rounding near
            # midpoints, and the replaced F.round path was
            # midpoint-exact. The pre-mask margin must cover a full
            # round-6 quantum: any sim in [threshold - 5e-7, threshold)
            # rounds UP to the threshold and must reach the rounding
            # stage (over-inclusion is harmless — the exact round
            # decides). NaN (zero-norm vectors) passes, exactly like
            # SQL's NaN >= threshold in both engines.
            cand = ~(sims < threshold - 1e-6)  # keeps >=, near, and NaN
            bi, bj = np.nonzero(cand)
            keep = ids[lo + bi] < ids[bj]  # upper triangle by vec_id
            bi, bj = bi[keep], bj[keep]
            s6 = np.array([round(float(s), 6) for s in sims[bi, bj]])
            ok = np.isnan(s6) | (s6 >= threshold)
            out_a.append(ids[lo + bi][ok])
            out_b.append(ids[bj][ok])
            out_s.append(s6[ok])
        return pd.DataFrame({"vec_id_a": np.concatenate(out_a),
                             "vec_id_b": np.concatenate(out_b),
                             "cosine_sim": np.concatenate(out_s)})

    return pairs_in_group


_PAIR_SCHEMA = "vec_id_a long, vec_id_b long, cosine_sim double"


def embedding_near_dup_pairs(embeddings: DataFrame,
                             threshold: float = 0.95,
                             block_col: str = "label") -> DataFrame:
    """Embedding-cosine near-duplicates, blocked on ``block_col``.

    The block key bounds the pair count; scoring is the shared
    per-group einsum kernel (:func:`_blocked_pair_kernel`) — the
    interpreted-HOF self-join it replaces measured 15.6 s at sf0.1 for
    ~200k candidate pairs, pure per-element dispatch (HOFs never enter
    whole-stage codegen). Null blocks are excluded, matching the
    equi-join semantics it replaces. The unblocked variant at scale is
    ``similarity.ann_lsh_topk``."""
    vecs = (embeddings
            # null block = no join partner (old equi-join semantics);
            # null embedding / null element = null cosine, dropped by
            # the old WHERE — filtered here so the numpy kernel never
            # sees Nones (np.stack would crash the task on them)
            .where(F.col(block_col).isNotNull()
                   & F.col("embedding").isNotNull()
                   & F.forall("embedding", lambda x: x.isNotNull()))
            .select("vec_id", F.col(block_col).alias("block"),
                    F.col("embedding").cast("array<double>").alias("vec")))
    return (vecs.groupby("block")
            .applyInPandas(_blocked_pair_kernel(threshold), _PAIR_SCHEMA))


#: Rows per contraction slab in the blocked within-cell pair kernel
#: (embedding_blocked_near_dup): peak task memory is TWO
#: block × cell_n float64 slabs live at once (the sims slab plus the
#: norm-product denominator) — 256 rows against even a 65k-vector cell
#: is ~270 MB, independent of how hot the cell is.
_PAIR_BLOCK_ROWS = 256


def _driver_union_find(spark, pairs, id_type: str,
                       drop_self: bool) -> DataFrame:
    """Union-find (path-halving) over a fetched Arrow pair table; returns
    (doc_id, cluster_id=min reachable id) with the same contract as the
    distributed fixpoints. ``drop_self``: the star variant excludes
    nodes that only appear in self-pairs; plain propagation keeps them
    (labeled as their own singleton cluster)."""
    import numpy as np
    import pandas as pd
    a = pairs.column("doc_id_a").to_numpy()
    b = pairs.column("doc_id_b").to_numpy()
    if drop_self:
        keep = a != b
        a, b = a[keep], b[keep]
    schema = f"doc_id {id_type}, cluster_id {id_type}"
    if not len(a):
        return spark.createDataFrame([], schema)
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(inv[:len(a)].tolist(), inv[len(a):].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    roots = np.fromiter((find(i) for i in range(len(nodes))),
                        dtype=np.int64, count=len(nodes))
    # nodes is ascending ⇒ min doc_id per root = groupby-min transform
    out = pd.DataFrame({"doc_id": nodes,
                        "cluster_id": pd.Series(nodes)
                        .groupby(roots).transform("min").to_numpy()})
    # pandas input → Arrow conversion path (a list of tuples would be
    # pickled row-by-row, eroding the fast path near the 1M-pair cap)
    return spark.createDataFrame(out, schema=schema)


def connected_components(pairs: DataFrame, max_iter: int = 25
                         ) -> DataFrame:
    """Near-dup clusters from a pair list: connected components, one
    row per non-singleton document, ``cluster_id`` = min doc_id
    reachable.

    Iterative min-label propagation: each round is one equi-join of the
    (bidirected) edge list against the current labels plus a min
    aggregate — all on compact (long, long) rows — with a
    ``localCheckpoint`` per round to truncate lineage (otherwise the
    plan doubles every iteration). Converges in graph-diameter rounds;
    near-dup clusters are shallow (near-cliques), so a handful. The
    diameter-robust formulation for adversarial 100 TB graphs is the
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — same join/agg
    primitive, O(log²) rounds; this simple propagation is the right
    cost model for dedup-shaped graphs.

    Two physical strategies behind one logical operator (the trainer
    auto-switch pattern): below ``offload.DRIVER_CC_MAX_PAIRS`` the
    pair list is fetched once via Arrow and resolved by driver-side
    union-find — the iterative loop's ~diameter scheduled jobs are pure
    overhead next to a ≤16 MB collect. Above the cap, the distributed
    fixpoint runs unchanged and nothing pair-sized leaves the
    executors. The path probe and the driver-path data acquisition are
    ONE unshuffled one-task job (:func:`offload.fetch`); both paths are
    equivalence-tested.
    """
    # Materialize the incoming pair plan ONCE before bidirecting it:
    # callers hand in an expensive pipeline (e.g. the full ngram-Jaccard
    # join), and the two union branches would otherwise each recompute
    # it (exchange reuse across union arms is not guaranteed).
    spark = pairs.sparkSession
    with checkpoint_scope(spark) as keep:
        # Checkpoint BEFORE probing: the caller's pair plan (typically the
        # full similarity join) runs exactly once either way — probing the
        # raw plan first would re-run it from scratch on above-cap inputs,
        # since a shuffle-heavy limit() still executes every upstream stage.
        pairs = (pairs.select("doc_id_a", "doc_id_b")
                 .localCheckpoint(eager=True))
        dts = dict(pairs.dtypes)
        if dts["doc_id_a"] == dts["doc_id_b"]:  # mixed-width ids: the driver
            # path would narrow one side — stay distributed (coerces via
            # least/greatest like any join)
            head, _ = offload.fetch(pairs, "dedup.connected_components",
                                    offload.DRIVER_CC_MAX_PAIRS)
            if head is not None:
                return _driver_union_find(spark, head, dts["doc_id_a"],
                                          drop_self=False)
        edges = (pairs.select(F.col("doc_id_a").alias("src"),
                              F.col("doc_id_b").alias("dst"))
                 .unionByName(pairs.select(F.col("doc_id_b").alias("src"),
                                           F.col("doc_id_a").alias("dst"))))
        edges = edges.localCheckpoint(eager=True)
        labels = (edges.select(F.col("src").alias("doc_id")).distinct()
                  .withColumn("cluster_id", F.col("doc_id"))
                  .localCheckpoint(eager=True))
        for _ in range(max_iter):
            nbr = (edges.join(labels, edges.src == labels.doc_id)
                   .groupBy(F.col("dst").alias("nbr_doc"))
                   .agg(F.min("cluster_id").alias("nbr_min")))
            # Carry the previous label through the update so convergence is a
            # filter+count on the already-checkpointed frame — not a second
            # join per round (halves the per-iteration shuffle count).
            # lazy checkpoint: the convergence count below is the action
            # that materializes it (ONE job per round, not a checkpoint job
            # plus a count job); the next round reuses the cached blocks
            stepped = (labels
                       .join(nbr, labels.doc_id == nbr.nbr_doc, "left")
                       .select("doc_id",
                               F.col("cluster_id").alias("__prev"),
                               F.least(F.col("cluster_id"),
                                       F.coalesce("nbr_min",
                                                  F.col("cluster_id")))
                               .alias("cluster_id"))
                       .localCheckpoint(eager=False))
            changed = stepped.where(
                F.col("cluster_id") != F.col("__prev")).count()
            labels = stepped.select("doc_id", "cluster_id")
            if changed == 0:
                break
        return keep(labels)


def embedding_blocked_near_dup(embeddings: DataFrame,
                               threshold: float = 0.3,
                               n_cells: int | None = None,
                               n_assign: int = 2,
                               iters: int = 2) -> DataFrame:
    """Semantic near-dup pairs at scale: k-means cells as blocking keys.

    The exact variant (``embedding_near_dup_pairs``) compares all pairs
    within a metadata block — quadratic when no natural block exists.
    Here the blocks are learned: coarse k-means cells (same machinery
    as the IVF index), with each vector MULTI-ASSIGNED to its
    ``n_assign`` nearest cells so boundary-straddling pairs still share
    at least one cell. Cost ~ n_assign^2 x (n/n_cells)^2 per cell vs
    n^2; recall is probabilistic (tested, not oracle-checked).

    ``n_cells=None`` auto-sizes the blocking to the corpus at CONSTANT
    target occupancy: ``max(8, ceil(n / 64))`` (r7 — the r6 sqrt rule
    kept occupancy ~sqrt(8n), so the within-cell pair term grew ~n^1.5;
    constant occupancy makes it linear). n_cells ∝ n is untrainable
    flat (assignment alone is O(n·n_cells)), so past
    ``quantizer.IVF_TWO_LEVEL_MIN_CELLS`` the quantizer becomes
    two-level — sqrt(n_cells) superclusters, sub-quantizers trained
    driver-side on bounded per-super samples, assignment two chained
    matmuls = O(n·sqrt(n_cells)) (see
    :func:`quantizer._train_two_level_centroids`). At both oracle SFs
    (500 vectors) the rule resolves to 8 FLAT cells, which is what the
    DuckDB twins encode; the one extra ``count()`` is metadata-fast on
    parquet sources.

    Within-cell scoring is a per-cell Arrow kernel (one
    ``applyInPandas`` per cell, fixed-order einsum contractions in row
    blocks), not a self-join with the interpreted ``cosine`` HOF per
    pair: higher-order functions never enter whole-stage codegen, and
    at ~2M candidate pairs the per-element interpreter dispatch
    measured ~60 s at sf0.1 where the blocked kernel is <1 s. The
    block bound (``_PAIR_BLOCK_ROWS`` rows per slab) keeps task memory
    at two block × cell_n slabs — independent of cell size, the same
    per-task shape as the distributed ADC kernel.
    """
    # null embedding / null element = no cosine partner (the old
    # null-propagating join semantics); filtered up front so neither
    # the k-means trainer nor the numpy kernels ever see Nones
    embeddings = embeddings.where(
        F.col("embedding").isNotNull()
        & F.forall("embedding", lambda x: x.isNotNull()))
    if embeddings.select("embedding").first() is None:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id_a long, vec_id_b long, cosine_sim double")
    import math
    n_rows = None
    if n_cells is None:
        n_rows = embeddings.count()
        n_cells = max(8, math.ceil(n_rows / _TARGET_CELL_OCCUPANCY))
    assign_fn = _quantizer_cells_fn(
        _train_quantizer(embeddings, n_cells, iters, n_rows=n_rows),
        n_assign, carry_vec=True)
    cells = (embeddings.select("vec_id", "embedding")
             .mapInPandas(assign_fn,
                          "vec_id long, cell int, vec array<double>"))
    # the SQL-replayable cosine form: inner / (sqrt(aa) * sqrt(bb)).
    # einsum in the kernel instead of X @ X.T: its fixed-order
    # contraction makes dot(a,b) bit-identical regardless of slab
    # shape or which cell scored the pair — BLAS picks different
    # micro-kernels by matrix shape, and a multi-assigned pair scored
    # twice could then straddle a round-6 boundary and leak a
    # duplicate row through the cross-cell .distinct()
    return (cells.groupby("cell")
            .applyInPandas(_blocked_pair_kernel(threshold), _PAIR_SCHEMA)
            .distinct())


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))


def connected_components_star(pairs: DataFrame, max_iter: int = 20
                              ) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contractions (Kiveris et al., SoCC 2014): converges in O(log^2 n)
    rounds on ANY graph shape, vs graph-diameter rounds for plain label
    propagation — the robust choice when near-dup chains are long
    (e.g. shingled near-dup paths across a 100 TB corpus).

    Each round is two join+aggregate passes over the edge list (compact
    long pairs), lineage truncated per round. Output matches
    ``connected_components``: (doc_id, cluster_id=min reachable id),
    equivalence property-tested on adversarial graph shapes.

    Same small-side auto-switch as ``connected_components``: below
    ``offload.DRIVER_CC_MAX_PAIRS`` one Arrow fetch + driver union-find
    replaces the round-per-log² scheduled jobs; the distributed
    contraction is the unchanged scale path. (Star drops self-pair-only
    nodes — mirrored by ``drop_self=True``.)
    """
    spark = pairs.sparkSession
    with checkpoint_scope(spark) as keep:
        # checkpoint-then-probe: see connected_components (one pass of the
        # caller's expensive pair plan on BOTH sides of the switch)
        pairs = (pairs.select("doc_id_a", "doc_id_b")
                 .localCheckpoint(eager=True))
        dts = dict(pairs.dtypes)
        if dts["doc_id_a"] == dts["doc_id_b"]:
            head, _ = offload.fetch(pairs,
                                    "dedup.connected_components_star",
                                    offload.DRIVER_CC_MAX_PAIRS)
            if head is not None:
                return _driver_union_find(spark, head, dts["doc_id_a"],
                                          drop_self=True)
        edges = (pairs.select(F.col("doc_id_a").alias("a"),
                              F.col("doc_id_b").alias("b"))
                 .where(F.col("a") != F.col("b"))
                 .select(F.least("a", "b").alias("a"),
                         F.greatest("a", "b").alias("b"))
                 .distinct().localCheckpoint(eager=True))
        nodes = (_symmetrize(edges).select(F.col("a").alias("doc_id"))
                 .distinct().localCheckpoint(eager=True))

        # Fixpoint detection on the canonical (a<b, distinct) edge set via
        # a one-pass signature — (count, Σ xxhash64(a,b)) — instead of two
        # exceptAll shuffles per round; equal signatures on consecutive
        # rounds means an identical set up to an engineered 64-bit-sum
        # collision (not a property of real dedup graphs). The signature
        # job doubles as the round's checkpoint materialization.
        def _sig(e):
            r = e.agg(F.count(F.lit(1)).alias("c"),
                      F.sum(F.xxhash64("a", "b").cast("decimal(38,0)"))
                      .alias("h")).collect()[0]  # decimal: no ANSI overflow
            return (r["c"], r["h"])

        prev_sig = _sig(edges)
        for _ in range(max_iter):
            d = _symmetrize(edges).select(F.col("a").alias("u"),
                                          F.col("b").alias("v"))
            m = (d.groupBy("u").agg(F.min("v").alias("__mn"))
                 .select("u", F.least("u", "__mn").alias("m")))
            # large-star: larger neighbors attach to u's min
            large = (d.join(m, "u").where(F.col("v") > F.col("u"))
                     .select(F.col("m").alias("a"), F.col("v").alias("b")))
            e1 = (large.where(F.col("a") != F.col("b"))
                  .select(F.least("a", "b").alias("a"),
                          F.greatest("a", "b").alias("b"))
                  .distinct().localCheckpoint(eager=False))  # materialized
            # by this round's signature job (one job per round, not three)
            # small-star over the large-star output
            d2 = _symmetrize(e1).select(F.col("a").alias("u"),
                                        F.col("b").alias("v"))
            m2 = (d2.groupBy("u").agg(F.min("v").alias("__mn"))
                  .select("u", F.least("u", "__mn").alias("m")))
            small = (d2.join(m2, "u").where(F.col("v") <= F.col("u"))
                     .select(F.col("m").alias("a"), F.col("v").alias("b"))
                     .unionByName(m2.select(F.col("m").alias("a"),
                                            F.col("u").alias("b"))))
            e2 = (small.where(F.col("a") != F.col("b"))
                  .select(F.least("a", "b").alias("a"),
                          F.greatest("a", "b").alias("b"))
                  .distinct().localCheckpoint(eager=False))
            sig = _sig(e2)
            prev_edges, edges = edges, e2
            if sig == prev_sig:
                # Signature equality is (count, Σ xxhash64) — confirm the
                # fixpoint EXACTLY, once, at convergence: counts already
                # match, so one empty one-way exceptAll proves the sets
                # identical (distinct + equal cardinality). A sum collision
                # (never observed, but the signature alone can't exclude
                # it) just keeps iterating instead of silently returning
                # wrong cluster labels. Cost: one extra job at convergence,
                # zero in steady rounds.
                if e2.exceptAll(prev_edges).isEmpty():
                    break
            prev_sig = sig

        labels = (_symmetrize(edges).groupBy(F.col("a").alias("doc_id"))
                  .agg(F.min("b").alias("__mn"))
                  .select("doc_id", F.least("doc_id", "__mn")
                          .alias("cluster_id")))
        out = (nodes.join(labels, "doc_id", "left")
               .select("doc_id",
                       F.coalesce("cluster_id", F.col("doc_id"))
                       .alias("cluster_id")))
        return keep(out)


def incremental_batch_dedup(documents: DataFrame,
                            batch_mod: int = 3) -> DataFrame:
    """Incremental (cross-batch) dedup — the corpus-update path: an
    incoming batch keeps only documents whose content fingerprint has
    never been seen in the prior corpus NOR earlier in the same batch.

    The prior corpus reduces to its distinct fingerprint set (at 100 TB
    this is the persisted dedup index, orders of magnitude smaller than
    the corpus); the batch anti-joins it, then self-dedups by keeping
    the min doc_id per fingerprint. One anti-join + one aggregate —
    the J2 diff pattern applied to content identity instead of row
    identity. Here the batch is carved deterministically (doc_id %
    batch_mod == 0) so the operator is self-contained and
    oracle-checkable.
    """
    from s3_elasticsearch_data_pipeline_spark.functions.textfns import (
        fingerprint)
    fp = fingerprint(F.col("text"))
    seen = (documents.where(F.col("doc_id") % batch_mod != 0)
            .select(fp.alias("fp")).distinct())
    batch = (documents.where(F.col("doc_id") % batch_mod == 0)
             .select("doc_id", fp.alias("fp")))
    fresh = batch.join(seen, "fp", "left_anti")
    return (fresh.groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count(F.lit(1)).alias("n_batch_copies"))
            .select("doc_id", "fp", "n_batch_copies"))


def paragraph_dedup_stats(documents: DataFrame) -> DataFrame:
    """Sub-document dedup: split each document into sentence-level
    fragments, fingerprint each, and keep a fragment only in the
    first (min doc_id) document where its content appears — the
    boilerplate-paragraph removal step of web-corpus curation, at
    fragment granularity instead of whole-doc.

    One explode → one (fingerprint → min doc) aggregate (the shuffle
    carries 16-byte hashes) → broadcast-free equi-join back on the
    fingerprint → per-doc kept/dropped counts. Returns one row per
    document with its fragment survival stats.
    """
    frag = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+\s+|[.!?]+$"),
                    lambda s: F.trim(s)),
        lambda s: s != "")
    frags = (documents
             .select("doc_id", F.posexplode(frag).alias("pos", "fragment"))
             .select("doc_id", "pos", F.md5("fragment").alias("fph")))
    owner = frags.groupBy("fph").agg(F.min("doc_id").alias("owner_doc"))
    return (frags.join(owner, "fph")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fragments"),
                 F.sum(F.when(F.col("owner_doc") == F.col("doc_id"), 1)
                       .otherwise(0)).alias("n_kept"),
                 F.sum(F.when(F.col("owner_doc") != F.col("doc_id"), 1)
                       .otherwise(0)).alias("n_deduped")))


def _blocked_cross_kernel(threshold: float):
    """Cross-side cosine matcher for ``cogroup().applyInPandas`` —
    the dedup-at-ingest twin of :func:`_blocked_pair_kernel`: left =
    batch rows of one cell, right = prior-corpus rows of the same
    cell; emits the batch ``vec_id``s whose round-6 cosine against ANY
    corpus row reaches ``threshold``. Same determinism discipline:
    fixed-order einsum contractions (norms included), margin-widened
    numpy pre-mask, correctly-rounded Python round on the candidates,
    NaN (zero-norm) passes like SQL's NaN >= threshold."""
    import numpy as np

    def match_in_group(left, right):
        import pandas as pd
        if not len(left) or not len(right):
            return pd.DataFrame({"vec_id": pd.Series(dtype="int64")})
        ids = left["vec_id"].to_numpy()
        X = np.stack(left["vec"].to_numpy())
        Y = np.stack(right["vec"].to_numpy())
        nx = np.sqrt(np.einsum("id,id->i", X, X))
        ny = np.sqrt(np.einsum("id,id->i", Y, Y))
        matched = []
        for lo in range(0, len(ids), _PAIR_BLOCK_ROWS):
            hi = min(lo + _PAIR_BLOCK_ROWS, len(ids))
            sims = np.einsum("id,jd->ij", X[lo:hi], Y)
            sims /= nx[lo:hi, None] * ny[None, :]
            cand = ~(sims < threshold - 1e-6)  # keeps >=, near, NaN
            bi, bj = np.nonzero(cand)
            s6 = np.array([round(float(s), 6) for s in sims[bi, bj]])
            ok = np.isnan(s6) | (s6 >= threshold)
            matched.append(ids[lo + bi][ok])
        out = (np.unique(np.concatenate(matched)) if matched
               else np.array([], dtype=np.int64))
        return pd.DataFrame({"vec_id": out})

    return match_in_group


def incremental_semantic_dedup(embeddings: DataFrame,
                               batch_mod: int = 3,
                               threshold: float = 0.4,
                               n_cells: int | None = None,
                               n_assign: int = 2,
                               iters: int = 2) -> DataFrame:
    """Semantic (embedding-cosine) dedup AT INGEST — completes the
    dedup-at-ingest family (exact fingerprints:
    :func:`incremental_batch_dedup`; MinHash near-dup:
    :func:`incremental_lsh_dedup`; THIS: embedding similarity): an
    incoming batch survives only where no prior-corpus vector within
    its blocking cells reaches ``threshold`` cosine.

    Scale shape (the SemDeDup-style corpus-update path):

        cells  = coarse quantizer trained on the PRIOR CORPUS only
                 (add-after-train, like the IVF ingest loops) — flat
                 k-means at small cell counts, the two-level sample-
                 trained quantizer past the two-level gate;
        probe  = batch multi-assigned to its ``n_assign`` nearest
                 cells, cogrouped per cell against the corpus rows of
                 the same cells — candidates only where cells collide,
                 never batch × corpus;
        verify = exact round-6 cosine in the Arrow cross kernel;
        emit   = batch ids with no match (dropped ids don't appear).

    Here the batch is carved deterministically (vec_id % batch_mod ==
    0, prior corpus = the rest) so the operator is self-contained and
    oracle-checkable — the DuckDB twin replays the corpus-trained
    k-means, both multi-assignments, and the thresholded join in SQL.
    The default ``threshold=0.4`` suits the near-isotropic synthetic
    fixture (max cross-cosine ≈ 0.47); production embedding dedup
    runs ~0.95+. Recall is blocking-bounded exactly like
    :func:`embedding_blocked_near_dup` (multi-assign covers boundary
    straddlers; both engines replay the SAME blocking, so the oracle
    is deterministic even though recall is approximate)."""
    import math
    embeddings = embeddings.where(
        F.col("embedding").isNotNull()
        & F.forall("embedding", lambda x: x.isNotNull()))
    corpus = embeddings.where(F.col("vec_id") % batch_mod != 0)
    batch = embeddings.where(F.col("vec_id") % batch_mod == 0)
    if corpus.select("vec_id").first() is None:
        return batch.select("vec_id")  # nothing to collide with
    n_rows = None
    if n_cells is None:
        n_rows = corpus.count()
        n_cells = max(8, math.ceil(n_rows / _TARGET_CELL_OCCUPANCY))
    assign_fn = _quantizer_cells_fn(
        _train_quantizer(corpus, n_cells, iters, n_rows=n_rows),
        n_assign, carry_vec=True)
    schema = "vec_id long, cell int, vec array<double>"
    corpus_cells = (corpus.select("vec_id", "embedding")
                    .mapInPandas(assign_fn, schema))
    batch_cells = (batch.select("vec_id", "embedding")
                   .mapInPandas(assign_fn, schema))
    matched = (batch_cells.groupby("cell")
               .cogroup(corpus_cells.groupby("cell"))
               .applyInPandas(_blocked_cross_kernel(threshold),
                              "vec_id long")
               .distinct())
    return batch.select("vec_id").join(matched, "vec_id", "left_anti")


def incremental_lsh_dedup(documents: DataFrame, batch_mod: int = 3,
                          n: int = 3, num_hashes: int = 16,
                          bands: int = 4, threshold: float = 0.5,
                          max_bucket_docs: int | None | str = "auto",
                          hash_mode: str = "xxhash64") -> DataFrame:
    """Near-dup dedup AT INGEST — the cross-batch extension of
    :func:`incremental_batch_dedup` from exact fingerprints to MinHash
    similarity: an incoming batch is checked against the PERSISTED LSH
    band index of the prior corpus, and only documents with no
    estimated-Jaccard match ≥ ``threshold`` survive.

    Scale shape (the production dedup-at-ingest loop):

        corpus index = (band, bucket, doc_id, sig) rows — bands×docs
                       compact rows, persisted once, appended per batch;
        probe        = batch band rows equi-join the index on
                       (band, bucket) — candidates only where a band
                       collides, never corpus×batch;
        verify       = signature agreement on the candidate pairs;
        emit         = anti-join of the batch against matched ids.

    Here the batch is carved deterministically (doc_id % batch_mod == 0,
    prior corpus = the rest) so the operator is self-contained and its
    output reproducible. Returns the surviving batch doc ids (one
    column; dropped docs simply don't appear).

    ``max_bucket_docs`` is the same hot-bucket guard as
    :func:`minhash_lsh_pairs`, applied per side: a boilerplate batch
    probing an accumulated-boilerplate index is cap × cap per bucket
    instead of batch × corpus. Capped docs are ADMITTED (their buckets
    never match) — the recall note there applies. Default ``"auto"``
    (= :data:`DEFAULT_MAX_BUCKET_DOCS`) keeps the production entry
    point df²-safe; ``None`` is the explicit exhaustive opt-out the
    registry oracle query passes.

    ``hash_mode="portable"`` swaps the hash family for the
    engine-portable twin (see :func:`_lsh_banded`) so the whole
    admission decision is replayable in a second engine — the registry
    runs this mode to carry a DuckDB oracle; xxhash64 stays the scale
    default (equivalence-of-shape tested, same contract as
    :func:`minhash_lsh_pairs`).
    """
    corpus = documents.where(F.col("doc_id") % batch_mod != 0)
    batch = documents.where(F.col("doc_id") % batch_mod == 0)
    cap = _resolve_bucket_cap(max_bucket_docs)
    # lazy checkpoints: both sides materialize inside the ONE probe job
    # (index and probe branches shingle in parallel) instead of two
    # serialized eager jobs; lineage is still truncated for reuse
    index = drop_hot_buckets(
        _lsh_banded(corpus, n, num_hashes, bands, hash_mode)
        .localCheckpoint(eager=False), cap)
    probe = drop_hot_buckets(
        _lsh_banded(batch, n, num_hashes, bands, hash_mode)
        .localCheckpoint(eager=False), cap)
    est = sig_agreement(F.col("p.sig"), F.col("i.sig"), num_hashes)
    # merge hint: the band index is CORPUS-sized (bands × prior docs,
    # signature arrays in every row) and checkpoint-backed stats
    # undershoot the broadcast threshold — Spark picked it as the
    # hash-join build side at sf0.1 (driver-serial relation over the
    # whole index; driver OOM at real scale). Same fix as the
    # ngram-Jaccard/containment joins in r5.
    matched = (probe.alias("p")
               .join(index.hint("merge").alias("i"),
                     (F.col("p.band") == F.col("i.band"))
                     & (F.col("p.bucket") == F.col("i.bucket")))
               .select(F.col("p.doc_id").alias("doc_id"),
                       est.alias("est_jaccard"))
               .where(F.col("est_jaccard") >= threshold)
               .select("doc_id").distinct())
    return batch.select("doc_id").join(matched, "doc_id", "left_anti")


def containment_decontamination(documents: DataFrame, n: int = 3,
                                threshold: float = 0.5,
                                eval_mod: int = 10,
                                block_col: str = "lang") -> DataFrame:
    """Exact n-gram CONTAINMENT pairs eval-vs-train — the set-relation
    decontamination check (Broder 1997 distinguishes containment from
    resemblance): an eval doc A is contaminated by train doc B when
    ``|A∩B| / |A| ≥ threshold`` — catches eval items embedded inside
    larger training documents, which symmetric Jaccard under-scores
    (|A∪B| is dominated by |B|).

    Candidate generation is one-sided prefix-filtered and EXACT: if
    C(A,B) ≥ t then A and B share ≥ ⌈t·|A|⌉ shingles, so they share at
    least one within A's rarest-first prefix of length
    ``|A| − ⌈t·|A|⌉ + 1`` (pigeonhole) — only eval prefixes are
    exploded against the full train inverted index, and hot boilerplate
    shingles stay out of the probe side. Verification re-joins the two
    shingle-hash arrays. Eval set = ``doc_id % eval_mod == 0``
    (deterministic carve), train = the rest.
    """
    from pyspark.sql import Window
    shingled = _shingle_docs(documents, n, block_col) \
        .localCheckpoint(eager=True)
    ev = shingled.where(F.col("doc_id") % eval_mod == 0)
    tr = shingled.where(F.col("doc_id") % eval_mod != 0)
    # Corpus-wide shingle document frequency orders eval prefixes: one
    # window count over the full exploded set, then eval rows ranked
    # per-doc (row_number) and sliced to the prefix — no join and no
    # array re-assembly (same two-window shape as _prefix_candidates).
    # The ceiling is FP-overshoot-guarded (see _prefix_candidates).
    prefix_len = F.greatest(
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        .cast("int")
        + F.lit(1),
        F.lit(0))
    dfw = Window.partitionBy("block", "sh")
    posw = Window.partitionBy("doc_id").orderBy("df", "sh")
    ev_prefix = (shingled
                 .select("doc_id", "block", "n_sh",
                         F.explode("sh_arr").alias("sh"))
                 .withColumn("df", F.count(F.lit(1)).over(dfw))
                 .where(F.col("doc_id") % eval_mod == 0)
                 .withColumn("pos", F.row_number().over(posw))
                 .where(F.col("pos") <= prefix_len)
                 .select("doc_id", "block", "sh"))
    tr_index = tr.select(F.col("doc_id").alias("train_doc"), "block",
                         F.explode("sh_arr").alias("sh"))
    # merge hints: the train inverted index and both shingle-ARRAY
    # tables are corpus-sized; checkpoint-backed stats undershoot the
    # broadcast threshold at mid scale and Spark would build
    # driver-serial hash relations over them (see _prefix_candidates —
    # measured +1.7 s at 10× sf0.1, driver OOM at real scale)
    cands = (ev_prefix.join(tr_index.hint("merge"), ["block", "sh"])
             .select(F.col("doc_id").alias("eval_doc"), "train_doc")
             .distinct())
    ev_arr = ev.select(F.col("doc_id").alias("eval_doc"),
                       F.col("n_sh").alias("n_a"),
                       F.col("sh_arr").alias("arr_a")).hint("merge")
    tr_arr = tr.select(F.col("doc_id").alias("train_doc"),
                       F.col("sh_arr").alias("arr_b")).hint("merge")
    containment = (F.size(F.array_intersect("arr_a", "arr_b"))
                   / F.col("n_a"))
    return (cands.join(ev_arr, "eval_doc").join(tr_arr, "train_doc")
            .select("eval_doc", "train_doc",
                    F.round(containment, 6).alias("containment"))
            .where(F.col("containment") >= threshold))


#: Rabin–Karp span-digest parameters: two independent polynomial
#: hashes mod the Mersenne prime 2^31−1, combined into one 62-bit key
#: (h1·2^31 + h2). acc·B + t stays < 2^62 — exact signed-64 arithmetic
#: on both engines — and the paired moduli push the birthday collision
#: rate to S²/2·4.6e18 (≈4e-6 at ten million spans), where a single
#: M31 hash would produce thousands of false duplicate spans.
SPAN_HASH_MOD = (1 << 31) - 1
SPAN_HASH_B1 = 1_000_003
SPAN_HASH_B2 = 2_000_029


def duplicate_spans(documents: DataFrame, k: int = 10,
                    min_docs: int = 2) -> DataFrame:
    """ExactSubstr-style duplicated-span statistics (Lee et al., ACL
    2022, "Deduplicating Training Data Makes Language Models Better" —
    the criterion their suffix-array pass implements): a k-token span
    is DUPLICATED when it occurs in at least ``min_docs`` distinct
    documents; each document reports its span counts and the fraction
    of its tokens covered by at least one duplicated span (the mass an
    ExactSubstr trimmer would cut).

    Relational formulation (vs the paper's suffix array): each TOKEN is
    md5-hashed once (O(corpus bytes) hashed, total), and every span
    digest is a Rabin–Karp polynomial over the k token hashes,
    evaluated as ONE Arrow-batched numpy pass (sliding-window
    multiply-add — r5 measured the HOF fold/Horner forms slower than
    even the r4 per-span ``md5(array_join(...))``: interpreter dispatch
    per element dominates, so the vectorized kernel is the fast path
    here exactly as in ``ann_lsh_topk``'s sketching; SCALING.md
    "Round-5 duplicate_spans digests" has the numbers). No per-span
    string materialization: the r4 version re-hashed every token's
    BYTES k times. Digests are 8-byte longs computable identically by
    any engine (md5 + modular arithmetic — the DuckDB twin re-derives
    them with ``list_reduce``), so the op stays oracle-checkable and
    the dup aggregate shuffles 8-byte keys, not 32-byte hex. One hash
    aggregate finds digests in ≥ ``min_docs`` distinct docs; span
    counts and covered positions come from ONE aggregate over the
    (rare) duplicated spans. The token-hash table is eagerly
    checkpointed (it feeds the span fan-out AND the final join — Spark
    does not reuse the subtree); under ``session.checkpoint_scope``
    only the doc-count-sized result stays pinned.
    """
    mod = F.lit(SPAN_HASH_MOD)
    with checkpoint_scope(documents.sparkSession) as keep:
        base = (parallelize_for_compute(documents)
                .select("doc_id", tokens(F.col("text")).alias("toks"))
                .select("doc_id",
                        F.transform("toks",
                                    lambda t: portable_hash60(t) % mod)
                        .alias("th"),
                        F.size("toks").alias("n_tokens"))
                .localCheckpoint(eager=True))  # feeds spans + final join

        # Horner weights B^(k-1-j) mod M, precomputed at plan time. In the
        # kernel every product t·w < 2^62 fits uint64 exactly, and the
        # ≤k·2^31 term sum fits long before its final mod — bit-identical
        # to the sequential Horner fold the oracle runs.
        m_val = SPAN_HASH_MOD
        w1 = [pow(SPAN_HASH_B1, k - 1 - j, m_val) for j in range(k)]
        w2 = [pow(SPAN_HASH_B2, k - 1 - j, m_val) for j in range(k)]

        def span_hashes(batches):
            import numpy as np
            import pandas as pd
            a1 = np.asarray(w1, dtype=np.uint64)
            a2 = np.asarray(w2, dtype=np.uint64)
            for pdf in batches:
                docs_out, starts_out, hs_out = [], [], []
                for doc_id, th in zip(pdf["doc_id"], pdf["th"]):
                    t = np.asarray(th, dtype=np.uint64)
                    if len(t) < k:
                        continue
                    win = np.lib.stride_tricks.sliding_window_view(t, k)
                    h1 = ((win * a1) % m_val).sum(axis=1) % m_val
                    h2 = ((win * a2) % m_val).sum(axis=1) % m_val
                    h = (h1.astype(np.int64) << 31) + h2.astype(np.int64)
                    docs_out.append(np.full(len(h), doc_id, dtype=np.int64))
                    starts_out.append(np.arange(1, len(h) + 1,
                                                dtype=np.int32))
                    hs_out.append(h)
                if not docs_out:
                    yield pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                        "start": pd.Series(dtype="int32"),
                                        "h": pd.Series(dtype="int64")})
                    continue
                yield pd.DataFrame({"doc_id": np.concatenate(docs_out),
                                    "start": np.concatenate(starts_out),
                                    "h": np.concatenate(hs_out)})

        # Measured rejection: a .repartition("h") after the mapInPandas (so
        # the dup aggregate and the spans⋈dup join could share one
        # exchange) got no exchange reuse — both AQE stage jobs still ran
        # the Python kernel, and the call stayed at 12 jobs.
        spans = (base.where(F.col("n_tokens") >= k)
                 .select("doc_id", "th")
                 .mapInPandas(span_hashes,
                              "doc_id long, start int, h long"))
        dup = (spans.groupBy("h")
               .agg(F.count_distinct("doc_id").alias("__nd"))
               .where(F.col("__nd") >= min_docs)
               .select("h"))
        # span count + covered positions in ONE aggregate over duplicated
        # spans (each start is one span, so distinct-start == span count)
        stats = (spans.join(dup, "h")
                 .select("doc_id", "start",
                         F.explode(F.sequence(
                             "start", F.col("start") + k - 1)).alias("p"))
                 .groupBy("doc_id")
                 .agg(F.count_distinct("start").cast("int")
                      .alias("n_dup_spans"),
                      F.count_distinct("p").cast("int")
                      .alias("n_dup_tokens")))
        out = (base.select("doc_id", "n_tokens")
               .join(stats, "doc_id", "left")
               .select("doc_id", "n_tokens",
                       F.greatest(F.col("n_tokens") - k + 1, F.lit(0))
                       .alias("n_spans"),
                       F.coalesce("n_dup_spans", F.lit(0))
                       .alias("n_dup_spans"),
                       F.coalesce("n_dup_tokens", F.lit(0))
                       .alias("n_dup_tokens"),
                       F.when(F.col("n_tokens") > 0,
                              # identical-IEEE half-up rounding on both
                              # engines (see SCALING.md: F.round's exact
                              # HALF_UP vs DuckDB's float round disagree
                              # on 7th-digit halves, e.g. n_tokens=128)
                              F.floor(F.coalesce("n_dup_tokens", F.lit(0))
                                      / F.col("n_tokens") * 1000000.0
                                      + 0.5) / 1000000.0)
                       .otherwise(F.lit(0.0)).alias("dup_token_ratio")))
        return keep(out)  # doc-sized result


def _global_row_number(df: DataFrame, key_cols: list,
                       out: str = "rn", n_parts: int = 32) -> DataFrame:
    """Global ``row_number`` over the order of ``key_cols`` without a
    single-task window — the two-phase shape of packing.prefix_sums:
    range-partition on the keys, local row_number per partition, then
    broadcast the kilobyte per-partition offsets back. Tie order
    within equal keys is arbitrary, so only consume this through
    order-insensitive reductions (``min(rn)`` per key group is the
    count of strictly-smaller rows + 1 — deterministic on any
    partitioning) or over tie-free key sets.

    The range-partitioned frame is checkpointed (lazily — the
    offsets collect below is always the first action and freezes it):
    RangePartitioner samples its boundaries with an RDD-id-derived
    seed, so the offsets collect and the window pass — two separate
    actions — would otherwise re-sample and see DIFFERENT boundaries,
    composing inconsistent global numbers (observed as ~0.7% rank
    inversions on a 28k-suffix corpus). The caller's
    ``session.checkpoint_scope`` releases the block."""
    from pyspark.sql import Window
    part = (df.repartitionByRange(n_parts,
                                  *[F.col(c) for c in key_cols])
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=False))
    w = Window.partitionBy("__pid").orderBy(*key_cols)
    local = part.withColumn("__lrn", F.row_number().over(w))
    totals = (part.groupBy("__pid")
              .agg(F.count(F.lit(1)).alias("__n"))
              .orderBy("__pid").collect())
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r["__pid"], acc))
        acc += r["__n"]
    off = df.sparkSession.createDataFrame(offsets or [(0, 0)],
                                          "__pid int, __off long")
    return (local.join(F.broadcast(off), "__pid")
            .withColumn(out, F.col("__lrn") + F.col("__off"))
            .drop("__pid", "__lrn", "__off"))


def _suffix_rank_round(level: DataFrame, gap: int) -> DataFrame:
    """One prefix-doubling round: given ranks by the first ``gap``
    tokens, produce ranks by the first ``2*gap`` tokens. The key is
    (rank(p), rank(p+gap)) with -1 beyond the document end; the new
    rank is ``min(rn)`` over the key group (order-preserving, equal
    iff keys equal — dense numbering is not required)."""
    from pyspark.sql import Window
    nxt = level.select("doc_id", (F.col("pos") - gap).alias("pos"),
                       F.col("rank").alias("__r2"))
    keyed = (level.join(nxt, ["doc_id", "pos"], "left")
             .select("doc_id", "pos", "rank",
                     F.coalesce("__r2", F.lit(-1)).alias("r2")))
    rn = _global_row_number(keyed, ["rank", "r2"])
    w = Window.partitionBy("rank", "r2")
    return (rn.withColumn("__nr", F.min("rn").over(w))
            .select("doc_id", "pos", F.col("__nr").alias("rank")))


def duplicate_spans_maximal(documents: DataFrame,
                            min_len: int = 10) -> DataFrame:
    """Variable-length ExactSubstr (Lee et al., ACL 2022): the MAXIMAL
    duplicated spans the paper's suffix array reports — per document,
    the merged intervals of every position whose suffix shares a
    ``>= min_len``-token prefix with any other suffix in the corpus
    (the exact removal set of an ExactSubstr trimmer), where the
    fixed-k sibling :func:`duplicate_spans` can only count k-token
    windows.

    Distributed suffix ranking by prefix doubling (the classic
    Manber–Myers recurrence as iterated DataFrame algebra, the
    connected-components discipline): round k ranks every suffix by
    its first 2^k tokens via a sorted self-join on (rank(p),
    rank(p+2^k)), so ``ceil(log2(max doc tokens))`` rounds produce the
    full suffix ordering — each round one range shuffle + one
    key-partition window + a kilobyte offsets broadcast, never a
    single-task global window (``_global_row_number``). Suffixes never
    compare past their document's end (beyond-end rank −1), so no
    concatenated global stream and no separator tokens are needed;
    identical whole suffixes simply stay tied (they ARE duplicates).
    The longest duplicated prefix of each suffix is the max LCP with
    its two suffix-array neighbors, computed by the standard rank-level
    descent (extend by 2^k when level-k ranks match, k = K..0 — one
    broadcast-offsets pair join per level) and clamped to the remaining
    document lengths (tail ties compare equal past the end by
    construction). Positions with ``dup_len >= min_len`` become
    intervals [pos, pos+dup_len), merged per document with a
    doc-partitioned running-max window.

    Cost model (the 10x-smoke work unit): suffix count x rounds; the
    K+1 rank levels are kept (eagerly checkpointed) for the descent
    and released before returning — only the span-count-sized result
    stays pinned.

    Returns (doc_id, span_start, span_len), 0-based token offsets.
    """
    import math
    spark = documents.sparkSession
    out_schema = "doc_id long, span_start int, span_len int"
    with checkpoint_scope(spark) as keep:
        toks = (parallelize_for_compute(documents)
                .select("doc_id",
                        F.posexplode(tokens(F.col("text")))
                        .alias("pos", "word"))
                .localCheckpoint(eager=False))
        doclen = (toks.groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_toks"))
                  .localCheckpoint(eager=False))
        mx = doclen.agg(F.max("n_toks")).collect()[0][0]
        if not mx:
            return spark.createDataFrame([], out_schema)
        from pyspark.sql import Window
        rn0 = _global_row_number(toks, ["word"])
        level = (rn0.withColumn("rank", F.min("rn").over(
                     Window.partitionBy("word")))
                 .select("doc_id", "pos", "rank")
                 .localCheckpoint(eager=False))
        levels = [level]  # levels[k] ranks by the first 2^k tokens
        n_rounds = max(1, math.ceil(math.log2(mx)))
        for k in range(n_rounds):
            level = (_suffix_rank_round(level, 1 << k)
                     .localCheckpoint(eager=False))
            levels.append(level)
        sa = (_global_row_number(levels[-1], ["rank", "doc_id", "pos"])
              .select("doc_id", "pos", "rn").localCheckpoint(eager=False))
        pairs = (sa.select("rn", F.col("doc_id").alias("d1"),
                           F.col("pos").alias("p1"))
                 .join(sa.select((F.col("rn") - 1).alias("rn"),
                                 F.col("doc_id").alias("d2"),
                                 F.col("pos").alias("p2")), "rn")
                 .withColumn("l", F.lit(0).cast("long")))
        for k in range(len(levels) - 1, -1, -1):
            gap = 1 << k
            a = levels[k].select(F.col("doc_id").alias("__da"),
                                 F.col("pos").alias("__pa"),
                                 F.col("rank").alias("__ra"))
            b = levels[k].select(F.col("doc_id").alias("__db"),
                                 F.col("pos").alias("__pb"),
                                 F.col("rank").alias("__rb"))
            pairs = (pairs
                     .withColumn("__ja", F.col("p1") + F.col("l"))
                     .withColumn("__jb", F.col("p2") + F.col("l"))
                     .join(a, (F.col("d1") == F.col("__da"))
                           & (F.col("__ja") == F.col("__pa")), "left")
                     .join(b, (F.col("d2") == F.col("__db"))
                           & (F.col("__jb") == F.col("__pb")), "left")
                     .withColumn("l", F.col("l") + F.when(
                         F.col("__ra").isNotNull()
                         & (F.col("__ra") == F.col("__rb")),
                         F.lit(gap)).otherwise(F.lit(0)))
                     .drop("__da", "__pa", "__db", "__pb",
                           "__ja", "__jb", "__ra", "__rb"))
        # clamp tail-tie overshoot to the remaining document lengths
        l1 = doclen.select(F.col("doc_id").alias("d1"),
                           F.col("n_toks").alias("__n1"))
        l2 = doclen.select(F.col("doc_id").alias("d2"),
                           F.col("n_toks").alias("__n2"))
        lcp = (pairs.join(l1, "d1").join(l2, "d2")
               .select("rn", F.least(F.col("l"),
                                     F.col("__n1") - F.col("p1"),
                                     F.col("__n2") - F.col("p2"))
                       .alias("lcp")))
        dup = (sa.join(lcp.select("rn", F.col("lcp").alias("__ln")),
                       "rn", "left")
               .join(lcp.select((F.col("rn") + 1).alias("rn"),
                                F.col("lcp").alias("__lp")), "rn", "left")
               .select("doc_id", "pos",
                       F.greatest(F.coalesce("__ln", F.lit(0)),
                                  F.coalesce("__lp", F.lit(0)))
                       .alias("dup_len")))
        w = Window.partitionBy("doc_id").orderBy("pos")
        runmax = F.max(F.col("pos") + F.col("dup_len")).over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        flagged = (dup.where(F.col("dup_len") >= min_len)
                   .withColumn("__f", F.when(
                       runmax.isNull() | (F.col("pos") > runmax),
                       F.lit(1)).otherwise(F.lit(0)))
                   .withColumn("__g", F.sum("__f").over(
                       w.rowsBetween(Window.unboundedPreceding, 0))))
        return keep(flagged.groupBy("doc_id", "__g")
                    .agg(F.min("pos").alias("__s"),
                         F.max(F.col("pos") + F.col("dup_len")).alias("__e"))
                    .select("doc_id", F.col("__s").cast("int")
                            .alias("span_start"),
                            (F.col("__e") - F.col("__s")).cast("int")
                            .alias("span_len")))


def exactsubstr_trim(documents: DataFrame,
                     min_len: int = 10) -> DataFrame:
    """The APPLY side of :func:`duplicate_spans_maximal` — the actual
    ExactSubstr trimmer (Lee et al., ACL 2022 drop every copy of a
    duplicated substring): remove every token covered by a maximal
    duplicated span and re-assemble the cleaned text.

    One left-anti join of the token table against the span intervals
    (equi on doc_id, range residual — the span table is small, the
    optimizer broadcasts it when stats allow) and one per-doc ordered
    re-aggregation. Returns (doc_id, n_tokens, n_removed,
    clean_text); documents whose every token is covered come back
    with empty clean_text, token-less docs with zeros.
    """
    spans = duplicate_spans_maximal(documents, min_len=min_len)
    toks = (parallelize_for_compute(documents)
            .select("doc_id",
                    F.posexplode(tokens(F.col("text")))
                    .alias("pos", "word")))
    sp = spans.select(F.col("doc_id").alias("__d"),
                      F.col("span_start").alias("__s"),
                      (F.col("span_start") + F.col("span_len"))
                      .alias("__e"))
    kept = toks.join(
        sp, (F.col("doc_id") == F.col("__d"))
        & (F.col("pos") >= F.col("__s")) & (F.col("pos") < F.col("__e")),
        "left_anti")
    stats = (toks.groupBy("doc_id")
             .agg(F.count(F.lit(1)).cast("int").alias("n_tokens")))
    clean = (kept.groupBy("doc_id")
             .agg(F.count(F.lit(1)).cast("int").alias("__k"),
                  F.concat_ws(" ", F.array_sort(
                      F.collect_list(F.struct("pos", "word")))
                      .getField("word")).alias("clean_text")))
    return (documents.select("doc_id")
            .join(stats, "doc_id", "left")
            .join(clean, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    (F.coalesce("n_tokens", F.lit(0))
                     - F.coalesce("__k", F.lit(0))).cast("int")
                    .alias("n_removed"),
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text")))
