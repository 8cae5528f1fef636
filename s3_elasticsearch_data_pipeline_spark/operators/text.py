"""Text-analysis operators over the documents table (M4 north star):
language-ID, quality scoring, token counting, fingerprinting.

Every operator is a pure built-in expression tree (arrays +
higher-order functions + regex), so it vectorizes in codegen and has an
exact ANSI-SQL twin for the DuckDB oracle. No Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.functions.textfns import (
    fingerprint, token_count, tokens, word_ngrams_from_tokens)
from s3_elasticsearch_data_pipeline_spark.session import checkpoint_scope
from s3_elasticsearch_data_pipeline_spark.tables import (
    parallelize_for_compute as _par)  # unsplittable-input guard

# Small per-language function-word lists for the n-gram/stopword
# language heuristic. Deliberately tiny and hardcoded: the operator's
# point is the *shape* (set-overlap scoring + argmax), which is what a
# real lang-ID (fastText-style) would replace.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"),
    "es": ("el", "la", "los", "las", "y", "de", "un", "una", "es", "para"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace token count + distinct token count per document.

    The token array is materialized as a named column first: Spark does
    no common-subexpression elimination inside higher-order functions,
    so an inlined ``tokens(text)`` re-runs the regex split per
    reference (see functions.textfns.word_ngrams_from_tokens)."""
    return (documents
            .withColumn("__toks", tokens(F.col("text")))
            .select("doc_id",
                    F.size("__toks").alias("n_tokens"),
                    F.size(F.array_distinct("__toks"))
                    .alias("n_distinct_tokens")))


def _quality_score_cols(documents: DataFrame):
    """``(documents + __toks, {name: expression})`` — the per-row
    quality columns, built ONCE for both :func:`quality_scores` (which
    projects them) and :func:`quality_kept_rows` (which filters on
    them), so the two forms cannot drift."""
    toks = F.col("__toks")  # named column — see token_counts note
    documents = documents.withColumn("__toks", tokens(F.col("text")))
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    diversity = F.when(n_tok > 0, n_distinct / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    length_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(n_stop / F.lit(5.0), F.lit(1.0))

    def round6(x):
        # floor(x*1e6 + 0.5)/1e6 instead of F.round: both engines then
        # run the SAME IEEE double ops, so a score sitting exactly on a
        # half-way point (observed at sf0.1) cannot round differently
        # here vs in the DuckDB oracle (whose round() is float-scaled,
        # unlike Spark's exact BigDecimal HALF_UP)
        return F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    quality = round6(0.3 * length_score + 0.3 * diversity
                     + 0.2 * alpha_ratio + 0.2 * stop_score)
    return documents, {
        "n_tokens": n_tok,
        "lexical_diversity": round6(diversity),
        "alpha_ratio": round6(alpha_ratio),
        "n_stopword_hits": n_stop,
        "quality_score": quality,
    }


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length, lexical diversity, stopword
    rate, punctuation/alpha balance — the standard cheap pre-filters a
    training-data pipeline applies before expensive model scoring."""
    documents, cols = _quality_score_cols(documents)
    return documents.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()])


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-overlap language heuristic: score each language by
    distinct-token overlap with its function-word list; argmax with
    deterministic (alphabetical) tie-break; 'und' (undetermined) when
    no list matches at all."""
    # Stage every expensive expression as a named column so the argmax
    # projection references attributes: Catalyst's CollapseProject
    # would otherwise inline each size(array_intersect(...)) tree into
    # the greatest()/CASE chains — 40 intersects per row instead of 5.
    documents = documents.withColumn(
        "__dt", F.array_distinct(tokens(F.lower(F.col("text")))))
    scored = documents.select(
        "doc_id",
        *[F.size(F.array_intersect(
            F.col("__dt"), F.array(*[F.lit(w) for w in words])))
          .alias(f"score_{lang}")
          for lang, words in sorted(LANG_STOPWORDS.items())])
    langs = sorted(LANG_STOPWORDS)
    scores = {lang: F.col(f"score_{lang}") for lang in langs}
    best = F.greatest(*scores.values())
    predicted = F.lit("und")
    # Reverse alphabetical fold so the earliest language wins ties.
    for lang in reversed(langs):
        predicted = F.when(scores[lang] == best, F.lit(lang)).otherwise(predicted)
    predicted = F.when(best == 0, F.lit("und")).otherwise(predicted)
    return scored.select(
        "doc_id", *[f"score_{lang}" for lang in langs],
        predicted.alias("predicted_lang"))


def fingerprints(documents: DataFrame) -> DataFrame:
    """Deterministic md5 fingerprint of the normalized text — the
    document-identity primitive exact dedup and incremental loads key
    on."""
    return documents.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# PII patterns kept RE2-compatible (no backrefs/lookarounds) so the
# same strings run under Java regex (Spark) and RE2 (DuckDB oracle).
PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_LONG_DIGITS_RE = "[0-9]{6,}"


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact email addresses and long digit runs (account/phone/SSN
    shapes) — the cheap regex pass a training pipeline runs before any
    text ships downstream. Pure regexp_replace/regexp_count columns:
    codegen'd, no UDF, trivially partition-parallel at 100 TB."""
    email_gone = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(email_gone, PII_LONG_DIGITS_RE, "<NUM>")
    n_redactions = (F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE))
                    + F.regexp_count(F.col(text_col),
                                     F.lit(PII_LONG_DIGITS_RE)))
    return documents.select("doc_id", scrubbed.alias("clean_text"),
                            n_redactions.alias("n_redactions"))


def vocab_top_terms(documents: DataFrame, k: int = 25) -> DataFrame:
    """Corpus vocabulary head: top-k terms by total occurrences (term
    as tie-break), with document frequency. explode → partial-agg
    count; the top-k is orderBy+limit, which Spark executes as
    TakeOrdered (per-partition heaps, no global sort materialization).
    """
    exploded = documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    counts = (exploded.groupBy("term")
              .agg(F.count(F.lit(1)).alias("n_occurrences"),
                   F.countDistinct("doc_id").alias("doc_freq")))
    return counts.orderBy(F.col("n_occurrences").desc(), "term").limit(k)


def idf_table(documents: DataFrame) -> DataFrame:
    """Smoothed inverse document frequency per term:
    ln((N+1)/(df+1)), the weighting table TF-IDF scoring joins
    against. df counts distinct docs via array_distinct before the
    explode, so the aggregate shuffles one row per (doc, term)."""
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = (documents
              .select(F.explode(F.array_distinct(tokens(F.col("text"))))
                      .alias("term"))
              .groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq")))
    return (df_tbl.crossJoin(F.broadcast(n_docs))
            .select("term", "doc_freq",
                    F.round(F.log((F.col("n_docs") + 1)
                                  / (F.col("doc_freq") + 1)), 6)
                    .alias("idf")))


def quality_kept_rows(documents: DataFrame, min_quality: float = 0.55,
                      langs: tuple[str, ...] = ("en", "de", "fr", "es"),
                      min_tokens: int = 20,
                      max_tokens: int = 1000) -> DataFrame:
    """The ``documents`` rows (every input column) that pass the
    curation filter chain: language allowlist + token-length window +
    heuristic quality threshold, applied as ONE filtered scan.

    The score is a per-row expression (:func:`_quality_score_cols`),
    so no join is needed. ``doc_id`` is the documents key — the DuckDB
    twin inner-joins the scores back on it and every fixture has
    unique ids — and under that contract this filter returns exactly
    the rows of a ``doc_id`` semi-join of ``documents`` against
    ``quality_scores(documents)``, with one scan and tokenization of
    the input instead of two."""
    scored, cols = _quality_score_cols(documents)
    return (scored.where(F.col("lang").isin(*langs)
                         & (cols["quality_score"] >= min_quality)
                         & cols["n_tokens"].between(min_tokens, max_tokens))
            .drop("__toks"))


def quality_filter(documents: DataFrame, min_quality: float = 0.55,
                   langs: tuple[str, ...] = ("en", "de", "fr", "es"),
                   min_tokens: int = 20, max_tokens: int = 1000) -> DataFrame:
    """The canonical corpus-curation filter chain → surviving document
    rows ``(doc_id, lang, source, n_chars)``: :func:`quality_kept_rows`
    (one filtered scan; same rows as a semi-join on the unique
    ``doc_id`` key) plus a projection."""
    return (quality_kept_rows(documents, min_quality, langs,
                              min_tokens, max_tokens)
            .select("doc_id", "lang", "source", "n_chars"))


def rolling_fingerprints(documents: DataFrame) -> DataFrame:
    """Rabin–Karp rolling-hash fingerprint per document over the
    normalized text — the order-sensitive sibling of the md5
    ``fingerprints`` (two docs with permuted words collide under
    bag-of-words hashing but not here)."""
    from s3_elasticsearch_data_pipeline_spark.functions.textfns import (
        normalize, rolling_hash)
    return documents.select(
        "doc_id", rolling_hash(normalize(F.col("text"))).alias("rk_hash"))


def bm25_search(documents: DataFrame, query_terms: tuple[str, ...],
                k1: float = 1.2, b: float = 0.75, k: int = 10) -> DataFrame:
    """BM25 top-k full-text search — the serving-store capability the
    reference delegates to Elasticsearch (its `_search` match query),
    re-expressed as relational algebra (Robertson/Sparck Jones BM25 as
    in Lucene: idf = ln(1 + (N-df+0.5)/(df+0.5))).

    Physical shape: the per-(doc, term) tf aggregate is filtered to the
    query's terms BEFORE its shuffle (the explode feeds a partial agg
    on a handful of terms), the df/N/avgdl statistics are 1-row or
    |query|-row broadcasts, and the top-k is TakeOrdered — so the only
    data-sized shuffle is the tf aggregate, keyed by (doc, term).
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = (documents
            .withColumn("__toks", tokens(F.col("text")))
            .select("doc_id", F.size("__toks").alias("dl"),
                    F.explode("__toks").alias("term")))
    tf = (toks.where(F.array_contains(terms, F.col("term")))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")))
    stats = (documents
             .select(F.size(tokens(F.col("text"))).alias("dl"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.avg("dl").alias("avgdl")))
    df_tbl = (toks.where(F.array_contains(terms, F.col("term")))
              .groupBy("term")
              .agg(F.countDistinct("doc_id").alias("df")))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
    return (tf
            .join(F.broadcast(df_tbl), "term")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), "doc_id")
            .limit(k))


def fuzzy_term_match(documents: DataFrame, query_term: str,
                     max_distance: int = 1) -> DataFrame:
    """Fuzzy term search (the Elasticsearch `fuzzy` query): documents
    containing any token within ``max_distance`` edits of the query
    term, with the matched vocabulary terms.

    Scale shape: levenshtein runs over the DISTINCT token vocabulary
    (tiny vs the corpus — Heaps' law), never per occurrence; matching
    docs come back via an equi-semi-join on the matched terms. The
    100 TB refinement (unchanged join shape) is restricting candidates
    by length band / shared prefix before the edit-distance check."""
    vocab = (documents
             .select(F.explode(F.array_distinct(tokens(F.col("text"))))
                     .alias("term"))
             .distinct()
             .where(F.levenshtein(F.col("term"), F.lit(query_term))
                    <= max_distance))
    occurrences = documents.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text"))))
        .alias("term"))
    return (occurrences
            .join(F.broadcast(vocab), "term")
            .select("doc_id", F.col("term").alias("matched_term")))


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document TF-IDF head: the k highest-weighted terms per doc
    (score desc, term asc tie-break) — the sparse document vector a
    retrieval or clustering stage consumes. The (doc, term) tf
    aggregate is the only data-sized shuffle; the IDF table broadcasts;
    ranking is a per-doc window over the already-partitioned frame."""
    from pyspark.sql.window import Window
    tf = (documents
          .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    idf = idf_table(documents).select("term", "idf")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (tf.join(F.broadcast(idf), "term")
            .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "term", "tfidf", "rank"))


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals: duplicate-bigram
    fraction and the count of the single most repeated bigram.

    Everything is per-row array algebra inside whole-stage codegen — no
    explode, no shuffle: the raw (non-distinct) bigram list is built
    with ``transform`` over an index sequence, and the top-bigram count
    folds ``filter`` over the distinct list (O(distinct x total) per
    row, bounded by document length, embarrassingly parallel at 100 TB).
    """
    toks = F.col("__toks")  # named column — see token_counts note
    documents = _par(documents).withColumn("__toks", tokens(F.col("text")))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)))
    documents = documents.withColumn(
        "__grams",
        F.when(F.size(toks) >= 2, grams)
         .otherwise(F.array().cast("array<string>")))
    g = F.col("__grams")
    n_grams = F.size(g)
    n_distinct = F.size(F.array_distinct(g))
    top_count = F.array_max(F.transform(
        F.array_distinct(g),
        lambda d: F.size(F.filter(g, lambda x: x == d))))
    return documents.select(
        "doc_id",
        n_grams.alias("n_bigrams"),
        n_distinct.alias("n_distinct_bigrams"),
        F.when(n_grams > 0, F.round(1.0 - n_distinct / n_grams, 6))
         .otherwise(F.lit(0.0)).alias("dup_bigram_fraction"),
        F.coalesce(top_count, F.lit(0)).alias("top_bigram_count"))


def contamination_overlap(documents: DataFrame,
                          benchmark_source: str = "src0",
                          n: int = 4) -> DataFrame:
    """Benchmark-contamination screen: for every training document,
    count its distinct word n-grams that also occur anywhere in the
    held-out benchmark slice (``source == benchmark_source``).

    Scale shape: the benchmark's distinct-gram set is fixed-size and
    small, so it broadcasts — the 100 TB training corpus streams
    through a map-side hash join (no shuffle of the corpus), then a
    partial+final count per doc. This is the standard eval-decontam
    pass (cf. GPT-3/C4 13-gram filtering) at n=4 for the tiny-vocab
    test corpus.
    """
    grams_col = word_ngrams_from_tokens(F.col("__toks"), n)
    # Materialize the gram lists ONCE before exploding: Spark's Generate
    # re-evaluates an inlined generator expression instead of CSE-ing
    # it (measured 8x slower), and both the benchmark and train sides
    # read the same shingling pass.
    with_grams = (documents
                  .withColumn("__toks", tokens(F.col("text")))
                  .withColumn("__grams", grams_col)
                  .select("doc_id", "source", "__grams")
                  .localCheckpoint(eager=False))
    bench = (with_grams.where(F.col("source") == benchmark_source)
             .select(F.explode("__grams").alias("gram"))
             .distinct())
    train = (with_grams.where(F.col("source") != benchmark_source)
             .select("doc_id", "source", F.explode("__grams").alias("gram")))
    return (train.join(F.broadcast(bench), "gram")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).alias("n_shared_ngrams")))


def unigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Unigram language-model quality proxy (CCNet-style): score each
    document by its average negative log-probability under the corpus's
    own unigram distribution. High scores = rare-token-heavy documents
    (gibberish, boilerplate-stripped residue); the standard cheap stand-
    in for a KenLM perplexity filter.

    Two corpus passes: (1) build the unigram table (explode + count —
    one shuffle of compact (term, count) pairs), (2) re-join it
    broadcast onto the exploded corpus and average per doc. Per-token
    log-probs are rounded then accumulated in DECIMAL so the per-doc
    mean is independent of summation order.
    """
    tok = documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("term_count"))
    total = freq.agg(F.sum("term_count").alias("total"))
    logp = (freq.crossJoin(F.broadcast(total))
            .select("term",
                    F.round(F.log(F.col("term_count") / F.col("total")), 9)
                    .cast("decimal(18,9)").alias("logp")))
    return (tok.join(F.broadcast(logp), "term")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round((-F.sum("logp")).cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_neg_logprob")))


def inverted_index(documents: DataFrame) -> DataFrame:
    """Term -> posting-list index (the serving-side artifact the
    reference's Elasticsearch maintains internally): per term, the
    sorted distinct doc ids and the document frequency. explode +
    one aggregate; posting arrays are sorted in-engine so the output
    is deterministic and mergeable (union + flatten + re-sort) across
    incremental builds."""
    return (documents
            .select(F.explode(F.array_distinct(tokens(F.col("text"))))
                    .alias("term"), "doc_id")
            .groupBy("term")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("postings"),
                 F.countDistinct("doc_id").alias("doc_freq")))


# GPT-2-style pre-tokenizer pattern, simplified to the RE2-compatible
# subset (no lookarounds) so Spark's Java regex and the DuckDB oracle's
# RE2 agree: contractions, space-prefixed word/number/symbol runs,
# residual whitespace.
BPE_PIECE_RE = ("'(?:[sdmt]|ll|ve|re)"
                "| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+")


def bpe_token_counts(documents: DataFrame) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex next to the
    whitespace count — the fertility estimate (pieces per word) a
    training pipeline uses to budget sequence lengths before running
    the real tokenizer."""
    ws = F.size(tokens(F.col("text")))
    pieces = F.size(F.filter(
        F.expr(f"regexp_extract_all(text, \"{BPE_PIECE_RE}\", 0)"),
        lambda p: p.rlike("\\S")))  # drop pure-whitespace pieces
    return (documents
            .withColumn("__n_pieces", pieces)
            .select("doc_id",
                    ws.alias("n_ws_tokens"),
                    F.col("__n_pieces").alias("n_bpe_pieces"),
                    F.when(ws > 0,
                           F.round(F.col("__n_pieces") / ws, 6))
                     .otherwise(F.lit(0.0)).alias("fertility")))


def split_assignment_cols(train_hex: str = "cc", val_hex: str = "e6"):
    """(bucket_hex, split) EXPRESSIONS of :func:`dataset_split` over
    ``doc_id`` — importable so a composer can attach the assignment
    INLINE instead of joining the 1:1 projection back on doc_id (r11:
    the join spent an exchange + AQE job to recompute what is a pure
    per-row expression; one definition keeps the two forms in exact
    lockstep)."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (F.when(bucket < train_hex, "train")
             .when(bucket < val_hex, "val")
             .otherwise("test"))
    return bucket, split


def dataset_split(documents: DataFrame,
                  train_hex: str = "cc", val_hex: str = "e6") -> DataFrame:
    """Deterministic train/val/test assignment: hash the stable doc id
    (NOT the text — re-crawled/cleaned text must not migrate documents
    across splits) and threshold the leading md5 hex byte. 'cc'/'e6'
    give ~79.7/10.2/10.1; membership is reproducible on any engine and
    any partitioning, and the assignment is a pure per-row projection —
    no shuffle, no state, safe to recompute at 100 TB."""
    bucket, split = split_assignment_cols(train_hex, val_hex)
    return documents.select(
        "doc_id", bucket.alias("bucket_hex"), split.alias("split"))


def chunk_documents_udtf(documents: DataFrame,
                         chunk_tokens: int = 20) -> DataFrame:
    """Fixed-size document chunking via a Python UDTF (lateral table
    function) — the row-to-many-rows extension point, demonstrated on
    the RAG-style chunking task. Documented slow path: UDTFs run
    row-at-a-time in Python workers; the built-in equivalent (shingle
    transform + explode, cf. contamination_overlap) is the hot-path
    choice — this exists for API parity and for logic a lambda cannot
    express."""
    import re

    from pyspark.sql.functions import udtf

    n = chunk_tokens

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk string")
    class Chunker:
        def eval(self, doc_id: int, text: str):
            toks = [t for t in re.split(r"\s+", text or "") if t]
            for i in range(0, len(toks), n):
                yield doc_id, i // n, " ".join(toks[i:i + n])

    spark = documents.sparkSession
    spark.udtf.register("chunk_docs", Chunker)
    documents.select("doc_id", "text").createOrReplaceTempView("__chunk_in")
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.chunk "
        "FROM __chunk_in, LATERAL chunk_docs(doc_id, text) c")


def encode_token_ids(documents: DataFrame) -> DataFrame:
    """Tokenizer-style id encoding: build the corpus vocabulary (ids
    dense-ranked by frequency desc, term asc — the order real BPE/WP
    vocabs use) and re-emit every document as its ``array<int>`` of
    token ids — the final materialization step of a training-data
    pipeline.

    Scale shape: the vocab aggregate is a partial+final count; its
    ranking window is a single partition, acceptable because vocabs
    are ~10⁵-10⁶ rows regardless of corpus size (they do NOT grow with
    the 100 TB). The vocab then broadcasts into the posexploded token
    stream, and per-doc arrays reassemble via collect_list of
    (pos, id) structs sorted in-place — no second shuffle beyond the
    doc_id aggregate.
    """
    tok0 = documents.select("doc_id", tokens(F.col("text")).alias("__toks"))
    vocab = (tok0.select(F.explode("__toks").alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("n_occ")))
    rank_w = Window.orderBy(F.col("n_occ").desc(), "term")
    vocab_ids = vocab.select(
        "term", F.row_number().over(rank_w).alias("tid"))
    pos = tok0.select("doc_id", F.size("__toks").alias("n_tokens"),
                      F.posexplode("__toks").alias("pos", "term"))
    return (pos.join(F.broadcast(vocab_ids), "term")
            .groupBy("doc_id", "n_tokens")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda x: x.tid).alias("token_ids")))


def vocab_top_p(documents: DataFrame, p: float = 0.9) -> DataFrame:
    """Nucleus (top-p) vocabulary truncation: the smallest
    frequency-ranked prefix of the vocabulary whose cumulative token
    share reaches ``p`` — the standard cut when sizing a tokenizer
    vocab from a corpus. Keeps every term whose PRECEDING cumulative
    mass is still under ``p`` (so the crossing term is included).

    Shapes: one explode+count aggregate, a single-partition window
    over the vocab (vocab size does not grow with corpus size), and a
    one-row total broadcast. All mass arithmetic on exact longs; the
    only float op is the final share division — deterministic in any
    IEEE engine.
    """
    vocab = (documents
             .select(F.explode(tokens(F.col("text"))).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("n_occ")))
    w = (Window.orderBy(F.col("n_occ").desc(), "term")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = vocab.select(
        F.row_number().over(Window.orderBy(F.col("n_occ").desc(), "term"))
         .alias("rank"),
        "term", "n_occ", F.sum("n_occ").over(w).alias("__cum"))
    total = F.broadcast(vocab.agg(F.sum("n_occ").alias("__total")))
    return (ranked.crossJoin(total)
            .where((F.col("__cum") - F.col("n_occ")).cast("double")
                   < F.lit(p) * F.col("__total"))
            .select("rank", "term", "n_occ",
                    F.round(F.col("__cum").cast("double")
                            / F.col("__total"), 6).alias("cum_share")))


def sentence_split(documents: DataFrame) -> DataFrame:
    """Sentence segmentation (regex boundary split) with per-sentence
    position and token count — the chunking granularity between
    whole-document and fixed-token windows (text_chunks_udtf). Pure
    split+posexplode: vectorized, shuffle-free, output grows with
    sentence count only."""
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+\s+|[.!?]+$"),
                    lambda s: F.trim(s)),
        lambda s: s != "")
    return (documents
            .select("doc_id", F.posexplode(sents).alias("sent_idx", "sentence"))
            .select("doc_id", "sent_idx", "sentence",
                    F.size(tokens(F.col("sentence"))).alias("n_tokens")))


def stem_terms(documents: DataFrame) -> DataFrame:
    """Porter-lite suffix stripping (ing/ed/es/s with minimal-stem
    guards) over the vocabulary, with per-stem collapsed counts — the
    normalization step between raw tokens and vocab/IDF builds. One
    regex per token on the exploded stream (vectorized, no UDF); the
    re-aggregate merges surface forms into stems."""
    term = F.col("term")
    stem = (F.when(term.rlike("^[a-z]{3,}ing$"),
                   F.regexp_replace(term, "ing$", ""))
            .when(term.rlike("^[a-z]{3,}ed$"),
                  F.regexp_replace(term, "ed$", ""))
            .when(term.rlike("^[a-z]{2,}es$"),
                  F.regexp_replace(term, "es$", ""))
            .when(term.rlike("^[a-z]{2,}s$") & ~term.rlike("ss$"),
                  F.regexp_replace(term, "s$", ""))
            .otherwise(term))
    exploded = documents.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    return (exploded.select(stem.alias("stem"), "term")
            .groupBy("stem")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.count_distinct("term").alias("n_surface_forms")))


def dataset_shuffle(documents: DataFrame, n_shards: int = 16) -> DataFrame:
    """Deterministic global shuffle: assign every document a
    pseudorandom shard and an ordinal inside it — the corpus
    randomization step before sequence packing (neighboring crawl/source
    rows must not land in the same training batch).

    Shard = arithmetic hash of the stable id (reproducible on any
    engine); position = rank of the md5 order key within the shard. One
    hash shuffle on shard, per-shard sort — at 100 TB each shard is an
    independent sortable unit (no global total order, which would
    funnel through a single range-partition boundary computation), and
    the layout maps 1:1 onto a sharded training-set write."""
    shard, order_key = shuffle_assignment_cols(n_shards)
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (documents
            .select("doc_id", shard.alias("shard"),
                    order_key.alias("order_key"))
            .withColumn("pos",
                        (F.row_number().over(w) - F.lit(1)).cast("long"))
            .select("doc_id", "shard", "pos"))


def shuffle_assignment_cols(n_shards: int = 16):
    """(shard, order_key) EXPRESSIONS of :func:`dataset_shuffle` over
    ``doc_id`` — importable for inline attachment (see
    :func:`split_assignment_cols`); the window rank over (order_key,
    doc_id) stays at the composer.

    Arithmetic notes carried from dataset_shuffle: reduce the id mod p
    BEFORE multiplying — (a·x) mod p ≡ ((a mod p)·(x mod p)) mod p,
    and the direct product overflows long under ANSI mode once ids
    pass ~3.5e9 (snowflake-scale ids — caught by the 5× key-shifted
    scale smoke)."""
    p = 2_147_483_647
    a = 2_654_435_761 % p
    shard = ((((F.col("doc_id") % F.lit(p)) * F.lit(a) + F.lit(11))
              % F.lit(p)) % F.lit(n_shards)).cast("int")
    order_key = F.md5(F.col("doc_id").cast("string"))
    return shard, order_key


def dataset_mixture(documents: DataFrame,
                    weights: dict[str, float] | None = None,
                    default_weight: float = 0.1) -> DataFrame:
    """Deterministic weighted source mixture: keep each document with
    its source's sampling rate, decided by an arithmetic hash of the
    stable id — the up/down-weighting step that turns curated sources
    into a training mixture (e.g. wiki 2 epochs, crawl 0.3).

    Pure per-row projection + filter: no shuffle, no RNG state,
    identical membership on any engine/partitioning, safe to recompute
    incrementally at 100 TB. Rates are exact in the limit and
    reproducible row-for-row (unlike ``df.sample``, whose membership
    depends on partition layout)."""
    if weights is None:
        weights = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    p = 2_147_483_647
    # mod-first like dataset_shuffle: identical values for ids < p,
    # no long overflow for snowflake-scale ids
    u = ((((F.col("doc_id") % F.lit(p)) * F.lit(48_271) + F.lit(7))
          % F.lit(p)) % F.lit(1000)) / F.lit(1000.0)
    rate = F.lit(default_weight)
    for src, wt in sorted(weights.items()):
        rate = F.when(F.col("source") == src, F.lit(wt)).otherwise(rate)
    return (documents
            .select("doc_id", "source", u.alias("u"),
                    rate.alias("sample_rate"))
            .where(F.col("u") < F.col("sample_rate"))
            .select("doc_id", "source",
                    F.round("sample_rate", 3).alias("sample_rate")))


def bpe_pair_counts(documents: DataFrame, top_n: int = 30) -> DataFrame:
    """One BPE-training merge step: the corpus-wide frequency of every
    adjacent token pair, ranked — choosing argmax IS the merge rule.

    Adjacency is materialized with arrays_zip of the token array
    against its own 1-shifted slice — zero shuffles until the final
    pair count (one hash aggregate over (left, right)); no window, no
    self-join. The top-n is an exact ordered limit with a full
    tie-break so the merge choice is deterministic.
    """
    d = (documents
         .withColumn("__toks", tokens(F.col("text")))
         .where(F.size("__toks") >= 2))
    left = F.slice(F.col("__toks"), F.lit(1), F.size("__toks") - 1)
    right = F.slice(F.col("__toks"), F.lit(2), F.size("__toks") - 1)
    return (d.withColumn("__l", left).withColumn("__r", right)
            .select(F.explode(F.arrays_zip("__l", "__r")).alias("pr"))
            .select(F.col("pr.__l").alias("left_tok"),
                    F.col("pr.__r").alias("right_tok"))
            .groupBy("left_tok", "right_tok")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy(F.col("n_pairs").desc(), "left_tok", "right_tok")
            .limit(top_n))


def bigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Bigram language-model quality proxy: average negative
    log-probability of each document's adjacent token pairs under the
    corpus's own MLE bigram distribution p(r|l) = c(l,r) / c(l·) —
    the context-aware step up from unigram_logprob_scores that CCNet-
    style pipelines take before paying for a real KenLM.

    Same numeric discipline as the unigram scorer (ln rounded to 9dp,
    decimal accumulation → order-independent per-doc means). The pair
    stream comes from the shifted-slice zip (no window, no shuffle
    before the counts); the probability table joins back on the
    bigram key as a plain hash join — both sides scale.
    """
    d = (documents
         .withColumn("__toks", tokens(F.col("text")))
         .where(F.size("__toks") >= 2))
    left = F.slice(F.col("__toks"), F.lit(1), F.size("__toks") - 1)
    right = F.slice(F.col("__toks"), F.lit(2), F.size("__toks") - 1)
    pairs = (d.withColumn("__l", left).withColumn("__r", right)
             .select("doc_id",
                     F.explode(F.arrays_zip("__l", "__r")).alias("pr"))
             .select("doc_id", F.col("pr.__l").alias("l"),
                     F.col("pr.__r").alias("r")))
    big = pairs.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c_pair"))
    lft = pairs.groupBy("l").agg(F.count(F.lit(1)).alias("c_left"))
    logp = (big.join(lft, "l")
            .select("l", "r",
                    F.round(F.log(F.col("c_pair") / F.col("c_left")), 9)
                    .cast("decimal(18,9)").alias("logp")))
    return (pairs.join(logp, ["l", "r"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round((-F.sum("logp")).cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_neg_logprob")))


def weighted_sample(documents: DataFrame, k: int = 50) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): select k documents with probability
    proportional to length, reproducibly.

    Each doc gets key = ln(u)/w where u ∈ (0,1] comes from an
    arithmetic Carter-Wegman hash of doc_id (no RNG — same sample on
    any engine, run, or partitioning) and w = n_chars; the k largest
    keys win. One scan + an exact top-k (per-partition heaps, no
    global sort): the reproducible form of the weighted subset
    selection a corpus mixture pays for at 100 TB.
    """
    p = 2_147_483_647
    # reduce the id mod p BEFORE multiplying: (a·x) mod p ≡
    # ((a mod p)·(x mod p)) mod p — identical here, overflow-free at
    # snowflake-scale ids (same fix as the corpus shuffle hashes)
    h = (F.lit(1103515245) * (F.col("doc_id") % F.lit(p))
         + F.lit(12345)) % F.lit(p)
    u = (h + 1).cast("double") / F.lit(float(p + 1))
    key = F.log(u) / F.col("n_chars")
    return (documents
            .select("doc_id", "n_chars", key.alias("key"))
            .orderBy(F.col("key").desc(), "doc_id")
            .limit(k)
            .select("doc_id", "n_chars",
                    (F.floor(F.col("key") * 1000000000.0 + F.lit(0.5))
                     / 1000000000.0).alias("es_key")))


def feature_hashing(documents: DataFrame, n_buckets: int = 256) -> DataFrame:
    """The hashing trick: project each document's token multiset into a
    fixed ``n_buckets``-dim signed sparse vector — the ML-prep step
    that makes unbounded vocabularies trainable without a fitted
    vocabulary table (no global state, perfectly shardable).

    Bucket and sign come from two arithmetic string hashes (char-code
    polynomial mod p — engine-portable, unlike murmur), so the exact
    vector is oracle-checkable. Output is the sparse (doc, bucket,
    weight) triple stream; one explode + one hash aggregate.
    """
    p = 2_147_483_647
    # polynomial rolling hash of the token text: fold 31·h + code,
    # chars reduced via their code points (ASCII-safe, deterministic)
    codes = F.transform(F.split(F.col("term"), ""),
                        lambda ch: F.ascii(ch))
    h = F.aggregate(codes, F.lit(0).cast("long"),
                    lambda acc, c: (acc * 31 + c) % F.lit(p))
    tok = documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    hashed = tok.select(
        "doc_id",
        (h % F.lit(n_buckets)).alias("bucket"),
        (F.when((h % 2) == 0, F.lit(1)).otherwise(F.lit(-1))).alias("sign"))
    return (hashed.groupBy("doc_id", "bucket")
            .agg(F.sum("sign").alias("weight"))
            .where(F.col("weight") != 0))


def onehot_behavior_vectors(events: DataFrame) -> DataFrame:
    """Per-user one-hot behavioral feature vector: event-type counts
    pivoted into fixed columns plus decimal-exact value totals — the
    canonical wide feature frame a downstream trainer consumes. One
    hash aggregate; the type list is fixed so the schema is static at
    any scale (no dynamic pivot pass)."""
    types = ("click", "purchase", "signup", "view")
    cnt = [F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
           .alias(f"n_{t}") for t in types]
    return (events.groupBy("user_id")
            .agg(*cnt,
                 F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                  .cast("double").alias("total_value")))


def significant_terms(documents: DataFrame, fg_source: str = "src1",
                      min_fg_docs: int = 3, top_n: int = 25) -> DataFrame:
    """Significant-terms scoring (the Elasticsearch signature agg the
    reference's sink offers): terms overrepresented in a foreground
    slice vs the whole corpus, by JLH score
    (fg% − bg%) · (fg% / bg%) over distinct-document frequencies.

    Two document-frequency aggregates (foreground slice + background)
    joined on term — each one explode of array_distinct tokens, so a
    (doc, term) pair shuffles once; the score is a fixed-shape double
    expression; exact ordered top-n with a term tie-break.
    """
    toks = documents.select(
        "doc_id", "source",
        F.explode(F.array_distinct(tokens(F.lower(F.col("text")))))
         .alias("term"))
    fg = (toks.groupBy("term")
          .agg(F.count(F.when(F.col("source") == fg_source, 1))
                .alias("df_fg"),
               F.count(F.lit(1)).alias("df_bg")))
    totals = documents.agg(
        F.count(F.when(F.col("source") == fg_source, 1)).alias("n_fg"),
        F.count(F.lit(1)).alias("n_bg"))
    fgp = F.col("df_fg").cast("double") / F.col("n_fg").cast("double")
    bgp = F.col("df_bg").cast("double") / F.col("n_bg").cast("double")
    score = (fgp - bgp) * (fgp / bgp)
    return (fg.where(F.col("df_fg") >= min_fg_docs)
            .crossJoin(F.broadcast(totals))
            .select("term", "df_fg", "df_bg",
                    (F.floor(score * 1000000.0 + F.lit(0.5)) / 1000000.0)
                    .alias("jlh_score"))
            .orderBy(F.col("jlh_score").desc(), "term")
            .limit(top_n))


def autocomplete_prefix(documents: DataFrame, prefix: str = "s",
                        k: int = 10) -> DataFrame:
    """Prefix autocomplete (the search-box suggester): top-k corpus
    terms completing a prefix, ranked by occurrences with a term
    tie-break. The prefix filter applies before the aggregate, so only
    matching tokens shuffle; a real deployment serves this from the
    pre-built inverted index (text_inverted_index) instead of the raw
    corpus."""
    toks = documents.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    return (toks.where(F.col("term").startswith(prefix))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), "term")
            .limit(k))


def search_highlight(documents: DataFrame, term: str = "spark",
                     context: int = 20) -> DataFrame:
    """Search-hit highlighting: for documents containing the term,
    the match position, total match count, and a context snippet
    around the first occurrence — the serving-side result decoration
    Elasticsearch performs per hit, as plain string algebra
    (position/substring/regexp_count — codegen'd, no UDF)."""
    lowered = F.lower(F.col("text"))
    pos = F.instr(lowered, term)
    snippet = F.substring(
        F.col("text"),
        F.greatest(F.lit(1), pos - context).cast("int"),
        context * 2 + len(term))
    # replace-based occurrence count (integer ops only) — portable to
    # engines without regexp_count
    n_hits = ((F.length(lowered)
               - F.length(F.replace(lowered, F.lit(term), F.lit(""))))
              / len(term)).cast("long")
    return (documents
            .where(pos > 0)
            .select("doc_id", pos.alias("first_pos"),
                    n_hits.alias("n_hits"), snippet.alias("snippet")))


def url_canonicalize(documents: DataFrame) -> DataFrame:
    """URL canonicalization — the first step of web-corpus dedup:
    lowercase scheme/host, strip default ports, fragments, tracking
    params, and trailing slashes, then count collisions per canonical
    URL. The raw URLs here are synthesized deterministically from
    (source, doc_id) with noisy casing/ports/params so the transform
    is self-contained and oracle-checkable; swap the synthesizer for a
    real ``url`` column in production. Pure regexp/string algebra."""
    raw = F.concat(
        F.lit("HTTPS://WWW."), F.upper("source"),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("?utm_source=feed&utm_campaign=x")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#section-2"))
         .otherwise(F.lit("")))
    c = F.lower(raw)
    c = F.regexp_replace(c, "#.*$", "")
    c = F.regexp_replace(c, "\\?utm_[^#]*$", "")
    c = F.regexp_replace(c, ":443/", "/")
    c = F.regexp_replace(c, ":443$", "")
    c = F.regexp_replace(c, "/$", "")
    return (documents
            .select("doc_id", raw.alias("raw_url"), c.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_variants"),
                 F.min("doc_id").alias("first_doc")))


def compression_ratio(documents: DataFrame) -> DataFrame:
    """Gopher-style compression-ratio quality signal: zlib-compressed
    size over raw size per document — highly repetitive/templated text
    compresses far below ~0.5 and gets filtered.

    zlib at a FIXED level is deterministic, but no portable SQL twin
    exists → rows-only check (pytest asserts the monotonicity
    property: duplicated text compresses strictly better). Arrow-
    batched mapInPandas, the documented escape hatch — the bytes never
    leave the executor, one pass, no shuffle.
    """
    import pandas as pd

    def score(batches):
        import zlib
        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "raw_bytes": raw.map(len),
                "compressed_bytes": comp,
            })

    out = documents.select("doc_id", "text").mapInPandas(
        score, "doc_id long, raw_bytes long, compressed_bytes long")
    return out.select(
        "doc_id", "raw_bytes", "compressed_bytes",
        F.when(F.col("raw_bytes") > 0,
               F.round(F.col("compressed_bytes")
                       / F.col("raw_bytes"), 6)).alias("compression_ratio"))


def _merge_pair_in_arrays(syms, left: str, right: str):
    """Greedy left-to-right merge of the adjacent pair (left, right) in
    a symbol array — one aggregate fold, no shuffle. 'aaaa' under
    (a, a) becomes ['aa', 'aa'] (non-overlapping scan), the standard
    BPE merge semantics. The merged symbol can only falsely re-merge if
    left == left+right, i.e. right == '' — impossible for real tokens."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(merged)))
        ).otherwise(F.concat(acc, F.array(s))))


def bpe_train(documents: DataFrame, n_merges: int = 8) -> DataFrame:
    """Full byte-pair-encoding training loop (Sennrich et al., ACL 2016)
    as iterated DataFrame algebra — the distributed tokenizer trainer.

    The classic scale trick: train on the WORD-TYPE table, not the raw
    corpus. One pass builds (word → count); every merge round then
    operates on vocab-sized data — each round is

        pair counts  = explode(zip(syms, shift(syms))) weighted by count
                       → one hash aggregate,
        chosen merge = deterministic argmax (count desc, pair asc) —
                       a 1-row driver collect,
        apply merge  = per-row aggregate fold (no shuffle),

    with a localCheckpoint per round to truncate lineage (same
    discipline as PageRank/connected-components). At 100 TB the word
    table is ~millions of rows regardless of corpus size, so the whole
    train is n_merges linear passes over a small-constant table.

    Returns the ordered merge table: (merge_rank, left_tok, right_tok,
    pair_count, new_symbol) — exactly what a tokenizer ships. A
    word-type table under ``offload.DRIVER_BPE_MAX_TYPES`` is trained
    on the driver (:func:`_bpe_train_driver_side`).
    """
    # _par parallelizes the corpus-side tokenize+explode (the only
    # data-sized pass); the word-TYPE aggregate downstream is
    # vocab-sized and AQE already coalesces its shuffle output, so the
    # merge rounds run on right-sized partitions without extra jobs.
    spark = documents.sparkSession
    with checkpoint_scope(spark):
        words = (_par(documents)
                 .select(F.explode(tokens(F.col("text"))).alias("word"))
                 .groupBy("word").agg(F.count(F.lit(1)).alias("n"))
                 .select(F.split(F.col("word"), "").alias("syms"), "n")
                 .where(F.size("syms") >= 2))
        # Checkpoint BEFORE probing (connected_components' discipline): the
        # corpus-sized tokenize + groupBy runs exactly once either way —
        # probing the raw plan first would re-run it from scratch on
        # above-cap vocabularies, since a shuffle-heavy limit() still
        # executes every upstream stage.
        words = words.localCheckpoint(eager=True)
        head, _ = offload.fetch(words, "text.bpe_train",
                                offload.DRIVER_BPE_MAX_TYPES)
        if head is not None:
            return _bpe_train_driver_side(spark, head, n_merges)
        merges = []
        for rank in range(1, n_merges + 1):
            lefts = F.slice(F.col("syms"), F.lit(1), F.size("syms") - 1)
            rights = F.slice(F.col("syms"), F.lit(2), F.size("syms") - 1)
            top = (words.where(F.size("syms") >= 2)
                   .select("n", F.explode(F.arrays_zip(
                       lefts.alias("l"), rights.alias("r"))).alias("pr"))
                   .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
                   .agg(F.sum("n").alias("cnt"))
                   .orderBy(F.col("cnt").desc(), "l", "r")
                   .limit(1).collect())
            if not top:
                break
            l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
            merges.append((rank, l, r, int(cnt), l + r))
            # lazy checkpoint: materialized by the next round's pair-count
            # job (one job per round, not two), reused by the round after
            words = (words.select(
                _merge_pair_in_arrays(F.col("syms"), l, r).alias("syms"), "n")
                .localCheckpoint(eager=False))
    # the merge table is driver data now; the scope has released every
    # checkpoint block this call pinned
    return spark.createDataFrame(
        merges, "merge_rank int, left_tok string, right_tok string, "
                "pair_count bigint, new_symbol string")


def _bpe_train_driver_side(spark, words, n_merges: int) -> DataFrame:
    """The small-vocabulary merge loop: identical greedy BPE (same
    deterministic argmax — count desc, then (left, right) asc — and
    the same left-to-right non-overlapping merge fold as
    :func:`_merge_pair_in_arrays`) over the fetched word-type table
    (Arrow, with ``syms``/``n`` columns). Pure integer counting —
    bit-identical to the distributed rounds on any input."""
    from collections import Counter

    vocab = [(list(s), int(n)) for s, n in
             zip(words.column("syms").to_pylist(),
                 words.column("n").to_pylist())]
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, c in vocab:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, l, r, int(cnt), l + r))
        nxt = []
        for syms, c in vocab:
            if l in syms:  # cheap containment gate before the fold
                out = []
                for s in syms:
                    if out and out[-1] == l and s == r:
                        out[-1] = l + r
                    else:
                        out.append(s)
                syms = out
            if len(syms) >= 2:
                nxt.append((syms, c))
        vocab = nxt
    return spark.createDataFrame(
        merges, "merge_rank int, left_tok string, right_tok string, "
                "pair_count bigint, new_symbol string")


def bpe_encode(documents: DataFrame, n_merges: int = 8,
               merges: list | None = None,
               head_symbols: int = 12) -> DataFrame:
    """Encode every document with a TRAINED BPE merge table — the
    apply side of :func:`bpe_train` (together they are the tokenizer
    round trip a pipeline ships): each word's character sequence is
    folded through the ordered merges (greedy left-to-right,
    non-overlapping — the Sennrich apply rule), so later merges see
    the symbols earlier merges produced.

    ``merges`` is the ordered [(left, right), ...] list; when omitted
    it is trained here and collected — the merge table is vocab-sized
    driver state (tens of entries), never corpus-sized. Encoding
    itself is one pure column-expression pass (nested higher-order
    folds), embarrassingly parallel, no shuffle.

    Returns per-doc symbol statistics + the first ``head_symbols``
    encoded symbols (pipe-joined) as an equivalence-checkable sample.
    """
    if merges is None:
        merges = [(r["left_tok"], r["right_tok"])
                  for r in bpe_train(documents, n_merges)
                  .orderBy("merge_rank").collect()]

    def encode_word(w):
        syms = F.filter(F.split(w, ""), lambda ch: ch != "")
        for left, right in merges:
            syms = _merge_pair_in_arrays(syms, left, right)
        return syms

    # The classic apply-side trick, same as training: encode each
    # distinct WORD TYPE once (the fold chain is interpreted HOF — run
    # it over the vocab-sized table, not every occurrence), then join
    # occurrences back and re-assemble per-doc stats. The merge fold
    # never touches corpus-sized data. r11 (the unigram_encode
    # findings applied to its BPE twin): toks is a LAZY checkpoint
    # shared by the distinct branch and the join-back — one corpus
    # tokenize pass, not two (materialized as a side effect of the
    # word_syms checkpoint) — and the join-back broadcasts the VOCAB
    # side cap-guarded (the planner's estimates were broadcasting the
    # occurrence-sized toks side, which inverts at corpus scale),
    # counted by an Observation on the checkpoint, not an action.
    toks = (_par(documents)
            .select("doc_id",
                    F.posexplode(tokens(F.col("text")))
                    .alias("pos", "word"))
            .localCheckpoint(eager=False))
    n_obs = Observation()
    word_syms = (toks.select("word").distinct()
                 .withColumn("__syms", encode_word(F.col("word")))
                 .observe(n_obs, F.count(F.lit(1)).alias("n"))
                 .localCheckpoint(eager=True))  # also materializes toks
    n_word_types = n_obs.get["n"]
    hint = (F.broadcast if offload.decide(
        "text.bpe_encode", n_word_types, 0,
        ("rows", n_word_types, offload.MAX_BROADCAST_WORDS)) is None
        else (lambda d: d))
    encoded = (toks.join(hint(word_syms), "word")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_words"),
                    F.sum(F.length("word")).cast("int").alias("n_chars"),
                    F.sum(F.size("__syms")).cast("int").alias("n_symbols"),
                    F.concat_ws("|", F.slice(
                        F.flatten(F.array_sort(
                            F.collect_list(F.struct("pos", "__syms")))
                            .getField("__syms")),
                        F.lit(1), F.lit(head_symbols))).alias("head")))
    # "every document": a token-less doc (empty/whitespace text) has no
    # exploded rows — restore it as an all-zero row rather than letting
    # it silently vanish from the output
    return (documents.select("doc_id").join(encoded, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_words", F.lit(0)).alias("n_words"),
                    F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
                    F.coalesce("n_symbols", F.lit(0)).alias("n_symbols"),
                    F.coalesce("head", F.lit("")).alias("head")))


def stratified_sample(documents: DataFrame, strata_col: str = "lang",
                      n_per_stratum: int = 50) -> DataFrame:
    """Exact-count per-stratum sampling — the eval-set construction
    primitive (`exactly N docs per language/source/domain`) that
    :func:`dataset_mixture`'s rate-based admission cannot give
    (rates hit proportions in the limit, never exact counts).

    Deterministic pseudo-random order INSIDE each stratum: the same
    LCG hash as the mixture/shuffle family, full tie-break by doc_id,
    then ``row_number() <= n``. Membership is identical on any
    engine or partitioning, and re-running on a grown corpus keeps a
    stable prefix property per stratum (a doc only leaves the sample
    when lower-hash arrivals displace it — no global reshuffle).

    Scale shape: one shuffle on the stratum key; Spark's
    WindowGroupLimit (3.5+) pushes the ``rank <= n`` cut below the
    sort, so each task retains only its top-n rows per stratum
    instead of sorting whole strata — plan-asserted in tests. Output:
    (doc_id, stratum, sample_rank)."""
    p = 2_147_483_647
    u = ((F.col("doc_id") % F.lit(p)) * F.lit(48_271) + F.lit(7)) \
        % F.lit(p)
    w = Window.partitionBy(F.col(strata_col)).orderBy(u.asc(),
                                                      F.col("doc_id"))
    return (documents
            .select("doc_id", F.col(strata_col).alias("stratum"),
                    F.row_number().over(w).alias("sample_rank"))
            .where(F.col("sample_rank") <= n_per_stratum))


def curriculum_buckets(documents: DataFrame,
                       n_buckets: int = 4) -> DataFrame:
    """Curriculum assignment: stage the corpus into difficulty buckets
    by the unigram-LM quality score (:func:`unigram_logprob_scores` —
    low avg negative log-prob = common-token, 'easy' text; high =
    rare-token-heavy). Bucket boundaries are the exact score
    percentiles (one aggregate → k−1 doubles to the driver), and
    assignment is a pure projection ``1 + Σ [score > cut_i]`` — NO
    global sort, unlike ``ntile`` (a single-partition total order is
    the 100 TB anti-pattern; percentile cut-points give the same
    staging with one narrow aggregate). Boundary determinism: cuts
    round to 6 like the scores themselves, and Spark's exact
    ``percentile`` interpolates identically to ANSI/DuckDB
    ``quantile_cont`` (the percentile_pack contract), so the DuckDB
    twin recomputes identical buckets."""
    scored = unigram_logprob_scores(documents)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts_row = scored.agg(F.percentile(
        F.col("avg_neg_logprob"),
        F.array(*[F.lit(q) for q in probs])).alias("c")).collect()[0]
    cuts = [round(float(c), 6) for c in (cuts_row["c"] or [])]
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + (F.col("avg_neg_logprob") > F.lit(c)) \
            .cast("int")
    return scored.select("doc_id", "avg_neg_logprob",
                         bucket.alias("bucket"))
