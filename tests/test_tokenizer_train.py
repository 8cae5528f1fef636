"""BPE training loop: the distributed trainer must EXACTLY reproduce a
pure-Python reference implementation of greedy BPE over the same
word-count table (merge choices, counts, and order all identical)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload
from s3_elasticsearch_data_pipeline_spark.operators.text import bpe_train
from s3_elasticsearch_data_pipeline_spark.tables import load_table


def _reference_bpe(word_counts: dict[str, int], n_merges: int):
    """Textbook BPE (Sennrich et al. 2016), greedy left-to-right."""
    vocab = {tuple(w): c for w, c in word_counts.items() if len(w) >= 2}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # deterministic argmax: count desc, then (left, right) asc
        (l, r), cnt = min(pairs.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, l, r, cnt, l + r))
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


import pytest


@pytest.mark.parametrize("driver_cap", [0, 100_000],
                         ids=["distributed", "driver"])
def test_bpe_train_matches_reference(spark, sf_smoke, driver_cap,
                                     monkeypatch):
    docs = load_table(spark, sf_smoke, "documents")
    monkeypatch.setattr(offload, "DRIVER_BPE_MAX_TYPES", driver_cap)
    got = [(r["merge_rank"], r["left_tok"], r["right_tok"],
            r["pair_count"], r["new_symbol"])
           for r in bpe_train(docs, n_merges=8)
           .orderBy("merge_rank").collect()]
    counts = {r["word"]: r["n"] for r in
              docs.select(F.explode(F.split(
                  F.trim(F.regexp_replace("text", r"\s+", " ")), " "))
                  .alias("word"))
              .where(F.col("word") != "")
              .groupBy("word").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = _reference_bpe(counts, 8)
    assert got == want, f"\nspark={got}\nref  ={want}"


def test_bpe_train_empty_and_single_char(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id long, text string")
    # every word is a single char → no pairs → zero merges
    assert bpe_train(docs, n_merges=4).count() == 0
    docs2 = spark.createDataFrame(
        [(1, "abab abab cd")], "doc_id long, text string")
    rows = bpe_train(docs2, n_merges=3).orderBy("merge_rank").collect()
    # 'abab'×2 → (a,b) appears twice per word = 4; greedy merge → [ab,ab]
    assert rows[0]["left_tok"] == "a" and rows[0]["right_tok"] == "b"
    assert rows[0]["new_symbol"] == "ab" and rows[0]["pair_count"] == 4
    # second round: (ab,ab)×2 beats (c,d)×1
    assert (rows[1]["left_tok"], rows[1]["right_tok"]) == ("ab", "ab")
    assert rows[1]["pair_count"] == 2


def _reference_encode(text: str, merges):
    out_all = []
    for w in text.split():
        syms = list(w)
        for _rank, l, r, _cnt, m in merges:
            enc = []
            for s in syms:
                if enc and enc[-1] == l and s == r:
                    enc[-1] = m
                else:
                    enc.append(s)
            syms = enc
        out_all.append(syms)
    flat = [s for syms in out_all for s in syms]
    return (sum(1 for _ in text.split()),
            sum(len(w) for w in text.split()),
            len(flat), "|".join(flat[:12]))


def test_bpe_encode_matches_reference(spark, sf_smoke):
    """Train→encode round trip: the distributed apply (word-type
    encode + join-back) must reproduce the textbook greedy merge
    application per document, including symbol order in the head."""
    from s3_elasticsearch_data_pipeline_spark.operators.text import bpe_encode
    docs = load_table(spark, sf_smoke, "documents").limit(80)
    counts = {r["word"]: r["n"] for r in
              docs.select(F.explode(F.split(
                  F.trim(F.regexp_replace("text", r"\s+", " ")), " "))
                  .alias("word"))
              .where(F.col("word") != "")
              .groupBy("word").agg(F.count(F.lit(1)).alias("n")).collect()}
    merges = _reference_bpe(counts, 8)
    got = {r["doc_id"]: (r["n_words"], r["n_chars"], r["n_symbols"],
                         r["head"])
           for r in bpe_encode(
               docs, merges=[(l, r) for _, l, r, _c, _m in merges])
           .collect()}
    want = {r["doc_id"]: _reference_encode(r["text"], merges)
            for r in docs.select("doc_id", "text").collect()}
    assert got == want


def test_bpe_encode_self_trained(spark, sf_smoke):
    """Omitting merges trains in-place; compression must be real
    (fewer symbols than characters) on a vocabulary with repeats."""
    from s3_elasticsearch_data_pipeline_spark.operators.text import bpe_encode
    docs = load_table(spark, sf_smoke, "documents").limit(40)
    rows = bpe_encode(docs).collect()
    assert len(rows) == 40
    assert all(r["n_symbols"] <= r["n_chars"] for r in rows)
    assert any(r["n_symbols"] < r["n_chars"] for r in rows)


# ---------------------------------------------------------------------------
# Unigram-LM (r10): the distributed hard-EM trainer + Viterbi encoder
# must EXACTLY reproduce an independent pure-Python implementation of
# the same algorithm (seed counts, EM rounds, prune/smooth, final
# probs, and every segmentation).

def _ref_unigram(texts, seed_size=48, iters=2, max_piece=4,
                 unit_len=16):
    """Independent reference: plain dict/loop implementation of the
    operators/unigram.py algorithm (written from the docstring, not
    the code)."""
    from collections import Counter
    units: Counter = Counter()
    for t in texts:
        for w in t.split():
            for k in range(0, (len(w) - 1) // unit_len + 1):
                units[w[k * unit_len:(k + 1) * unit_len]] += 1
    subs: Counter = Counter()
    for u, n in units.items():
        for s in range(len(u)):
            for l in range(1, min(max_piece, len(u) - s) + 1):
                subs[u[s:s + l]] += n
    singles = {p: c for p, c in subs.items() if len(p) == 1}
    top = sorted(((p, c) for p, c in subs.items() if len(p) >= 2),
                 key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    counts = dict(singles)
    counts.update(dict(top))

    def viterbi(u, probs):
        L = len(u)
        score = [1.0] + [0.0] * L
        par = [0] * (L + 1)
        for i in range(1, L + 1):
            best, bj = None, 0
            for j in range(max(0, i - max_piece), i):
                cand = score[j] * probs.get(u[j:i], 0.0)
                if best is None or cand > best:
                    best, bj = cand, j
            score[i], par[i] = best, bj
        out, pos = [], L
        while pos > 0:
            out.append(u[par[pos]:pos])
            pos = par[pos]
        return out[::-1]

    for _ in range(iters):
        total = sum(counts.values())
        probs = {p: c / total for p, c in counts.items()}
        used: Counter = Counter()
        for u, n in units.items():
            for piece in viterbi(u, probs):
                used[piece] += n
        counts = {ch: max(used.get(ch, 0), 1) for ch in singles}
        counts.update({p: c for p, c in used.items() if len(p) >= 2})
    total = sum(counts.values())
    probs = {p: c / total for p, c in counts.items()}
    return counts, total, probs, units, viterbi


def test_unigram_train_matches_reference(spark, sf_smoke):
    import math
    from s3_elasticsearch_data_pipeline_spark.operators import unigram
    docs = load_table(spark, sf_smoke, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    counts, total, _, _, _ = _ref_unigram(texts)
    got = {r["piece"]: (r["rank"], r["freq"], r["prob"])
           for r in unigram.unigram_train(docs).collect()}
    want_rank = {p: i + 1 for i, (p, _) in enumerate(
        sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])))}
    assert set(got) == set(counts)
    for p, c in counts.items():
        assert got[p] == (want_rank[p], c,
                          math.floor(c / total * 1e6 + 0.5) / 1e6), p


def test_unigram_encode_matches_reference(spark, sf_smoke):
    from s3_elasticsearch_data_pipeline_spark.operators import unigram
    docs = load_table(spark, sf_smoke, "documents")
    texts = {r["doc_id"]: r["text"]
             for r in docs.select("doc_id", "text").collect()}
    _, _, probs, _, viterbi = _ref_unigram(list(texts.values()))
    got = {r["doc_id"]: r for r in unigram.unigram_encode(docs).collect()}
    assert set(got) == set(texts)
    for doc_id, t in texts.items():
        pieces = []
        for w in t.split():
            for k in range(0, (len(w) - 1) // 16 + 1):
                pieces.extend(viterbi(w[k * 16:(k + 1) * 16], probs))
        r = got[doc_id]
        words = t.split()
        assert r["n_words"] == len(words)
        assert r["n_chars"] == sum(len(w) for w in words)
        assert r["n_pieces"] == len(pieces), doc_id
        assert r["head"] == "|".join(pieces[:12]), doc_id


def test_unigram_edge_cases_and_determinism(spark):
    """Empty corpus -> empty stable schema; whitespace-only docs get
    all-zero rows; >16-char words chunk (the DP bound); membership
    identical under repartitioning."""
    from s3_elasticsearch_data_pipeline_spark.operators import unigram
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = unigram.unigram_train(empty)
    assert out.count() == 0
    assert out.columns == ["rank", "piece", "freq", "prob"]
    docs = spark.createDataFrame(
        [(1, "  \t "), (2, "a" * 40 + " bb"), (3, "bb bb a")],
        "doc_id long, text string")
    enc = {r["doc_id"]: r for r in unigram.unigram_encode(docs).collect()}
    assert enc[1]["n_words"] == 0 and enc[1]["head"] == ""
    assert enc[2]["n_chars"] == 42
    # the 40-char word spans 3 units (16+16+8); every piece <= 4 chars
    assert all(1 <= len(p) <= 4
               for p in enc[2]["head"].split("|") if p)
    t1 = sorted(unigram.unigram_train(docs).collect())
    t2 = sorted(unigram.unigram_train(docs.repartition(7)).collect())
    assert t1 == t2
