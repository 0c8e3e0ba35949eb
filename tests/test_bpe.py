"""X37 complete: BPE learn / token counts vs a pure-Python Sennrich
reference (arXiv:1508.07909 §3.2 — get_stats + merge_vocab with the
engine's deterministic tie-break), plus the downstream token-count
contract, which encodes through the learned vocabulary join.
"""

from __future__ import annotations

import re

import pytest

from data_mining_map_reduce_spark.operators import bpe
from data_mining_map_reduce_spark.operators.bpe import bpe_learn, bpe_token_counts

_PUNCT = "([,.!?:;])"


def _ref_tokenize(text: str) -> list[str]:
    t = text.lower().translate({ord(c): None for c in _PUNCT})
    return [w for w in re.split(r"\s+", t) if w]


def _ref_merge_word(syms: list[str], l: str, r: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_bpe(word_counts: dict[str, int], n_merges: int):
    """Sennrich's learner: overlapping adjacent-pair counts over the
    distinct-word relation, greedy left-to-right merge application,
    ties by (count desc, left, right)."""
    vocab = {w: [c for c in w] for w in word_counts}
    merges = []
    for step in range(n_merges):
        stats: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] = stats.get((a, b), 0) + word_counts[w]
        if not stats:
            break
        (l, r), n = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, l, r, n))
        vocab = {w: _ref_merge_word(s, l, r) for w, s in vocab.items()}
    return merges, vocab


_TOY = [
    (1, "low low low lower lower newest newest newest newest widest"),
    (2, "widest widest newest low, lowest. the the the"),
    (3, "aaaa aa aaaa banana bandana"),
]


def _toy_df(spark):
    return spark.createDataFrame(_TOY, "doc_id long, text string")


def _toy_wc() -> dict[str, int]:
    wc: dict[str, int] = {}
    for _, t in _TOY:
        for w in _ref_tokenize(t):
            wc[w] = wc.get(w, 0) + 1
    return wc


def test_bpe_learn_matches_reference_toy(spark):
    merges, words = bpe_learn(_toy_df(spark), n_merges=12)
    ref_merges, ref_vocab = _ref_bpe(_toy_wc(), 12)
    assert merges == ref_merges
    got_vocab = {r.w: list(r.syms) for r in words.collect()}
    assert got_vocab == ref_vocab


def test_bpe_learn_matches_reference_sf0001(spark):
    from data_mining_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    wc: dict[str, int] = {}
    for r in docs.select("text").collect():
        for w in _ref_tokenize(r.text):
            wc[w] = wc.get(w, 0) + 1
    merges, words = bpe_learn(docs, n_merges=16)
    ref_merges, ref_vocab = _ref_bpe(wc, 16)
    assert merges == ref_merges
    got_vocab = {r.w: list(r.syms) for r in words.collect()}
    assert got_vocab == ref_vocab


def test_bpe_token_counts_contract(spark):
    """Per-doc counts: ws count == whitespace tokens; bpe count ==
    sum of per-word symbol counts; merges only ever shrink counts,
    and with 0 merges bpe count == character count."""
    docs = _toy_df(spark)
    merges, words = bpe_learn(docs, n_merges=10)
    counts = {
        r.doc_id: (r.n_tokens_ws, r.n_tokens_bpe)
        for r in bpe_token_counts(docs, words).collect()
    }
    _, vocab = _ref_bpe(_toy_wc(), 10)
    for doc_id, text in _TOY:
        toks = _ref_tokenize(text)
        want_bpe = sum(len(vocab[w]) for w in toks)
        assert counts[doc_id] == (len(toks), want_bpe)
        assert counts[doc_id][1] <= sum(len(w) for w in toks)

    zero_m, zero_words = bpe_learn(docs, n_merges=0)
    assert zero_m == []
    chars = {
        r.doc_id: r.n_tokens_bpe
        for r in bpe_token_counts(docs, zero_words).collect()
    }
    for doc_id, text in _TOY:
        assert chars[doc_id] == sum(len(w) for w in _ref_tokenize(text))


def test_bpe_learn_exhaustion_stops_early(spark):
    docs = spark.createDataFrame([(1, "ab ab cd")], "doc_id long, text string")
    merges, words = bpe_learn(docs, n_merges=50)
    # ab x2 then cd x1 — two merges exhaust every pair
    assert [(m[1], m[2], m[3]) for m in merges] == [("a", "b", 2), ("c", "d", 1)]
    assert all(len(r.syms) == 1 for r in words.collect())


def test_bpe_local_distributed_parity(spark, monkeypatch):
    """The r17 local fast path (BPE_LOCAL_WORDS_CAP) must be
    BIT-IDENTICAL to the distributed per-iteration loop — BPE is
    exact integer arithmetic with a pinned tie-break, so this is
    equality, not tolerance (unlike the kmeans local/distributed
    parity)."""
    from data_mining_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    m_local, w_local = bpe_learn(docs, n_merges=16)
    monkeypatch.setattr(bpe, "BPE_LOCAL_WORDS_CAP", 0)
    m_dist, w_dist = bpe_learn(docs, n_merges=16)
    assert m_local == m_dist
    vl = {r.w: (r.c, list(r.syms)) for r in w_local.collect()}
    vd = {r.w: (r.c, list(r.syms)) for r in w_dist.collect()}
    assert vl == vd


def test_greedy_left_to_right_overlap(spark):
    """'aaaa' under merge (a, a) must become [aa, aa] — greedy
    non-overlapping application, the Sennrich regex semantics."""
    docs = spark.createDataFrame([(1, "aaaa aa b")], "doc_id long, text string")
    merges, words = bpe_learn(docs, n_merges=1)
    assert (merges[0][1], merges[0][2]) == ("a", "a")
    syms = {r.w: list(r.syms) for r in words.collect()}
    assert syms["aaaa"] == ["aa", "aa"]
    assert syms["aa"] == ["aa"]
    assert syms["b"] == ["b"]
