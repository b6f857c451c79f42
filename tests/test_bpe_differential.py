"""Property-based differential harness for distributed BPE: random
corpora vs an independent dict-based trainer/encoder (the same classic
Sennrich algorithm tools/make_goldens.py implements, re-written here) —
guards the JVM fold (`_apply_merge`), the pair-count tie-breaks, and the
encode path over inputs the committed goldens never see: repeated
characters (overlap greediness), merged-token chaining, multi-char
collisions, empty/whitespace docs."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from modis_aggregation_spark.operators.tokenizer import bpe_encode, bpe_train

# tiny alphabet maximizes pair collisions and overlapping runs
_WORD = st.text(alphabet="abc", min_size=1, max_size=6)
_DOC = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=1, max_size=8)


def _train_ref(texts, num_merges=4, min_pair_count=2):
    """Independent trainer+encoder (Counter/scan — no Spark, no shared
    code with operators/tokenizer.py)."""
    wc: Counter = Counter()
    for text in texts:
        for w in text.lower().split():
            if w:
                wc[w] += 1
    vocab = {w: list(w) for w in wc}
    merges = []
    for _ in range(num_merges):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (l_, r_), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_pair_count:
            break
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l_ and syms[i + 1] == r_:
                    out.append(l_ + r_)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
        merges.append((l_, r_, cnt))
    return merges, vocab


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(corpus=_CORPUS)
def test_bpe_train_and_encode_match_reference(spark, corpus):
    df = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id LONG, text STRING"
    )
    merges_df = bpe_train(df, "text", num_merges=4, min_pair_count=2)
    got_merges = [
        (r["left"], r["right"], r["pair_count"])
        for r in merges_df.orderBy("rank").collect()
    ]
    want_merges, vocab = _train_ref(corpus)
    assert got_merges == want_merges

    got = {
        r["doc_id"]: r
        for r in bpe_encode(df, merges_df, "text", "doc_id", preview_k=5).collect()
    }
    assert set(got) == set(range(len(corpus)))
    for i, text in enumerate(corpus):
        words = [w for w in text.lower().split() if w]
        toks = [t for w in words for t in vocab[w]]
        assert got[i]["n_words"] == len(words), (i, text)
        assert got[i]["n_tokens"] == len(toks), (i, text)
        assert got[i]["tokens_preview"] == " ".join(toks[:5]), (i, text)


def _train_ref_batched(texts, num_merges=6, min_pair_count=2, batch=3):
    """Independent reference for the round-9 BATCHED merge schedule
    (merge_batch > 1): per round, take up to ``batch`` pairwise
    symbol-disjoint pairs front-of-ranking from the top ``8*batch``
    candidates; stop when the top candidate misses ``min_pair_count``."""
    wc: Counter = Counter()
    for text in texts:
        for w in text.lower().split():
            if w:
                wc[w] += 1
    vocab = {w: list(w) for w in wc}
    merges = []
    while len(merges) < num_merges:
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        budget = min(batch, num_merges - len(merges))
        ranked = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: (budget if budget == 1 else 8 * budget)]
        picked, used = [], set()
        for (l_, r_), cnt in ranked:
            if len(picked) >= budget:
                break
            if cnt < min_pair_count:
                if not picked:
                    break
                continue
            if l_ in used or r_ in used or (l_ + r_) in used:
                continue
            picked.append((l_, r_, cnt))
            used.update((l_, r_, l_ + r_))
        if not picked:
            break
        for l_, r_, cnt in picked:
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l_ and syms[i + 1] == r_:
                        out.append(l_ + r_)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
            merges.append((l_, r_, cnt))
    return merges


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(corpus=_CORPUS, batch=st.integers(min_value=2, max_value=4))
def test_bpe_train_batched_matches_reference(spark, corpus, batch):
    """merge_batch > 1 is a deterministic pure function of the corpus:
    the distributed batched schedule must equal the independent
    dict-based reference implementing the same disjoint-selection rule,
    with every recorded pair_count exact."""
    df = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id LONG, text STRING"
    )
    merges_df = bpe_train(
        df, "text", num_merges=6, min_pair_count=2, merge_batch=batch
    )
    got = [
        (r["left"], r["right"], r["pair_count"])
        for r in merges_df.orderBy("rank").collect()
    ]
    assert got == _train_ref_batched(corpus, 6, 2, batch)


def test_bpe_train_batch1_identical_to_default(spark):
    """merge_batch=1 IS the sequential contract path — byte-identical
    merge table (the x70 golden behavior is untouched)."""
    corpus = ["aab aab bcb", "aab ccc bcb bcb", "a b c aab"]
    df = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id LONG, text STRING"
    )
    a = bpe_train(df, "text", num_merges=5).collect()
    b = bpe_train(df, "text", num_merges=5, merge_batch=1).collect()
    assert a == b
    assert [
        (r["left"], r["right"], r["pair_count"]) for r in a
    ] == _train_ref(corpus, 5, 2)[0]
