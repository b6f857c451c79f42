"""Property-based differential harness for distributed WordPiece:
random corpora vs the independent dict-based trainer/matcher that backs
the x90/x91 goldens — guards the likelihood-score argmax (one IEEE
division + lexicographic tie-break), the ##-prefix merge fold, and the
greedy longest-match encoder over inputs the committed goldens never
see: repeated characters, single-char words, merged-token chaining."""

from __future__ import annotations

import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, "/root/repo")

from modis_aggregation_spark.operators.tokenizer import (  # noqa: E402
    wordpiece_encode,
    wordpiece_train,
)
from tools.make_goldens import (  # noqa: E402
    _independent_wordpiece,
    _wordpiece_match,
)

# tiny alphabet maximizes pair collisions and score ties
_WORD = st.text(alphabet="abc", min_size=1, max_size=6)
_DOC = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=1, max_size=8)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(corpus=_CORPUS)
def test_wordpiece_train_and_encode_match_reference(spark, corpus):
    df = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id LONG, text STRING"
    )
    model = wordpiece_train(df, "text", num_merges=4, min_pair_count=2)
    got_merges = [
        (r["rank"], r["left"], r["right"], r["merged"],
         r["pair_count"], r["left_count"], r["right_count"])
        for r in model.orderBy("rank").collect()
    ]
    want_merges, wvocab = _independent_wordpiece(
        corpus, num_merges=4, min_pair_count=2
    )
    assert got_merges == [tuple(m) for m in want_merges]

    vocab = {m[3] for m in want_merges}
    for w in wvocab:
        vocab.add(w[0])
        vocab.update("##" + c for c in w[1:])
    got = {
        r["doc_id"]: r
        for r in wordpiece_encode(
            df, model, "text", "doc_id", preview_k=5
        ).collect()
    }
    assert set(got) == set(range(len(corpus)))
    for i, text in enumerate(corpus):
        words = [w for w in text.lower().split() if w]
        pieces = [] if not words else [
            t for w in words for t in _wordpiece_match(w, vocab)
        ]
        assert got[i]["n_words"] == len(words), (i, text)
        assert got[i]["n_pieces"] == len(pieces), (i, text)
        assert got[i]["n_unk"] == sum(
            1 for t in pieces if t == "[UNK]"
        ), (i, text)
        assert got[i]["pieces_preview"] == " ".join(pieces[:5]), (i, text)


def _independent_wordpiece_batched(texts, num_merges=6, min_pair_count=2,
                                   batch=3):
    """Batched-schedule twin of tools/make_goldens._independent_wordpiece
    (round 9, merge_batch > 1): per round rank all pairs by the exact
    likelihood score, keep the top 8*batch, and apply up to ``batch``
    pairwise symbol-disjoint merges front-of-ranking."""
    import re
    from collections import Counter

    tok = re.compile(r"\s+")
    wc: Counter = Counter()
    for text in texts:
        for w in tok.split(text.lower()):
            if w:
                wc[w] += 1
    vocab = {w: [w[0]] + ["##" + c for c in w[1:]] for w in wc}
    merges = []
    while len(merges) < num_merges:
        pc: Counter = Counter()
        uc: Counter = Counter()
        for w, syms in vocab.items():
            n = wc[w]
            for s in syms:
                uc[s] += n
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        budget = min(batch, num_merges - len(merges))
        ranked = sorted(
            pc.items(),
            key=lambda kv: (
                -(float(kv[1])
                  / (float(uc[kv[0][0]]) * float(uc[kv[0][1]]))),
                kv[0][0],
                kv[0][1],
            ),
        )[: (budget if budget == 1 else 8 * budget)]
        picked, used = [], set()
        for (l_, r_), cnt in ranked:
            if len(picked) >= budget:
                break
            if cnt < min_pair_count:
                if not picked:
                    break
                continue
            merged = l_ + (r_[2:] if r_.startswith("##") else r_)
            if l_ in used or r_ in used or merged in used:
                continue
            picked.append((l_, r_, merged, cnt, uc[l_], uc[r_]))
            used.update((l_, r_, merged))
        if not picked:
            break
        for l_, r_, merged, cnt, lc, rc in picked:
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l_ and syms[i + 1] == r_:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
            merges.append(
                (len(merges) + 1, l_, r_, merged, cnt, lc, rc)
            )
    return merges


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(corpus=_CORPUS, batch=st.integers(min_value=2, max_value=4))
def test_wordpiece_train_batched_matches_reference(spark, corpus, batch):
    """merge_batch > 1: the distributed batched schedule equals the
    independent dict-based twin — exact counts, deterministic order."""
    df = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id LONG, text STRING"
    )
    model = wordpiece_train(
        df, "text", num_merges=6, min_pair_count=2, merge_batch=batch
    )
    got = [
        (r["rank"], r["left"], r["right"], r["merged"],
         r["pair_count"], r["left_count"], r["right_count"])
        for r in model.orderBy("rank").collect()
    ]
    assert got == _independent_wordpiece_batched(corpus, 6, 2, batch)
