"""Distributed BPE tokenizer training (merge-rule learning).

The missing half of the subword surface: ``functions/text.py``
estimates subword counts with a fixed pre-tokenizer regex (x22), while
``bpe_train`` LEARNS the merge table itself from the corpus — the
byte-pair-encoding algorithm of Sennrich et al. 2016 (ACL,
"Neural Machine Translation of Rare Words with Subword Units"), the
public algorithm behind GPT-2/RoBERTa-style vocabularies.

Classic BPE trains on the word-frequency table, not the raw corpus —
and that is exactly what makes it distributable:

1. ONE corpus pass builds ``(word, count)`` (explode tokens + map-side
   combined groupBy — the corpus text never shuffles, only skinny
   words).  At 100 TB the distinct-word table is ~10⁷ rows (Zipf),
   comfortably distributed and ~10⁵× smaller than the corpus.
2. Each of the ``num_merges`` iterations is a pair-count aggregation
   over the vocab's symbol arrays (explode adjacent pairs weighted by
   word count → groupBy pair → global top-1), followed by a pure-JVM
   fold that applies the winning merge greedily left-to-right inside
   every word.  Per iteration: one skinny shuffle + a 1-row collect
   (the argmax) — the driver only ever holds the merge rules.
3. ``materialize.loop_frame`` every few merges keeps the plan flat (the
   ``operators/graph.py`` iterative pattern); each table is released
   once training no longer reads it.

Ties break deterministically: highest pair count, then lexicographic
(left, right) — so the learned table is a pure function of the corpus,
which is what lets the x70 contract query verify against an
INDEPENDENTLY implemented dict-based BPE in tools/make_goldens.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modis_aggregation_spark.functions.materialize import (
    loop_frame,
    release,
    shared_frame,
)
from modis_aggregation_spark.functions.text import tokens

__all__ = [
    "bpe_encode",
    "bpe_train",
    "unigram_encode",
    "unigram_train",
    "word_vocab",
    "wordpiece_encode",
    "wordpiece_train",
]


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over ``tokens(text)`` — the BPE training input.
    One explode + map-side-combined groupBy; text never shuffles."""
    # explode_outer + null-filter: inner explodes get an optimizer-
    # inferred size>0 filter that re-evaluates the collapsed operand
    # tree per row (round 8, see screening.distinct_ngrams)
    return (
        df.select(F.explode_outer(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _chars(word: Column) -> Column:
    """ARRAY<STRING> of single characters (no end-of-word marker)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )


def _apply_merge(
    symbols: Column, left: str, right: str, merged: str | None = None
) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent
    (left, right) symbol pairs, as a pure-JVM fold: walking the array,
    an element that completes the pair with the accumulator's last
    element replaces it with the merged token (the already-merged token
    then competes as `left` for the NEXT element, reproducing the
    sequential scan exactly — see the x70 oracle twin). ``merged``
    overrides the replacement token (WordPiece strips the right
    symbol's ``##`` continuation prefix; plain BPE concatenates)."""
    l_, r_, m_ = F.lit(left), F.lit(right), F.lit(merged or (left + right))
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == l_)
            & (s == r_),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(m_)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _select_disjoint(rows, budget: int, min_count: int, merged_of):
    """Greedy front-of-ranking selection of pairwise NON-INTERACTING
    merges from one round's ordered candidate rows (the batched-merge
    rule, docs/SCALING.md §tokenizers).

    A merge (l, r) interacts with a previously selected (l', r') iff
    they share a symbol: merging (l', r') leaves both the pair count of
    any symbol-disjoint pair and its operands' unit counts untouched,
    so every selected merge's recorded counts are EXACT under
    sequential application in selection order.  Candidates are taken in
    ranking order; one sharing a symbol with an earlier selection is
    skipped (it will be re-scored next round against the updated
    vocab).  If the TOP candidate misses ``min_count`` training stops
    (same rule as batch size 1); later sub-threshold candidates are
    merely skipped.  ``merged_of(l, r)`` names the merged symbol (BPE:
    concatenation; WordPiece strips the ``##`` continuation prefix).
    """
    picked, used = [], set()
    for row in rows:
        if len(picked) >= budget:
            break
        l_, r_ = row["l"], row["r"]
        if int(row["cnt"]) < min_count:
            if not picked and not used:
                break  # top candidate below threshold -> stop training
            continue
        if l_ in used or r_ in used or merged_of(l_, r_) in used:
            continue
        picked.append(row)
        used.update((l_, r_, merged_of(l_, r_)))
    return picked


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_pair_count: int = 2,
    merge_batch: int = 1,
) -> DataFrame:
    """Learn ``num_merges`` BPE merge rules from the corpus.

    Returns ``(rank, left, right, pair_count)`` — rank 1-based in learn
    order; stops early when no pair reaches ``min_pair_count``.

    ``merge_batch`` (round 9, docs/SCALING.md §tokenizers): with the
    default 1 this is the exact sequential Sennrich rule — one argmax
    collect per merge, so a production 30k-merge vocab costs 30k Spark
    jobs of pure scheduler latency.  With B > 1 each round collects the
    top ``8·B`` candidates (still model-sized) and applies up to B
    pairwise symbol-DISJOINT merges from the front of that ranking:
    disjoint merges leave each other's pair counts and unit counts
    unchanged, so every recorded count stays exact and the result is a
    deterministic pure function of the corpus — but the merge ORDER may
    differ from sequential (a new pair created by an earlier merge in
    the batch can't be seen until the next round).  This is the
    standard count-batched BPE scheduling trade; use it past ~1k merges
    or collect ``word_vocab`` and train off-cluster, as SCALING.md
    describes.
    """
    spark = df.sparkSession
    batch = max(1, int(merge_batch))
    base = vocab = loop_frame(
        word_vocab(df, text_col).select(
            _chars(F.col("word")).alias("syms"), "count"
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    applied_since_ckpt = 0
    while len(merges) < num_merges:
        pairs = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "count",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("count").alias("cnt"))
        )
        budget = min(batch, num_merges - len(merges))
        top = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(budget if budget == 1 else 8 * budget)
            .collect()
        )
        picked = _select_disjoint(
            top, budget, min_pair_count, lambda l_, r_: l_ + r_
        )
        if not picked:
            break
        for row in picked:
            l_, r_ = row["l"], row["r"]
            merges.append((len(merges) + 1, l_, r_, int(row["cnt"])))
            # lazy merge stacking + periodic checkpoint — see
            # wordpiece_train
            vocab = vocab.select(
                _apply_merge(F.col("syms"), l_, r_).alias("syms"), "count"
            )
            applied_since_ckpt += 1
        if applied_since_ckpt >= 4 and len(merges) < num_merges:
            vocab = loop_frame(vocab)
            release(base)
            base = vocab
            applied_since_ckpt = 0
    release(base)
    return spark.createDataFrame(
        merges, "rank INT, left STRING, right STRING, pair_count BIGINT"
    )


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    preview_k: int = 10,
) -> DataFrame:
    """Apply a learned BPE merge table to tokenize the corpus — the
    at-scale half of the subword surface (training runs once on the
    word-frequency table; ENCODING touches every byte of the corpus).

    ``merges`` is the ``bpe_train`` result (a DataFrame with
    rank/left/right, or a pre-collected ``[(left, right), ...]`` in rank
    order).  Encode contract matches training exactly: each merge is
    applied in rank order, greedily left-to-right non-overlapping
    (Sennrich et al. 2016 §3.2 — "apply the learned operations in the
    order they were learned").

    Distributed shape (the 100 TB story):

    1. The document text NEVER shuffles and NEVER crosses the Python
       boundary.  One scan posexplodes to skinny ``(id, pos, word)``
       triples.
    2. The classic word-cache trick, distributed: only DISTINCT words
       are encoded (Zipf — ~10⁷ distinct words for a 100 TB corpus,
       ~10⁵× smaller than the token stream), via one Arrow-batched
       ``mapInPandas`` with the broadcast merge list in the task
       closure.  Every later occurrence is a hash-join lookup on the
       skinny word key; AQE broadcasts the vocab side when it fits.
    3. Per-document reassembly is ONE groupBy on ``id`` —
       ``array_sort`` over (pos, toks) structs + ``flatten``, pure JVM.
       ``posexplode_outer`` keeps token-less documents as a null-word
       row, so no extra join (and its exchange + sorts) is needed to
       retain them: the whole query is scan → broadcast-join →
       partial-agg → one exchange.  A document's tokens materialize in
       exactly one task, the same bound as any per-doc operator.

    Returns ``(id_col, n_words, n_tokens, tokens_preview)`` with
    ``tokens_preview`` the first ``preview_k`` tokens space-joined
    (empty string for token-less documents, which are retained).
    """
    if isinstance(merges, DataFrame):
        merges = [
            (r["left"], r["right"]) for r in merges.orderBy("rank").collect()
        ]
    merge_list = [(str(l_), str(r_)) for l_, r_ in merges]

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "word"),
    )

    def enc(it):
        import pandas as pd

        # input is already globally distinct, so no memo dict: each word
        # is encoded exactly once and nothing is retained across batches
        for pdf in it:
            out = []
            for w in pdf["word"]:
                syms = list(w)
                for l_, r_ in merge_list:
                    if len(syms) < 2:
                        break
                    res, i, n = [], 0, len(syms)
                    while i < n:
                        if i + 1 < n and syms[i] == l_ and syms[i + 1] == r_:
                            res.append(l_ + r_)
                            i += 2
                        else:
                            res.append(syms[i])
                            i += 1
                    syms = res
                out.append(syms)
            yield pd.DataFrame({"word": pdf["word"], "toks": out})

    word_toks = (
        exploded.filter(F.col("word").isNotNull())
        .select("word")
        .distinct()
        .mapInPandas(enc, "word STRING, toks ARRAY<STRING>")
    )

    # left join: every non-null word is in word_toks by construction
    # (same corpus), and the null-word rows of token-less docs survive
    # to the aggregation, where collect_list's null-skipping drops them
    return (
        exploded.join(word_toks, "word", "left")
        .groupBy("id")
        .agg(
            F.count("word").alias("n_words"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("word").isNotNull(),
                                F.struct("pos", "toks"),
                            )
                        )
                    ),
                    lambda s: s["toks"],
                )
            ).alias("toks"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            F.size("toks").alias("n_tokens"),
            F.array_join(F.slice("toks", 1, preview_k), " ").alias(
                "tokens_preview"
            ),
        )
    )


def _substr_pieces(word: Column, max_len: int) -> Column:
    """ARRAY<STRING> of ALL substrings of ``word`` with length in
    [1, max_len] — every (start, length) window, overlaps included.
    The inner sequence is bounded by the remaining length, so only
    full-size windows are generated (no truncated-substring filter, and
    every lambda stays single-parameter per CLAUDE.md rule 2)."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_len), F.length(word) - i + 1),
                ),
                lambda n: word.substr(i, n),
            ),
        )
    )


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    seed_multi: int = 48,
    vocab_size: int = 32,
    num_iters: int = 2,
    max_piece_len: int = 4,
) -> DataFrame:
    """Distributed unigram-LM tokenizer training (Kudo 2018, ACL,
    "Subword Regularization" — the SentencePiece unigram algorithm):
    the OTHER major subword family next to BPE (x70). Learns piece
    probabilities by EM over all segmentations of the word-frequency
    table, then keeps the top ``vocab_size`` pieces.

    Distributed shape (mirrors ``bpe_train``/``bpe_encode``):

    1. ONE corpus pass to ``(word, count)`` — text never shuffles.
    2. Seed vocabulary: every substring window (length ≤
       ``max_piece_len``) of the distinct words, counted weighted by
       word frequency — a pure-JVM explode + map-side-combined groupBy;
       kept are ALL single characters (coverage guarantee) plus the top
       ``seed_multi`` multi-char pieces (count DESC, piece ASC — exact
       integer tie-break).
    3. Each EM iteration: the piece→probability table (the MODEL — KBs
       here, MBs at a 100k-piece production vocab) broadcasts into one
       Arrow-batched pass over DISTINCT words that runs the
       forward-backward expected-count recursion per word; per-word
       expected counts round to INTEGER MICROS before leaving Python,
       so the M-step reduction is an exact int64 sum
       (``micros × word_count``) — order-independent under any
       partitioning, the same determinism discipline as DSIR/s13.
    4. The driver only ever holds the model; words and expected counts
       reduce through a skinny (piece) shuffle.

    Determinism spec shared with the independent oracle implementation
    (tools/make_goldens.py:_independent_unigram): forward pass ascending
    (inner start ascending), backward pass descending (inner end
    ascending), probabilities derived from integer counts by one double
    division each, per-(word, piece) expected counts rounded
    half-to-even to 6 decimals. Ends with ``(rank, piece, count_micro,
    prob)`` — rank by final count DESC then piece ASC; ``prob`` is the
    piece's share of the final total, rounded to 6 dp.
    """
    if num_iters < 1:
        raise ValueError("unigram_train needs num_iters >= 1")
    vocab = shared_frame(word_vocab(df, text_col), eager=True, scoped=True)

    pieces = shared_frame(
        vocab.select(
            F.explode(
                _substr_pieces(F.col("word"), max_piece_len)
            ).alias("piece"),
            "count",
        )
        .groupBy("piece")
        .agg(F.sum("count").alias("cnt")),
        eager=True,
        scoped=True,
    )
    singles = pieces.filter(F.length("piece") == 1)
    multis = (
        pieces.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(seed_multi)
    )
    seed = {r["piece"]: int(r["cnt"]) for r in singles.unionAll(multis).collect()}
    total = sum(seed.values())
    probs = {p: c / total for p, c in seed.items()}

    words = vocab  # already materialized above
    for _ in range(num_iters):
        cur = dict(probs)  # capture for the closure

        def estep(it):
            import pandas as pd

            max_l = max(len(p) for p in cur)
            out_w, out_p, out_m = [], [], []
            for pdf in it:
                for w in pdf["word"]:
                    n = len(w)
                    # forward: alpha[i] = P(prefix w[:i])
                    alpha = [0.0] * (n + 1)
                    alpha[0] = 1.0
                    for i in range(1, n + 1):
                        a = 0.0
                        for j in range(max(0, i - max_l), i):
                            p = cur.get(w[j:i])
                            if p is not None:
                                a += alpha[j] * p
                        alpha[i] = a
                    if alpha[n] <= 0.0:
                        continue  # unreachable: all single chars seeded
                    # backward: beta[j] = P(suffix w[j:])
                    beta = [0.0] * (n + 1)
                    beta[n] = 1.0
                    for j in range(n - 1, -1, -1):
                        b = 0.0
                        for i in range(j + 1, min(n, j + max_l) + 1):
                            p = cur.get(w[j:i])
                            if p is not None:
                                b += p * beta[i]
                        beta[j] = b
                    exp: dict[str, float] = {}
                    for j in range(n):
                        for i in range(j + 1, min(n, j + max_l) + 1):
                            piece = w[j:i]
                            p = cur.get(piece)
                            if p is not None:
                                exp[piece] = exp.get(piece, 0.0) + (
                                    alpha[j] * p * beta[i] / alpha[n]
                                )
                    for piece, e in exp.items():
                        m = round(e * 1_000_000)
                        if m:
                            out_w.append(w)
                            out_p.append(piece)
                            out_m.append(m)
            yield pd.DataFrame(
                {"word": out_w, "piece": out_p, "micro": out_m}
            )

        contrib = words.select("word").mapInPandas(
            estep, "word STRING, piece STRING, micro BIGINT"
        )
        counts = (
            contrib.join(words, "word")
            .groupBy("piece")
            .agg(F.sum(F.col("micro") * F.col("count")).alias("cm"))
            .collect()
        )
        cm = {r["piece"]: int(r["cm"]) for r in counts}
        tot = sum(cm.values())
        probs = {p: c / tot for p, c in cm.items()}

    release(pieces)
    release(vocab)
    final = sorted(cm.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    tot_f = sum(c for _, c in cm.items())
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (rank + 1, piece, c, round(c / tot_f, 6))
            for rank, (piece, c) in enumerate(final)
        ],
        "rank INT, piece STRING, count_micro BIGINT, prob DOUBLE",
    )


def unigram_encode(
    df: DataFrame,
    model,
    text_col: str = "text",
    id_col: str = "doc_id",
    preview_k: int = 10,
) -> DataFrame:
    """Tokenize the corpus under a learned unigram-LM model (Viterbi
    maximum-likelihood segmentation — SentencePiece's inference mode) —
    the at-scale half of the unigram surface, exactly as ``bpe_encode``
    is to ``bpe_train``.

    ``model`` is the ``unigram_train`` result (a DataFrame with
    piece/count_micro, or a pre-collected ``{piece: count_micro}``).
    Scores are ``log(count_micro) - log(total_micro)`` — both doubles
    derived from exact integers, so every engine computes the same
    bits. Segmentation DP per word: ``best[i] = max_j best[j] +
    logp(w[j:i])`` scanning j ascending with strict ``>`` (first
    maximum wins) — the deterministic tie-break the independent oracle
    implementation repeats. A character absent from the model (the
    vocab_size cut can drop rare singles) segments as itself with a
    fixed -1e9 OOV penalty, keeping every word segmentable.

    Distributed shape = ``bpe_encode``'s: text never shuffles or enters
    Python; one posexplode to skinny (id, pos, word) triples, Viterbi
    over DISTINCT words only (one Arrow pass, model in the closure),
    hash-join re-attach, JVM array_sort + flatten reassembly; one
    exchange end-to-end plus the distinct.
    """
    if isinstance(model, DataFrame):
        model = {
            r["piece"]: int(r["count_micro"]) for r in model.collect()
        }
    counts = {str(p): int(c) for p, c in dict(model).items()}
    if not counts:
        raise ValueError("unigram_encode got an empty model")

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "word"),
    )

    def enc(it):
        import math

        import pandas as pd

        total = sum(counts.values())
        log_tot = math.log(total)
        logp = {p: math.log(c) - log_tot for p, c in counts.items()}
        max_l = max(len(p) for p in logp)
        oov = -1e9
        for pdf in it:
            toks_col = []
            for w in pdf["word"]:
                n = len(w)
                best = [-math.inf] * (n + 1)
                back = [0] * (n + 1)
                best[0] = 0.0
                for i in range(1, n + 1):
                    for j in range(max(0, i - max_l), i):
                        piece = w[j:i]
                        lp = logp.get(piece)
                        if lp is None:
                            if i - j == 1:
                                lp = oov  # single-char fallback
                            else:
                                continue
                        cand = best[j] + lp
                        if cand > best[i]:
                            best[i] = cand
                            back[i] = j
                pieces = []
                i = n
                while i > 0:
                    j = back[i]
                    pieces.append(w[j:i])
                    i = j
                toks_col.append(pieces[::-1])
            yield pd.DataFrame({"word": pdf["word"], "toks": toks_col})

    word_toks = (
        exploded.filter(F.col("word").isNotNull())
        .select("word")
        .distinct()
        .mapInPandas(enc, "word STRING, toks ARRAY<STRING>")
    )
    return (
        exploded.join(word_toks, "word", "left")
        .groupBy("id")
        .agg(
            F.count("word").alias("n_words"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("word").isNotNull(),
                                F.struct("pos", "toks"),
                            )
                        )
                    ),
                    lambda s: s["toks"],
                )
            ).alias("toks"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            F.size("toks").alias("n_pieces"),
            F.array_join(F.slice("toks", 1, preview_k), " ").alias(
                "pieces_preview"
            ),
        )
    )


def _wp_chars(word: Column) -> Column:
    """WordPiece symbol array: first character plain, every later
    character carrying the ``##`` continuation prefix (the BERT
    convention, Devlin et al. 2019 / Schuster & Nakajima 2012)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.when(i == 1, word.substr(i, F.lit(1))).otherwise(
            F.concat(F.lit("##"), word.substr(i, F.lit(1)))
        ),
    )


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_pair_count: int = 2,
    merge_batch: int = 1,
) -> DataFrame:
    """Learn ``num_merges`` WordPiece merges from the corpus — the
    third tokenizer family next to BPE (x70) and unigram-LM (x77).

    Same iterative merge loop as ``bpe_train`` but the selection rule
    is WordPiece's LIKELIHOOD score, not the raw pair count: each round
    merges the adjacent symbol pair maximizing
    ``count(l,r) / (count(l) · count(r))`` — the pair whose merge most
    increases corpus likelihood under a unigram symbol model (the
    public algorithm behind BERT vocabularies; HuggingFace tokenizers'
    WordPiece trainer implements the same rule). Symbols carry the
    ``##`` continuation prefix from the start, and a merge strips the
    right side's prefix (``a + ##b → ab``, ``##a + ##b → ##ab``).

    Distributed shape per round (same scale posture as BPE): one
    pair-count aggregation and one symbol-count aggregation over the
    DISTINCT-WORD vocab (skinny shuffles, corpus text never moves),
    one small argmax-candidate collect, one pure-JVM merge fold per
    landed merge.

    Determinism: counts are exact int64; the score is one IEEE
    division ``double(cnt) / (double(l_cnt) · double(r_cnt))`` computed
    identically in any trainer; ties break lexicographically on
    (left, right) — so the learned table is a pure function of the
    corpus and an independent dict-based trainer (tools/make_goldens)
    reproduces it bit-for-bit. Output rows carry the exact integer
    counts, never the float score, so the contract hash is
    float-free.

    Returns ``(rank, left, right, merged, pair_count, left_count,
    right_count)``; stops early when no pair reaches
    ``min_pair_count``.

    ``merge_batch`` (round 9): same batched-merge scheduling as
    ``bpe_train`` — up to B pairwise symbol-disjoint merges per round,
    taken front-of-ranking from the top ``8·B`` collected candidates.
    Disjointness keeps every recorded pair/unit count exact (a merge
    cannot change the counts of a symbol-disjoint pair), so scores and
    tie-breaks are computed on exact numbers; only the merge ORDER may
    differ from the sequential rule.  Default 1 = exact sequential
    (the contract/golden behavior).
    """
    spark = df.sparkSession
    # lazy (round 13): round 1's collect materializes the vocab inside
    # its own job; the eager form paid a dedicated barrier job up front
    vocab = loop_frame(
        word_vocab(df, text_col).select(
            _wp_chars(F.col("word")).alias("syms"), "count"
        ),
        eager=False,
    )
    # lazy checkpoints: an older one may feed a newer one until the
    # next round's jobs run, so all are released when training ends
    stored = [vocab]

    def _wp_merged(l_: str, r_: str) -> str:
        return l_ + (r_[2:] if r_.startswith("##") else r_)

    batch = max(1, int(merge_batch))
    merges: list[tuple[int, str, str, str, int, int, int]] = []
    applied_since_ckpt = 0
    while len(merges) < num_merges:
        # lazy loop_frame: the symbol-count table has TWO consumers
        # (the l_cnt and r_cnt join sides) and Catalyst splices a
        # separate agg subtree into each — the whole explode+agg pass
        # over the vocab ran twice per round (round 12, measured).  The
        # lazy form makes both sides read one shared RDD with no extra
        # barrier job; the table is symbol-level (alphabet + merges) —
        # trivially small at any corpus scale.  It is released after
        # the round's collect (the round-12 form pinned one RDD per
        # round for the session — ADVICE r12).
        # Round 13 also measured and REJECTED two sharing variants:
        # persist() (AQE materializes a cached shuffle plan as separate
        # jobs — 37 → 77 jobs per x90 call; hence loop_frame, which
        # never persists, in every mode) and fusing the unit counts
        # into the pair pass via end-of-word markers + re-agg of the
        # checkpointed pair table (exact int64, value-identical, ONE
        # vocab explode per round instead of two — but the re-agg over
        # the checkpointed RDD planned as its own AQE stage-job per
        # round: 37 → 45 jobs, +1.5 s at sf0.1; the slot is driver-
        # latency-bound, and the saved explode is over the Zipf-bounded
        # vocab, not the corpus, so the bytes saved never dominate).
        units = loop_frame(
            vocab.select(F.explode("syms").alias("s"), "count")
            .groupBy("s")
            .agg(F.sum("count").alias("u_cnt")),
            eager=False,
        )
        pairs = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "count",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("count").alias("cnt"))
        )
        lc = units.select(
            F.col("s").alias("l"), F.col("u_cnt").alias("l_cnt")
        )
        rc = units.select(
            F.col("s").alias("r"), F.col("u_cnt").alias("r_cnt")
        )
        scored = (
            pairs.join(lc, "l")
            .join(rc, "r")
            .withColumn(
                "score",
                F.col("cnt").cast("double")
                / (
                    F.col("l_cnt").cast("double")
                    * F.col("r_cnt").cast("double")
                ),
            )
        )
        budget = min(batch, num_merges - len(merges))
        top = (
            scored.orderBy(F.desc("score"), F.asc("l"), F.asc("r"))
            .limit(budget if budget == 1 else 8 * budget)
            .collect()
        )
        release(units)
        picked = _select_disjoint(top, budget, min_pair_count, _wp_merged)
        if not picked:
            break
        for row in picked:
            l_, r_ = row["l"], row["r"]
            merged = _wp_merged(l_, r_)
            merges.append(
                (
                    len(merges) + 1,
                    l_,
                    r_,
                    merged,
                    int(row["cnt"]),
                    int(row["l_cnt"]),
                    int(row["r_cnt"]),
                )
            )
            # merge applications stack LAZILY on the checkpointed base —
            # a pure-JVM transform per round; materializing per round
            # cost a full job each (round 8: 4.0 s -> 3.3 s at sf0.1).
            # Checkpoint every few applied merges so the stacked plan
            # stays bounded for large num_merges (Catalyst analysis is
            # superlinear in plan depth).
            vocab = vocab.select(
                _apply_merge(F.col("syms"), l_, r_, merged).alias("syms"),
                "count",
            )
            applied_since_ckpt += 1
        if applied_since_ckpt >= 4 and len(merges) < num_merges:
            vocab = loop_frame(vocab, eager=False)
            stored.append(vocab)
            applied_since_ckpt = 0
    for t in stored:
        release(t)
    return spark.createDataFrame(
        merges,
        "rank INT, left STRING, right STRING, merged STRING, "
        "pair_count BIGINT, left_count BIGINT, right_count BIGINT",
    )


def wordpiece_encode(
    df: DataFrame,
    model,
    text_col: str = "text",
    id_col: str = "doc_id",
    preview_k: int = 10,
    unk: str = "[UNK]",
) -> DataFrame:
    """Tokenize the corpus under a learned WordPiece vocabulary with
    BERT's greedy LONGEST-MATCH-FIRST rule: at each position take the
    longest vocab piece that matches (continuations must carry ##); if
    no piece matches at some position the WHOLE word becomes ``unk``
    (the all-or-nothing BERT semantics, not per-character fallback).

    ``model`` is the ``wordpiece_train`` result (DataFrame with a
    ``merged`` column) or any iterable of vocabulary pieces; the
    single-character alphabet (first-char + ##continuation forms) is
    derived from the corpus itself, matching the trainer's seed
    symbols.

    Distributed shape = ``unigram_encode``'s: text never shuffles or
    enters Python; posexplode to skinny (id, pos, word) triples,
    longest-match over DISTINCT words only (one Arrow pass, vocab in
    the closure), hash-join re-attach, JVM reassembly.
    """
    if isinstance(model, DataFrame):
        pieces = {r["merged"] for r in model.select("merged").collect()}
    else:
        pieces = {str(p) for p in model}

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(tokens(F.col(text_col))).alias("pos", "word"),
    )
    # distinct words materialized ONCE (skinny, Zipf-bounded): the
    # alphabet derivation and the Arrow encode pass both read it.  The
    # inline form re-tokenized the corpus a third time for the alphabet
    # and char-exploded every word OCCURRENCE before the distinct
    # (round 12, measured — chars of distinct words are the same set).
    words = shared_frame(
        exploded.filter(F.col("word").isNotNull()).select("word").distinct(),
        eager=True,
    )
    alphabet = (
        words.select(F.explode(_wp_chars(F.col("word"))).alias("s"))
        .distinct()
        .collect()
    )
    vocab = pieces | {r["s"] for r in alphabet}

    def enc(it):
        import pandas as pd

        # empty vocab (empty model over a word-free corpus): every word
        # falls through the greedy match and becomes [UNK]
        max_l = max((len(p) for p in vocab), default=0)
        for pdf in it:
            toks_col = []
            for w in pdf["word"]:
                out, i, n = [], 0, len(w)
                while i < n:
                    # continuation candidates carry "##", so they fit 2
                    # fewer source chars under the max piece length
                    j = min(n, i + (max_l if i == 0 else max_l - 2))
                    piece = None
                    while j > i:
                        cand = w[i:j] if i == 0 else "##" + w[i:j]
                        if cand in vocab:
                            piece = cand
                            break
                        j -= 1
                    if piece is None:
                        out = [unk]  # all-or-nothing BERT semantics
                        break
                    out.append(piece)
                    i = j
                toks_col.append(out)
            yield pd.DataFrame({"word": pdf["word"], "toks": toks_col})

    word_toks = words.mapInPandas(enc, "word STRING, toks ARRAY<STRING>")
    return (
        exploded.join(word_toks, "word", "left")
        .groupBy("id")
        .agg(
            F.count("word").alias("n_words"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("word").isNotNull(),
                                F.struct("pos", "toks"),
                            )
                        )
                    ),
                    lambda s: s["toks"],
                )
            ).alias("toks"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            F.size("toks").alias("n_pieces"),
            F.size(F.filter("toks", lambda t: t == F.lit(unk))).alias(
                "n_unk"
            ),
            F.array_join(F.slice("toks", 1, preview_k), " ").alias(
                "pieces_preview"
            ),
        )
    )
