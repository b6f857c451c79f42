"""TF-IDF term weighting over a document corpus (SURVEY §7.1 step 9).

Plain relational formulation — no ML-pipeline state, no vocabulary
broadcast, no UDFs:

    tokens explode → per-(doc, term) counts (TF)
                   → per-term document frequency (DF) via a second groupBy
                   → join + idf = ln((N + 1) / (df + 1)) + 1  (smoothed)
                   → per-doc top-k terms by tf·idf (window)

Scale notes: both aggregations are partial+final hash aggs keyed by term /
(doc, term); the DF side is ≤ |vocabulary| rows and broadcasts into the
join. The only wide shuffle is the explode's (doc, term) grouping —
unavoidable and linear in corpus token count.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modis_aggregation_spark.functions.materialize import shared_frame
from modis_aggregation_spark.functions.text import tokens


def term_frequencies(
    docs: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf) — raw in-document term counts."""
    staged = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(content_col)).alias("__toks")
    )
    # explode_outer + null-filter: the optimizer infers a size>0 filter
    # for inner explodes that re-evaluates the collapsed tokenize tree
    # per row outside codegen (screening.distinct_ngrams, round 8);
    # outer + dropping the empty-array NULL row is semantics-identical
    return (
        staged.select("doc_id", F.explode_outer("__toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def inverted_index(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df_ratio: float = 0.5,
    max_postings: int = 100,
) -> DataFrame:
    """Posting-list construction — the retrieval-side index a BM25/search
    stack sits on, emitted as EXPLODED rows:

        (term, df, rank, doc_id)   rank = 1-based position in the
                                   doc_id-ordered posting list

    Terms outside ``[min_df, max_df_ratio · n_docs]`` are dropped (rare
    noise and stopwords — standard IR practice), and each surviving
    posting list is capped at ``max_postings`` entries (lowest doc_ids),
    so no single hot term materializes an unbounded list.

    Scale shape: the term/doc pairs reduce to DISTINCT before anything
    else (skinny string+id rows); document frequency is a hash agg on
    term; the corpus size is a broadcast 1-row scalar; the cap is a
    rank-window on the term partition — Spark pushes ``rank <=
    max_postings`` below the exchange as WindowGroupLimit, so at most
    ``max_postings`` rows per term ever shuffle to the window sort. No
    collect, no per-term driver loops; output rows are bounded by
    |kept terms| × max_postings.

    No counterpart in the reference (extension surface); complements
    ``bm25``/``tf_idf`` (scoring) with the index-build half of the IR
    pair.
    """
    staged = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(content_col)).alias("__toks")
    )
    # explode_outer + null-filter: see term_frequencies
    pairs = (
        staged.select("doc_id", F.explode_outer("__toks").alias("term"))
        .filter(F.col("term").isNotNull())
        .distinct()
    )
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    )
    kept = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= F.lit(int(min_df)))
            & (F.col("df") <= F.lit(float(max_df_ratio)) * F.col("__n_docs"))
        )
        .select("term", "df")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    return (
        pairs.join(kept, "term")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.lit(int(max_postings)))
        .select("term", "df", "rank", "doc_id")
    )


def tf_idf(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """(doc_id, term, tf, df, tfidf[, rank]) with smoothed idf.

    ``idf = ln((N + 1) / (df + 1)) + 1`` (sklearn's smooth_idf convention —
    never divides by zero, never negative). ``top_k`` keeps the k highest-
    scoring terms per document (ties broken by term for determinism).

    Scale shape (round-8 fix): the tf table is a ``shared_frame`` of the
    call, so the corpus tokenizes ONCE — its two consumers (the df
    aggregation and the score join) read the stored copy.  Exchange
    reuse cannot save this one: the count-distinct rewrite + column
    pruning make the two tf subtrees non-identical, so unshared they
    each re-tokenize.  No
    broadcast hint on df_ — it is vocabulary-sized, unbounded at corpus
    scale (same rule as the pmi/bigram marginals); AQE may still elect a
    broadcast when actually small.
    """
    n_docs = docs.select(id_col).distinct().count()
    tf = shared_frame(term_frequencies(docs, content_col, id_col))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + F.lit(1.0)
    scored = (
        tf.join(df_, "term")
        .withColumn("tfidf", F.col("tf") * idf)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )
    if top_k is None:
        return scored
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def idf_value(n_docs: int, df: int) -> float:
    """Driver-side reference of the idf formula (for tests)."""
    return math.log((n_docs + 1) / (df + 1)) + 1.0


def bm25(
    docs: DataFrame,
    query_terms: Sequence[str],
    content_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = None,
) -> DataFrame:
    """Okapi BM25 keyword-retrieval scoring of every document against a
    fixed bag of ``query_terms``.

    ``score(d) = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·dl/avgdl))`` with the
    standard robust idf ``ln(1 + (N − df + 0.5)/(df + 0.5))``.

    Scale shape — NO doc-keyed shuffle at all: the corpus-wide state
    (per-query-term document frequencies, avgdl, N) is ONE skinny 1-row
    aggregate — every df_t is a conditional sum in the same agg pass
    (|q| is a small constant, so |q| extra agg expressions are free) —
    broadcast back via crossJoin; scoring is then a single MAP-ONLY
    projection that counts each query term inside the token array. The
    naive explode→groupBy(doc,term)→join-back plan shuffles the corpus
    by doc_id three times; this one never does — and the corpus is
    tokenized exactly ONCE (round 12; round 7 shipped three tokenize
    passes, rounds 8-11 two — the stats agg and the scoring projection
    each re-derived the token arrays from text). A single pass reduces
    every document to the skinny per-doc state BOTH consumers need —
    (dl, tf per query term), |q|+2 numbers per doc — and materializes
    it (localCheckpoint); the stats aggregate and the scoring
    projection read that, never the text. ``df_t`` as ``Σ 1[tf_t > 0]``
    is value-identical to the former ``Σ 1[array_contains]`` (contains
    ⇔ count > 0; NULL token arrays yield 0.0 through the same
    when/otherwise), so scores are bit-identical. Terms absent from the
    corpus contribute 0 (their tf is 0 everywhere).

    No counterpart in the reference; extends the TF-IDF family above for
    retrieval-style corpus triage (e.g., topic-targeted data selection).
    """
    terms = sorted({t.lower() for t in query_terms})

    def _eq(term: str):
        return lambda x: x == term

    per_doc = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(content_col)).alias("__toks")
    ).select(
        "doc_id",
        F.size("__toks").cast("double").alias("__dl"),
        *(
            F.size(F.filter(F.col("__toks"), _eq(t)))
            .cast("double")
            .alias(f"__tf_{i}")
            for i, t in enumerate(terms)
        ),
    )
    # lazy shared materialization (round 13, was an EAGER localCheckpoint
    # in round 12): nothing orders the two consumers — the 1-row stats
    # aggregate is the first consumer and materializes the frame inside
    # its own job; eager added a dedicated barrier job per invocation and
    # made merely CONSTRUCTING the DataFrame (plan capture, .explain)
    # run a full corpus scan (ADVICE r12).
    per_doc = shared_frame(per_doc)
    # skinny corpus-wide state in ONE agg pass over the per-doc frame:
    # df per query term (conditional sums — indexed aliases, term text
    # may not be a safe column name) + (avgdl, N) scalars
    stats = per_doc.agg(
        F.avg(F.col("__dl")).alias("__avgdl"),
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        *(
            F.sum(F.when(F.col(f"__tf_{i}") > 0, 1.0).otherwise(0.0)).alias(
                f"__df_{i}"
            )
            for i, t in enumerate(terms)
        ),
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    dl = F.col("__dl")
    contribs = []
    for i, t in enumerate(terms):
        tf = F.col(f"__tf_{i}")
        df_t = F.col(f"__df_{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("__n_docs") - df_t + 0.5) / (df_t + 0.5)
        )
        denom = tf + k1 * (1.0 - b + b * dl / F.col("__avgdl"))
        contribs.append(F.when(tf > 0, idf * tf / denom).otherwise(F.lit(0.0)))
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    out = scored.select("doc_id", total.alias("score"))
    if top_k is None:
        return out
    return out.orderBy(F.col("score").desc(), F.col("doc_id")).limit(top_k)


def _doc_bigrams(
    docs: DataFrame, content_col: str, id_col: str | None
) -> DataFrame:
    """(doc_id?, w1, w2) — one row per bigram OCCURRENCE (not distinct
    pairs), formed inside the token array (zip with tail, no per-token
    explode until after pairing). The single definition of bigram
    formation: ``bigram_lm`` (no id) and ``lm_doc_score``/
    ``pmi_collocations`` (id-carrying) all derive from it, so a tokenizer
    tweak can never drift between the LM and its consumers. Pass
    ``id_col=None`` to omit the id column."""
    ids = [F.col(id_col).alias("doc_id")] if id_col else []
    # no size>=2 pre-filter: predicate pushdown substitutes the alias
    # into the scan filter, re-running the tokenize once per row there
    # (round 8); the CLAMPED slice length makes short documents yield
    # empty pair arrays instead -> the explode_outer NULL row is dropped
    staged = docs.select(
        *ids, tokens(F.col(content_col)).alias("__toks")
    )
    # explode_outer + null-filter: see term_frequencies (struct elements
    # are never null; the clamped slice yields an EMPTY pair array for
    # 0/1-token docs, so the only NULL rows explode_outer emits are those
    # empty-array placeholders — the isNotNull filter below drops them,
    # and the outer form also suppresses the inferred size>0
    # re-evaluation of the whole tokenize tree)
    return staged.select(
        *(["doc_id"] if id_col else []),
        F.explode_outer(
            F.zip_with(
                F.slice(
                    F.col("__toks"), 1,
                    F.greatest(F.size("__toks") - 1, F.lit(0)),
                ),
                F.slice(
                    F.col("__toks"), 2,
                    F.greatest(F.size("__toks") - 1, F.lit(0)),
                ),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).filter(F.col("bg").isNotNull()).select(
        *(["doc_id"] if id_col else []),
        F.col("bg.w1").alias("w1"),
        F.col("bg.w2").alias("w2"),
    )


def lm_doc_score(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.5,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus add-k
    bigram LM — the CCNet-style perplexity screen (documents whose
    ``ppl = exp(avg_nll)`` is far above the corpus norm are boilerplate /
    gibberish candidates; far below are templated duplicates).

    Output: (doc_id, n_bigrams, avg_nll, ppl), one row per document with
    >= 1 bigram. Every in-corpus bigram has been observed at least once,
    so the join to the probability table is total (smoothing still shapes
    p via the k·V denominator mass).

    Scale shape: the corpus is tokenized EXACTLY ONCE — the (doc_id, w1,
    w2) occurrence frame is a ``shared_frame`` of the call and feeds
    BOTH the LM count aggregation (doc_id dropped) and the
    occurrence→probability join; V derives from the aggregated count table inside ``bigram_lm``.
    Three skinny shuffles follow — bigram counts keyed (w1, w2),
    left-token totals keyed w1, and the probability join keyed (w1, w2);
    neither count table is broadcast (vocabulary² is unbounded at corpus
    scale — same rule as dsir_importance); the final roll-up is a hash
    agg keyed by doc_id. Token text shuffles once (the occurrence rows);
    documents never do. (Round 7 shipped four tokenize passes here —
    occ, the LM's own pairs, and a pairs∪pairs V union; at 100 TB
    tokenization IS the cost, hence the shared frame.)

    No counterpart in the reference (extension surface); composes
    ``bigram_lm`` into the per-document quality-screen shape.
    """
    occ = shared_frame(_doc_bigrams(docs, content_col, id_col))
    # NOT materialized: the vocabulary²-bounded count table, although it
    # has three consumers inside the LM (probability join, w1-marginal,
    # V).  Measured at sf0.1 (warm best-of-5): occ-only 0.72 s;
    # +persisted count table 1.04 s; +collected-literal V 1.54 s — the
    # extra materializations/jobs cost more than the 1-2 duplicate agg
    # passes they save, and those duplicates re-read the SKINNY stored
    # occurrence frame (post-tokenize), never the corpus.
    lm = bigram_lm(
        docs, content_col, k_smooth, pairs=occ.select("w1", "w2")
    ).select("w1", "w2", "p")
    nll = -F.log(F.col("p"))
    return (
        occ.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(nll).alias("avg_nll"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "avg_nll",
            F.exp(F.col("avg_nll")).alias("ppl"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — collocation
    mining (``pmi = ln(c12·T / (c1·c2))`` with c1/c2 the left/right
    positional marginals and T the total bigram count). Pairs below
    ``min_count`` occurrences are dropped (PMI is noise at low counts).

    Output: (w1, w2, c12, pmi).

    Scale shape: one bigram-count hash agg keyed (w1, w2), then two
    skinny marginal aggs DERIVED from the counts table (keyed w1 / w2 —
    never re-reading the corpus), joined back by shuffle (marginals are
    |vocabulary| rows, unbounded — no broadcast hint; AQE may still elect
    one when small). T rides as a broadcast 1-row scalar.
    """
    pairs = _doc_bigrams(docs, content_col, id_col)
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    total = bg.agg(F.sum("c12").cast("double").alias("__t"))
    return (
        bg.filter(F.col("c12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            F.log(
                F.col("c12").cast("double")
                * F.col("__t")
                / (F.col("c1").cast("double") * F.col("c2").cast("double"))
            ).alias("pmi"),
        )
    )


def hash_embed(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
) -> DataFrame:
    """Feature-hashing document embeddings (the hashing trick, Weinberger
    et al. 2009): each token maps to ``bucket = h(token) mod dim`` with a
    ±1 sign from the next hash bit; per-doc bucket sums are L2-normalized.
    The model-free text→vector bridge that makes the ANN/PQ family
    (cosine_topk, semdedup, pq_assign) applicable to raw text.

    Output: sparse rows (doc_id, dim, val) — only non-zero components
    (cancelled buckets are dropped), ||v||₂ = 1 per doc.

    The token hash is the exact-int64 polynomial over the first 7 chars
    (missing chars contribute 0): Σ (codepoint(c_j) mod 257)·257^(6-j).
    The mod-257 CLAMP bounds every term below 256·257⁶ so the sum stays
    under 2⁶³ for ANY Unicode input (unclamped, an astral-plane codepoint
    at a high coefficient overflows int64 — the reason this deliberately
    differs from ``curation._gram_hash``, whose unclamped form is frozen
    by recorded oracles and safe on its normalized-ASCII domain). All
    arithmetic is LONG; any engine computing the same sum matches
    bit-for-bit (same oracle-portability trade as the gram-hash family;
    xxhash would be stronger but unverifiable).

    Scale shape: tokenize → explode → pure-Catalyst hash/bucket/sign →
    ONE hash agg keyed (doc_id, bucket) (map-side combine collapses
    repeated tokens) → per-doc norm agg + shuffle join keyed doc_id.
    No UDFs, no vocabulary state, nothing broadcast.
    """
    staged = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(content_col)).alias("__toks")
    )
    # explode_outer + null-filter: see term_frequencies
    tok = staged.select(
        "doc_id", F.explode_outer("__toks").alias("__w")
    ).filter(F.col("__w").isNotNull())
    h = None
    for j in range(7):
        cp = F.pmod(F.ascii(F.col("__w").substr(j + 1, 1)).cast("long"), F.lit(257))
        term = F.when(
            F.length("__w") > j, cp * F.lit(257 ** (6 - j)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        h = term if h is None else h + term
    hashed = tok.select(
        "doc_id", h.cast("long").alias("__h")
    ).select(
        "doc_id",
        F.pmod(F.col("__h"), F.lit(dim)).cast("long").alias("dim"),
        F.when(
            F.pmod(F.expr(f"__h div {dim}"), F.lit(2)) == 0, F.lit(1)
        ).otherwise(F.lit(-1)).alias("__sg"),
    )
    sums = (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("__sg").alias("__sv"))
        .filter(F.col("__sv") != 0)
    )
    norms = sums.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("__sv") * F.col("__sv"))).alias("__nr")
    )
    return sums.join(norms, "doc_id").select(
        "doc_id", "dim", (F.col("__sv") / F.col("__nr")).alias("val")
    )


def bigram_lm(
    docs: DataFrame,
    content_col: str = "text",
    k_smooth: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Add-k-smoothed bigram language model over the corpus:
    ``p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)`` with V = unigram
    vocabulary size. The cheap corpus-statistics LM used for perplexity
    screens and domain scoring when a neural LM is too expensive per
    token.

    Scale shape: ONE pass forms bigrams inside the token array (zip of
    the array with its tail — no per-token explode until after pairing),
    then two hash aggregations (bigram counts, left-token totals) and a
    shuffle join keyed on w1. The vocabulary is unbounded at corpus scale,
    so neither count table gets a broadcast hint (AQE may still elect one
    when small) — same rule as dsir_importance. V rides as a 1-row scalar
    crossJoin. Only observed bigrams are returned (the smoothed mass of
    unseen pairs is implied by the formula).

    V is derived from the AGGREGATED count table (distinct over the union
    of its w1/w2 key columns — set-identical to distinct words over the
    occurrence rows, since every occurring pair appears as a key), never
    by re-scanning the occurrences: at 100 TB the occurrence frame is one
    row per corpus token and tokenization dominates, while the count
    table is vocabulary²-bounded and already in hand.

    ``pairs`` (optional): a pre-formed (w1, w2) occurrence frame —
    callers that also consume the occurrences themselves pass their
    persisted frame so the corpus is tokenized exactly once.
    """
    if pairs is None:
        pairs = _doc_bigrams(docs, content_col, None)
    bg_counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    w1_counts = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        bg_counts.select(F.col("w1").alias("w"))
        .unionAll(bg_counts.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").cast("double").alias("__v"))
    )
    return (
        bg_counts.join(w1_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            (
                (F.col("c12") + F.lit(k_smooth))
                / (F.col("c1") + F.lit(k_smooth) * F.col("__v"))
            ).alias("p"),
        )
    )


def kneser_ney_lm(
    docs: DataFrame,
    content_col: str = "text",
    discount: float = 0.75,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram LM (Kneser & Ney 1995;
    Chen & Goodman 1998) — the stronger counterpart of ``bigram_lm``'s
    add-k smoothing, and the standard n-gram LM for perplexity screens:

        p_kn(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1,·)/c1) · p_cont(w2)
        p_cont(w2)  = N1+(·,w2) / N1+(·,·)

    where N1+ are DISTINCT-bigram continuation counts — a word seen in
    many contexts (high continuation count) gets back-off mass even when
    its raw unigram count is dominated by one collocation (the classic
    "san francisco" argument).

    Scale shape: identical to ``bigram_lm`` — one corpus pass forms
    bigram occurrences, then every statistic (c1, the forward/backward
    continuation counts, the global distinct-bigram total) derives from
    the AGGREGATED vocabulary²-bounded count table, never by re-scanning
    occurrences. All inputs are exact int64 counts; the smoothing
    arithmetic is per-row float on those integers (no distributed float
    reduction — layout-invariant per CLAUDE.md rule 3b).

    Returns (w1, w2, c12, c1, p_kn) for observed bigrams. ``pairs`` as
    in ``bigram_lm``: pass a persisted occurrence frame to share the
    tokenize pass.
    """
    if pairs is None:
        pairs = _doc_bigrams(docs, content_col, None)
    # lazy localCheckpoint (round 12): the count table has FOUR consumers
    # (probability join, w1-marginal, w2-continuation, global total) and
    # Catalyst spliced the whole upstream tree into each — with inline
    # pairs that was four corpus scans + tokenize passes per run
    # (plan-verified).  The materialized frame is the vocabulary²-bounded
    # count table (one row per observed bigram), the scale-safe thing to
    # hold; lazy = the first consumer (the broadcast total) materializes
    # it, no extra barrier job.
    bg = shared_frame(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    c1t = bg.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("__n1f")
    )
    nbt = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("__n1b"))
    tot = bg.agg(F.count(F.lit(1)).cast("double").alias("__nall"))
    d = F.lit(float(discount))
    return (
        bg.join(c1t, "w1")
        .join(nbt, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            (
                F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
                + (d * F.col("__n1f") / F.col("c1"))
                * (F.col("__n1b") / F.col("__nall"))
            ).alias("p_kn"),
        )
    )


def bm25_topk_queries(
    docs: DataFrame,
    queries: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Batch BM25 retrieval: top-``top_k`` documents per query over an
    on-the-fly term-frequency index — the document-at-a-time (DAAT)
    retrieval shape, complementing ``bm25``'s single-query map-only
    scoring.

    Scale shape: the corpus shuffles ONCE into the (term, doc, dl, tf)
    occurrence index (partial agg absorbs in-document repeats; dl rides
    as a group key, so no doc-keyed length join ever happens). The query
    bag is MBs against a 100 TB corpus — its distinct (query, term)
    pairs broadcast into the index scan, so only postings of query terms
    survive; document frequencies for those terms derive from the
    already-filtered postings. Per-query top-k is a rank window
    (WindowGroupLimit below the exchange).

    Determinism (CLAUDE.md rule 3b): each (query, doc, term)
    contribution is quantized to integer MICROS and the per-(query, doc)
    score is an int64 sum — layout-invariant where a float sum would
    depend on shuffle merge order. ``score`` is micros/1e6; ties rank by
    doc_id. The ln()-based idf keeps the same accepted 1-ulp rounding
    exposure as ``bm25``'s oracle.

    Returns (query_id, doc_id, score_micros, rank).
    """
    staged = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(content_col)).alias("__toks")
    )
    gstats = staged.agg(
        F.avg(F.size("__toks").cast("double")).alias("__avgdl"),
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
    )
    tf = (
        staged.select(
            "doc_id",
            F.size("__toks").cast("double").alias("__dl"),
            F.explode_outer("__toks").alias("term"),
        )
        .filter(F.col("term").isNotNull())
        .groupBy("term", "doc_id", "__dl")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode_outer(
                F.array_distinct(tokens(F.col(query_col)))
            ).alias("term"),
        )
        .filter(F.col("term").isNotNull())
        .distinct()
    )
    # lazy localCheckpoint (round 12): the query-term postings feed BOTH
    # the document-frequency aggregate and the scoring join, and each
    # consumer re-ran the whole corpus tokenize + posting aggregation
    # (plan-verified: two of the three documents scans were this
    # subtree).  The materialized rows are postings of QUERY terms only
    # — bounded by the query bag, scale-safe; lazy = the df_q broadcast
    # materializes it, the scoring join reads the blocks.
    tf_q = shared_frame(
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
    )
    df_q = tf_q.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    cand = (
        tf_q.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_q), "term")
        .crossJoin(F.broadcast(gstats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + k1 * (
        1.0 - b + b * F.col("__dl") / F.col("__avgdl")
    )
    contrib_micros = F.round(
        (idf * F.col("__tf") / denom) * 1000000.0
    ).cast("long")
    scores = (
        cand.select("query_id", "doc_id", contrib_micros.alias("__cm"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__cm").alias("score_micros"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micros").desc(), F.col("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "score_micros", "rank")
    )
