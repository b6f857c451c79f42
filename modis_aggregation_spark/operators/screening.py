"""Corpus screening: repetition signals and benchmark decontamination.

The two shuffle-based document screens of a training-data pipeline that
the narrow curation projections (operators/curation.py) can't express:

* **Repetition profile** — the Gopher-rule family (Rae et al. 2021,
  "Scaling Language Models", table A1): fraction of tokens covered by the
  most frequent n-gram (n small) and fraction of duplicated n-gram
  occurrences (n larger). Machine-generated and boilerplate text scores
  high on both.
* **Decontamination** — flag training documents sharing word n-grams
  with an evaluation/benchmark set (the GPT-3 appendix-C style n-gram
  overlap check).

Scale shape: both explode token n-grams to skinny (id, gram) rows and
aggregate — partial (map-side) aggregation absorbs the per-document
repeats, the shuffle keys include the document id so there are no hot
keys, and the benchmark side of decontamination is a broadcast (an eval
set is MBs against a 100 TB corpus; the corpus side never shuffles its
payload, only grams). No Python UDFs anywhere except the
compression-ratio screen, whose whole point is stdlib deflate — that one
is an Arrow-batched map-only pass with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modis_aggregation_spark.functions import text as fn_text
from modis_aggregation_spark.functions.materialize import shared_frame


def _gram_array(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a MATERIALIZED token-array column.

    ``sequence(a, b)`` counts DOWN when b < a, so the index range is
    clamped to [1, 1] and over-long indices are filtered out — a document
    with fewer than ``n`` tokens yields an empty array, not garbage.
    """
    last = F.size(toks) - (n - 1)
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(last, F.lit(1))),
        lambda i: i <= last,
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def compression_ratio_screen(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
    min_ratio: float = 0.35,
    max_ratio: float = 1.05,
) -> DataFrame:
    """The zlib compression-ratio quality signal (the classic
    repetitiveness/entropy screen of web-corpus pipelines): ratio =
    compressed_bytes / raw_utf8_bytes at a fixed deflate ``level``.
    Highly repetitive or templated text compresses far below natural
    prose (ratio < ~0.35); binary-ish or already-compressed junk sits
    near/above 1.0.  Returns ``(id, raw_bytes, compressed_bytes, ratio,
    keep)`` for every document.

    Scale shape: map-only — an Arrow-batched pandas iterator calling
    stdlib zlib per document, no shuffle at all (the same narrow posture
    as the C4/Gopher screens); cost is deflate CPU over bytes scanned.
    Deterministic: zlib output length is a pure function of
    (bytes, level, strategy) for a fixed zlib build, so the x69 oracle
    joins a committed golden keyed by sha256(text)."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raws, comps = [], []
            for t in pdf[text_col]:
                data = (t or "").encode("utf-8")
                raws.append(len(data))
                comps.append(len(zlib.compress(data, level)))
            out = pd.DataFrame({
                "id": pdf[id_col],
                "raw_bytes": pd.array(raws, dtype="int64"),
                "compressed_bytes": pd.array(comps, dtype="int64"),
            })
            out["ratio"] = out["compressed_bytes"] / out["raw_bytes"].where(
                out["raw_bytes"] > 0, 1
            )
            out["keep"] = (out["ratio"] >= min_ratio) & (out["ratio"] <= max_ratio)
            yield out

    return df.select(
        F.col(id_col).alias(id_col), F.col(text_col)
    ).mapInPandas(
        batches,
        "id BIGINT, raw_bytes BIGINT, compressed_bytes BIGINT, "
        "ratio DOUBLE, keep BOOLEAN",
    )


def repetition_profile(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    top_ns: Sequence[int] = (2, 3),
    dup_n: int = 5,
) -> DataFrame:
    """Per-document repetition signals over word n-grams.

    Returns (id, n_tokens, top{n}gram_frac … , dup{dup_n}gram_frac):

    * ``top{n}gram_frac`` — tokens covered by the single most frequent
      n-gram as a fraction of all tokens (count × n / n_tokens).
    * ``dup{dup_n}gram_frac`` — fraction of n-gram occurrences that are
      repeats (1 − distinct/total).

    A metric is NULL when the document is shorter than its n. All n
    values ride ONE explode: the per-n gram arrays are built in a single
    projection, concatenated as (n, gram) structs, and aggregated twice
    — (id, n, gram) counts, then per-(id, n) max/total/distinct —
    before a conditional pivot back to one row per document.
    """
    ns = sorted({*top_ns, dup_n})
    staged = df.select(
        F.col(id_col).alias("id"),
        fn_text.tokens(F.col(content_col)).alias("__toks"),
    ).withColumn("n_tokens", F.size("__toks"))

    def tagged(n: int) -> Column:
        return F.transform(
            _gram_array(F.col("__toks"), n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
        )

    # explode_outer + null-filter: see distinct_ngrams (inferred-filter
    # re-evaluation of the HOF operand); struct elements are never null
    exploded = staged.select(
        "id",
        "n_tokens",
        F.explode_outer(F.concat(*[tagged(n) for n in ns])).alias("__g"),
    ).filter(F.col("__g").isNotNull()).select(
        "id", "n_tokens", F.col("__g.n").alias("n"), F.col("__g.gram").alias("gram")
    )

    per_gram = exploded.groupBy("id", "n_tokens", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_n = per_gram.groupBy("id", "n_tokens", "n").agg(
        F.max("cnt").alias("mx"),
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("uniq"),
    )
    aggs = [
        F.max(F.when(F.col("n") == n, F.col("mx") * n / F.col("n_tokens"))).alias(
            f"top{n}gram_frac"
        )
        for n in top_ns
    ]
    aggs.append(
        F.max(
            F.when(F.col("n") == dup_n, 1 - F.col("uniq") / F.col("total"))
        ).alias(f"dup{dup_n}gram_frac")
    )
    return per_n.groupBy("id", "n_tokens").agg(*aggs)


def distinct_ngrams(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """Distinct word n-grams per document as skinny (id, n_grams, gram)
    rows. Distinctness is established INSIDE the array (array_distinct
    before explode) — no shuffle is spent on it.

    The token array is MATERIALIZED as a real column before entering
    ``_gram_array`` (CLAUDE.md rule 2: an inline expression re-evaluates
    per lambda element — passing ``tokens(...)`` directly re-ran the
    whole tokenize once per gram position, O(len²) per document;
    measured 12.5 s -> sub-second for the corpus gram build at sf0.1)."""
    staged = df.select(
        F.col(id_col).alias("id"),
        fn_text.tokens(F.col(content_col)).alias("__toks"),
    ).select(
        "id",
        F.array_distinct(_gram_array(F.col("__toks"), n)).alias("__grams"),
    )
    # explode_OUTER + null-filter instead of plain explode: the optimizer
    # infers a size(<generator>)>0 filter for inner explodes, and with a
    # collapsed HOF operand that filter re-evaluates the whole gram tree
    # per row outside codegen (measured 14x slower at sf0.1); outer
    # explodes get no inferred filter, and dropping the NULL row an
    # empty array emits restores inner semantics exactly (gram elements
    # are never null).
    return staged.select(
        "id",
        F.size("__grams").alias("n_grams"),
        F.explode_outer("__grams").alias("gram"),
    ).filter(F.col("gram").isNotNull())


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Training documents contaminated by benchmark n-gram overlap.

    Builds the distinct n-gram set of ``benchmark`` (an eval set — MBs,
    so it is BROADCAST), inner-joins the training documents' distinct
    n-grams against it, and counts matches per document. Returns
    (id, n_grams, n_hits, contamination) for documents with
    ``n_hits >= min_hits``; contamination = n_hits / n_grams. The
    training corpus ships only (id, gram) rows through the join — the
    payload never moves.
    """
    bench_grams = (
        distinct_ngrams(benchmark, content_col, id_col, n).select("gram").distinct()
    )
    train_grams = distinct_ngrams(train, content_col, id_col, n)
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.filter(F.col("n_hits") >= min_hits).select(
        "id",
        "n_grams",
        "n_hits",
        (F.col("n_hits") / F.col("n_grams")).alias("contamination"),
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by the log-likelihood ratio between a TARGET unigram model
    and the RAW corpus unigram model, both add-one smoothed:

        score(d) = Σ_w count_d(w) · [ln p_t(w) − ln p_r(w)]
        p(w) = (c(w) + 1) / (N + V),   V = |raw vocabulary|

    High scores mean "looks like the target domain" — the resampling
    weight for domain-targeted pretraining mixtures.

    Determinism contract (the oracle property): the per-word log weight
    is rounded to 6 dp and scaled to an integer-micro value FIRST, so the
    per-document sum is exact int64 arithmetic — engine differences in
    ln() (neither JVM nor C libm guarantees correct rounding) can only
    matter if a weight sits within ~1e-7 of a rounding boundary.

    Scale shape: two word-count aggregations (target counts broadcast —
    a target/eval set is MBs against the corpus), one explode of the raw
    corpus to skinny (id, word) rows, a shuffled join onto the weight
    table (the weight table carries the FULL raw vocabulary, which is
    unbounded at corpus scale — no broadcast hint; AQE may still elect
    to broadcast when the vocabulary measures small), one per-doc sum.
    Returns (id, n_tokens, score_micro).
    """
    # explode_outer + null-filter: see distinct_ngrams
    raw_words = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(fn_text.tokens(F.col(content_col))).alias("w"),
    ).filter(F.col("w").isNotNull())
    tgt_words = target.select(
        F.explode_outer(fn_text.tokens(F.col(content_col))).alias("w")
    ).filter(F.col("w").isNotNull())
    raw_counts = raw_words.groupBy("w").agg(F.count("*").alias("c_r"))
    tgt_counts = tgt_words.groupBy("w").agg(F.count("*").alias("c_t"))
    totals = raw_counts.agg(
        F.sum("c_r").alias("n_r"), F.count("*").alias("v")
    ).crossJoin(tgt_counts.agg(F.sum("c_t").alias("n_t")))
    weights = (
        raw_counts.join(tgt_counts, "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1))
                        / (F.col("n_t") + F.col("v")).cast("double")
                    )
                    - F.log(
                        (F.col("c_r") + F.lit(1))
                        / (F.col("n_r") + F.col("v")).cast("double")
                    )
                )
                * F.lit(1_000_000.0),
                0,
            )
            .cast("long")
            .alias("lw_micro"),
        )
    )
    return (
        raw_words.join(weights, "w")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lw_micro").alias("score_micro"),
        )
    )


def bloom_bits(
    benchmark: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
) -> DataFrame:
    """Build the Bloom-filter bit set of a benchmark's distinct word
    n-grams as a DataFrame of set bit positions — ``(pos)`` rows,
    ``pos = pmod(xxhash64(gram, i), m_bits)`` for i in [0, k_hashes).

    The set-bits relation (≤ m_bits rows of one int) IS the filter: it
    stays a DataFrame (broadcastable, persistable, unionable for
    incremental benchmark additions) instead of a driver-side bitset,
    so building it never collects anything and applying it is a plain
    broadcast join.
    """
    grams = (
        distinct_ngrams(benchmark, content_col, id_col, n)
        .select("gram")
        .distinct()
    )
    return (
        grams.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64("gram", F.lit(i)), F.lit(m_bits))
                        for i in range(k_hashes)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )


def bloom_screen(
    train: DataFrame,
    benchmark: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the constant-size
    screen used when the benchmark n-gram set itself is too large to
    broadcast verbatim (Dolma-style bloom decontamination): a gram is
    "maybe contaminated" iff ALL ``k_hashes`` of its bit positions are
    set in the benchmark's filter; false positives at the classic
    ``(1 - e^{-kn/m})^k`` rate, false negatives never (verified against
    exact overlap in tests). Unlike ``decontaminate`` (exact grams,
    broadcast of the full gram set), the filter is ``m_bits`` BITS no
    matter how many benchmark grams exist.

    DataFrame-native bloom semantics — fully deterministic under any
    partitioning (it is pure set membership, no float math), which is
    what lets the x76 oracle re-derive the exact same flags from an
    independent pure-Python XXH64:

    1. the corpus's distinct (id, gram) rows explode to k skinny
       (id, gram, pos) probes,
    2. broadcast-join against the set-bits relation (inner),
    3. a gram hits iff its match count == k_hashes,
    4. per-doc rollup: n_flagged grams, flagged = any.

    Scale shape: the bit relation is ≤ m_bits ints (2 MB at 2^18 —
    broadcast); probes are map-side-generated and the only shuffle is
    the (id, gram) match-count aggregation over grams with ≥1 hit.
    Documents with no hits survive via a broadcast-right rollup onto
    the per-doc gram counts (no second corpus scan of text).
    """
    bits = bloom_bits(benchmark, content_col, id_col, n, m_bits, k_hashes)
    grams = distinct_ngrams(train, content_col, id_col, n)
    per_doc = grams.groupBy("id").agg(
        F.max("n_grams").cast("long").alias("n_grams")
    )
    probes = grams.select(
        "id",
        "gram",
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("gram", F.lit(i)), F.lit(m_bits))
                    for i in range(k_hashes)
                ]
            )
        ).alias("pos"),
    )
    gram_hits = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("k_set"))
        .filter(F.col("k_set") == k_hashes)
    )
    doc_hits = gram_hits.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_flagged")
    )
    return per_doc.join(doc_hits, "id", "left").select(
        "id",
        "n_grams",
        F.coalesce(F.col("n_flagged"), F.lit(0)).alias("n_flagged"),
        (F.coalesce(F.col("n_flagged"), F.lit(0)) > 0).alias("flagged"),
    )


def heavy_hitters(
    df: DataFrame,
    content_col: str = "text",
    k: int = 200,
) -> DataFrame:
    """EXACT corpus heavy hitters — every token whose total count
    exceeds ``n_tokens / k`` — without ever shuffling the full
    vocabulary (the standard way to surface boilerplate/stop tokens and
    mass-duplicated fragments in a web-scale corpus before building a
    tokenizer or a filter list).

    A plain ``groupBy(term)`` shuffles one aggregate row per DISTINCT
    term — unbounded at 100 TB (web vocab grows with corpus size). This
    uses the two-pass Misra-Gries construction instead:

    1. **Candidate pass**: each partition runs a Misra-Gries summary
       with ``k`` counters over its own tokens inside one Arrow
       ``mapInPandas`` stage (state carried across the partition's
       batches), emitting at most ``k`` candidate terms plus its local
       token count. Pigeonhole guarantee: any term with global count
       > n/k exceeds the local threshold n_p/k in at least one
       partition, so the union of per-partition candidates is a
       SUPERSET of the true heavy hitters — under ANY partitioning.
       Shuffle volume: ≤ k terms per task, not the vocabulary.
    2. **Exact recount**: the corpus is re-tokenized once and
       inner-joined against the BROADCAST candidate set (≤ k × tasks
       rows), then exactly counted and filtered by ``count > n/k``.

    The candidate SET depends on the partition layout, but the OUTPUT
    does not: the exact recount + threshold filter keeps precisely the
    true heavy hitters, which every layout's superset contains — the
    same exact-after-approximate discipline as the IVF re-rank (x83).
    Cost: two corpus scans; the win is that no stage is
    vocabulary-sized. Oracle: plain GROUP BY / HAVING in SQL.
    """
    import pandas as pd

    # explode_outer + null-filter: see distinct_ngrams
    toks = df.select(
        F.explode_outer(fn_text.tokens(F.col(content_col))).alias("term")
    ).filter(F.col("term").isNotNull())

    def mg_partition(it):
        # Batched Misra-Gries via summary merging (Agarwal et al.,
        # "Mergeability of Summaries"): exact-count each Arrow batch with
        # a C-speed Counter, merge into the running summary, then prune
        # back to k counters by subtracting the (k+1)-th largest count
        # and dropping non-positives.  Each prune removes >= (k+1)*sub
        # mass, so the total undercount stays <= n_local/(k+1) — the
        # same guarantee as token-at-a-time decrement-all, at
        # O(|batch| + |C| log |C|) per batch instead of O(k) per
        # untracked token (the decrement-all step was O(n*k) worst case
        # on high-cardinality text).
        from collections import Counter

        counters: Counter = Counter()
        n_local = 0
        for pdf in it:
            n_local += int(len(pdf))
            counters.update(pdf["term"])
            if len(counters) > k:
                vals = sorted(counters.values(), reverse=True)
                sub = vals[k]
                counters = Counter(
                    {t: c - sub for t, c in counters.items() if c > sub}
                )
        yield pd.DataFrame(
            {
                "term": list(counters) + [None],
                "n_local": [0] * len(counters) + [n_local],
            }
        )

    # one candidate-pass job; the summary is ≤ k × tasks rows + one
    # count row per task — collect it (model-sized, like the tokenizer
    # vocab collects) so the returned plan holds a LITERAL candidate
    # relation instead of a re-executable MG subtree
    rows = toks.mapInPandas(
        mg_partition, "term STRING, n_local BIGINT"
    ).collect()
    n_total = sum(r["n_local"] for r in rows)
    cand_terms = sorted({r["term"] for r in rows if r["term"] is not None})
    spark = df.sparkSession
    cands = spark.createDataFrame(
        [(t,) for t in cand_terms] or [(None,)], "term STRING"
    ).filter(F.col("term").isNotNull())
    return (
        toks.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > F.lit(n_total / k))
        .select("term", "cnt", F.lit(int(n_total)).alias("n_tokens"))
    )


def cms_bucket_entries(term: Column, depth: int, width: int) -> Column:
    """The Count-Min (row, bucket) entries of a term as a LITERAL-length
    array of structs: bucket_r = pmod(xxhash64(term, lit(r)), width).
    Shared by the batch sketch (``cms_term_estimates``) and the
    streaming sketch (s21) so both sides hash identically; reproduced
    independently in tools/make_goldens.py (xxh64_int) for the oracles."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(F.xxhash64(term, F.lit(r)), F.lit(width)).alias("b"),
            )
            for r in range(depth)
        ]
    )


def cms_term_estimates(
    df: DataFrame,
    content_col: str = "text",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Count-Min sketch term-frequency estimation next to the exact
    counts (Cormode & Muthukrishnan 2005) — the MERGEABLE-summary
    counterpart of ``heavy_hitters``'s exact Misra-Gries pass: the
    sketch is a ``depth × width`` int64 counter table whose cells are
    plain sums, so per-batch/per-day sketches merge by cell-wise
    addition and the estimate ``min_r counter[r][h_r(term)]`` is a
    provable OVER-estimate (est >= exact always; within eps·n with
    probability 1-delta for width=e/eps, depth=ln(1/delta)).

    Row hashes are Spark's ``xxhash64(term, lit(r))`` (the int-remix
    chain) projected to a bucket with ``pmod`` — reproduced
    independently by ``tools/make_goldens.py`` so the x95 oracle can
    re-derive the whole sketch in SQL from committed per-term buckets.

    Scale shape: one token-explode + term groupBy produces the distinct
    term counts (the only corpus-sized shuffle, identical to x89's
    recount); the bucket explode is a LITERAL-length array (depth
    entries) over the distinct-term table; the sketch itself is at most
    depth·width rows — broadcast back for the estimate join. Every
    value is an int64 count: layout-invariant by construction.

    Returns (term, exact, est) for every distinct term.
    """
    toks = df.select(
        # explode_outer + drop-NULL, never a plain explode of the
        # variable-length tokens() array (CLAUDE.md rule 2b)
        F.explode_outer(fn_text.tokens(F.col(content_col))).alias("term")
    ).filter(F.col("term").isNotNull())
    # shared_frame: the vocabulary-sized count table feeds BOTH the
    # sketch build and the estimate join, and exchange reuse does not
    # bridge the two branches — without it the corpus-sized
    # tokenize+explode pass runs twice. The stored table is tiny
    # (one row per distinct term) and its stats become truthful.
    tc = shared_frame(
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact")), eager=True
    )
    rows = tc.select(
        "term",
        "exact",
        F.explode(cms_bucket_entries(F.col("term"), depth, width)).alias("rb"),
    ).select("term", "exact", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    sketch = rows.groupBy("r", "b").agg(F.sum("exact").alias("counter"))
    return (
        rows.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("term", "exact")
        .agg(F.min("counter").alias("est"))
        .select("term", "exact", "est")
    )


# --------------------------------------------------------------------------
# HyperLogLog register sketches (mergeable distinct-count summaries)
# --------------------------------------------------------------------------

#: rho values are clamped here before registers are compared/summed.
#: P(rho > 50) ~ 2^-50 per item, so the bias is unobservable, and the
#: clamp keeps the inverse-power numerator an EXACT int64
#: (256 * 2^50 = 2^58 < 2^63) on both Spark and the DuckDB oracle —
#: rule 3b: goldens flow through integer arithmetic, never float sums.
HLL_RHO_CLAMP = 50


def hll_register_entries(key: Column, p: int = 8) -> tuple[Column, Column]:
    """(bucket, rho) HyperLogLog register coordinates of a hashed item
    (Flajolet/Fusy/Gandouet/Meunier 2007): bucket = the top ``p`` bits
    of ``xxhash64(key)``, rho = 1 + leading zeros of the remaining
    64-p bits (i.e. ``64-p+1 - bit_length(rest)``), clamped to
    ``HLL_RHO_CLAMP``.  Pure JVM expressions (xxhash64 + shifts +
    ``bin()`` length — no UDF); reproduced independently in
    tools/make_goldens.py (xxh64_bytes) for the x111 oracle."""
    if not 4 <= p <= 12:
        raise ValueError("HLL precision p must be in 4..12")
    h = F.xxhash64(key)
    bucket = F.shiftrightunsigned(h, 64 - p).cast("int")
    rest = h.bitwiseAND(F.lit((1 << (64 - p)) - 1))
    q1 = 64 - p + 1
    rho = (
        F.when(rest == 0, F.lit(q1))
        .otherwise(F.lit(q1) - F.length(F.bin(rest)))
        .cast("int")
    )
    return bucket, F.least(rho, F.lit(HLL_RHO_CLAMP))


def hll_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog sketch as a SPARSE register table:
    (group..., bucket, register) with register = max rho over the
    group's items; absent buckets mean register 0.

    The mergeable-summary counterpart of ``cms_term_estimates`` for
    DISTINCT counts: registers merge by cell-wise MAX (``hll_merge``),
    so per-day/per-source sketches roll up without rescanning — the
    100 TB shape is one partial-aggregating groupBy whose shuffle
    carries at most 2^p rows per group per map partition instead of
    one row per distinct item (what exact count-distinct shuffles).
    Every value is an int: layout-invariant by construction.

    NULL keys are EXCLUDED, mirroring ``count(DISTINCT ...)`` — without
    the filter Spark's ``xxhash64(NULL)`` passes the seed hash through
    and every NULL would silently count as one extra distinct item."""
    bucket, rho = hll_register_entries(F.col(key_col), p)
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("__rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("__rho").alias("register"))
    )


def hll_merge(sketch: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketch rows (e.g. a union of per-day register tables, or
    one table re-grouped to coarser keys) by cell-wise MAX — the HLL
    merge operation; associative/commutative/idempotent, so compaction
    order never changes the answer."""
    return sketch.groupBy(*group_cols, "bucket").agg(
        F.max("register").alias("register")
    )


def hll_stats(
    sketch: DataFrame, group_cols: list[str], p: int = 8
) -> DataFrame:
    """Exact-integer summary of a register table per group:
    ``nonzero_buckets``, ``register_sum``, and ``inv_numer`` =
    sum over all 2^p registers of 2^(HLL_RHO_CLAMP - register) — the
    harmonic-mean numerator of the raw HLL estimate scaled by
    2^HLL_RHO_CLAMP so it is an EXACT int64 (absent buckets contribute
    2^HLL_RHO_CLAMP each).  ``hll_estimate`` turns it into the float
    estimate; the contract query exposes only the integer columns so
    the oracle hash never touches a float reduction (rule 3b)."""
    m = 1 << p
    c = HLL_RHO_CLAMP
    return (
        sketch.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("nonzero_buckets"),
            F.sum("register").cast("long").alias("register_sum"),
            F.sum(F.expr(f"shiftleft(1L, {c} - register)"))
            .cast("long")
            .alias("__present"),
        )
        .select(
            *group_cols,
            "nonzero_buckets",
            "register_sum",
            (
                F.col("__present")
                + (F.lit(m) - F.col("nonzero_buckets")) * F.lit(1 << c)
            ).cast("long").alias("inv_numer"),
        )
    )


def hll_estimate(inv_numer: int, p: int = 8) -> float:
    """Raw HLL estimate from the integer numerator ``hll_stats``
    produces: alpha_m * m^2 / (inv_numer / 2^CLAMP).  No small-range
    linear-counting correction (document at call sites); driver-side
    scalar math, used by tests and consumers, never by oracle hashes."""
    m = 1 << p
    if p == 8:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    elif p == 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << HLL_RHO_CLAMP) / float(inv_numer)


# --------------------------------------------------------------------------
# q-digest (mergeable quantile sketches over a fixed integer universe)
# --------------------------------------------------------------------------

# The fourth mergeable-summary family member next to CMS (point
# frequencies), Misra-Gries (heavy hitters) and HLL (distinct counts):
# quantiles.  Q-digest (Shrivastava, Buragohain, Agrawal, Suri 2004,
# "Medians and Beyond") over a fixed integer universe [0, 2^u): cells
# are the nodes of the complete binary tree over the universe (heap
# ids — leaf v is cell 2^u + v, parent(c) = c // 2), each carrying an
# EXACT int64 count; compression pushes light sibling pairs into their
# parent bottom-up until every merged pair would reach the threshold
# t = max(1, n // k), leaving O(k * u) cells whose rank uncertainty is
# bounded by u * t.
#
# Why q-digest and not KLL/GK: KLL's compactor keeps alternate items
# of a RANDOMLY-offset sorted run and GK's summary depends on arrival
# order, so both sketches are functions of the data LAYOUT — they can
# never satisfy this repo's determinism rule (CLAUDE.md 3b: every
# golden-keyed value must be layout-invariant under 1/7/32-partition
# sweeps).  The q-digest is a pure function of the input MULTISET:
# leaf counts are exact distributive sums, and the bottom-up
# compression sweep is canonical (per-level decisions depend only on
# (parent, sibling) counts, processed leaves-up), so the sketch table
# hashes identically under any partitioning AND is re-derivable in
# oracle SQL (the x115 oracle unrolls the per-level sweep as chained
# CTEs).  Merge = cell-wise SUM + recompress — the documented monoid:
# associative and commutative because the sum is, and recompression is
# a function of the summed multiset.


def qdigest_leaves(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    universe_bits: int = 12,
) -> DataFrame:
    """Exact per-group leaf-cell counts: (group..., cell, cnt) with
    cell = 2^u + value (heap id of the value's leaf).  Values must be
    integers in [0, 2^u) — out-of-range or fractional values RAISE
    (rule 5: no silent clamping; callers owning a wider domain clamp
    or rescale explicitly).  NULLs are excluded, as every aggregate
    here does.  This is the streaming-monoid layer: leaf tables merge
    by plain cell-wise SUM (the s26 streaming query aggregates exactly
    this under Structured Streaming's complete mode)."""
    # cap at 20: a group's compression batch materializes up to
    # 2^u + input cells in one Arrow batch (u=20 -> ~1M cells ~ 16 MB,
    # still model-sized; 24 would allow 16M-cell batches)
    if not 2 <= universe_bits <= 20:
        raise ValueError("qdigest: universe_bits must be in 2..20")
    u = 1 << universe_bits
    v = F.col(value_col).cast("long")
    ok = (v >= 0) & (v < u) & (v == F.col(value_col).cast("double"))
    guarded = F.when(ok, v).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"qdigest: value out of universe [0, {u}) or "
                    f"non-integer: "
                ),
                F.col(value_col).cast("string"),
            )
        )
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, (guarded + F.lit(u)).alias("cell"))
        .groupBy(*group_cols, "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def qdigest_compress(
    cells: DataFrame,
    group_cols: list[str],
    universe_bits: int = 12,
    k: int = 64,
) -> DataFrame:
    """Canonical bottom-up q-digest compression of a cell-count table
    (leaf tables from ``qdigest_leaves`` or summed unions of already
    compressed digests): per group, for depth u down to 1, a sibling
    pair merges into its parent iff
    ``cnt(left) + cnt(right) + cnt(parent) < t`` with
    ``t = max(1, n // k)`` — the Shrivastava et al. digest property.
    Runs per group in one Arrow batch (a group's cell table is at most
    2^u + compressed-input rows — model-sized); the result is a pure
    function of the input multiset, so it is layout-invariant and
    SQL-re-derivable.  Output: (group..., cell, cnt), exact int64."""
    import pandas as pd

    u_bits = universe_bits

    out_fields = ", ".join(
        [f"`{c}` {t}" for c, t in cells.select(*group_cols).dtypes]
        + ["cell BIGINT", "cnt BIGINT"]
    )

    def _compress(pdf: pd.DataFrame) -> pd.DataFrame:
        c = dict(zip(pdf["cell"].astype(int), pdf["cnt"].astype(int)))
        n = sum(c.values())
        t = max(1, n // k)
        for depth in range(u_bits, 0, -1):
            lo_id, hi_id = 1 << depth, 1 << (depth + 1)
            parents = {
                cell >> 1 for cell in c if lo_id <= cell < hi_id
            }
            for p in parents:
                cl = c.get(2 * p, 0)
                cr = c.get(2 * p + 1, 0)
                if cl + cr + c.get(p, 0) < t:
                    c[p] = c.get(p, 0) + cl + cr
                    c.pop(2 * p, None)
                    c.pop(2 * p + 1, None)
        head = pdf.iloc[:1][[g for g in pdf.columns if g not in ("cell", "cnt")]]
        cells_sorted = sorted(c)
        out = pd.DataFrame(
            {
                "cell": pd.Series(cells_sorted, dtype="int64"),
                "cnt": pd.Series([c[x] for x in cells_sorted], dtype="int64"),
            }
        )
        for g in head.columns:
            out[g] = head[g].iloc[0]
        return out[list(head.columns) + ["cell", "cnt"]]

    if group_cols:
        return cells.groupBy(*group_cols).applyInPandas(_compress, out_fields)
    return (
        cells.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(_compress, "__g INT, cell BIGINT, cnt BIGINT")
        .drop("__g")
    )


def qdigest_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    universe_bits: int = 12,
    k: int = 64,
) -> DataFrame:
    """Build a per-group q-digest: exact leaf counts, then canonical
    compression.  (group..., cell, cnt) — every value an exact int64,
    layout-invariant by construction."""
    return qdigest_compress(
        qdigest_leaves(df, value_col, group_cols, universe_bits),
        group_cols,
        universe_bits,
        k,
    )


def qdigest_merge(
    sketches: DataFrame,
    group_cols: list[str],
    universe_bits: int = 12,
    k: int = 64,
) -> DataFrame:
    """Merge a union of digest tables (per-day generations, finer
    groups rolled up to coarser keys, ...) — cell-wise SUM, then
    canonical recompression at the merged totals.  Associative and
    commutative: the sum is, and compression only sees the summed
    multiset — compaction order never changes the answer (the HLL/CMS
    merge discipline, x111/x95)."""
    summed = sketches.groupBy(*group_cols, "cell").agg(
        F.sum("cnt").alias("cnt")
    )
    return qdigest_compress(summed, group_cols, universe_bits, k)


def _cell_bounds(universe_bits: int) -> tuple[Column, Column]:
    """(lo, hi) value range of the heap cell id in column ``cell`` —
    exact integer bit arithmetic (depth from bin-string length, never
    float log2; SQL ``shiftleft`` accepts a column-valued bit count,
    unlike the PySpark wrapper)."""
    u = int(universe_bits)
    depth = f"(length(bin(cell)) - 1)"
    lo = F.expr(
        f"shiftleft(cell - shiftleft(1L, {depth}), {u} - {depth})"
    )
    hi = F.expr(
        f"shiftleft(cell - shiftleft(1L, {depth}), {u} - {depth})"
        f" + shiftleft(1L, {u} - {depth}) - 1"
    )
    return lo, hi


def qdigest_quantiles(
    digest: DataFrame,
    group_cols: list[str],
    ps: dict[str, float],
    universe_bits: int = 12,
) -> DataFrame:
    """Quantile estimates from a digest: cells sorted postorder
    (hi ascending, lo descending — children before parents), counts
    prefix-summed, and each requested fraction returns the hi value of
    the first cell whose cumulative count reaches
    ``max(1, ceil(p * n))`` (the percentile_disc rank arithmetic).
    Estimates are exact int64 universe values with rank error bounded
    by the digest (≤ u · t); one skinny window per group."""
    from pyspark.sql import Window

    lo, hi = _cell_bounds(universe_bits)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.asc("__hi"), F.desc("__lo"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    ranked = digest.select(
        *group_cols,
        lo.alias("__lo"),
        hi.alias("__hi"),
        "cnt",
    ).select(
        *group_cols,
        "__hi",
        F.sum("cnt").over(w).alias("__cum"),
        F.sum("cnt").over(w_all).alias("__n"),
    )
    aggs = []
    for a, p in ps.items():
        target = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(float(p)) * F.col("__n").cast("double")),
        )
        aggs.append(
            F.min(F.when(F.col("__cum") >= target, F.col("__hi"))).alias(a)
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def qdigest_ranks(
    digest: DataFrame,
    group_cols: list[str],
    probes: Sequence[int],
    universe_bits: int = 12,
) -> DataFrame:
    """Rank lower bounds from a digest: for each probe x,
    ``rank_lb = Σ cnt over cells entirely ≤ x`` — guaranteed
    ``rank_lb ≤ true_rank(x) ≤ rank_lb + u · t`` (cells straddling x
    are the only uncertainty, one per tree level, each ≤ t).  Exact
    integer output: (group..., probe, rank_lb, n)."""
    lo, hi = _cell_bounds(universe_bits)
    probe_col = F.explode(
        F.array(*[F.lit(int(x)).cast("long") for x in probes])
    ).alias("probe")
    cells = digest.select(*group_cols, hi.alias("__hi"), "cnt", probe_col)
    return cells.groupBy(*group_cols, "probe").agg(
        F.sum(F.when(F.col("__hi") <= F.col("probe"), F.col("cnt"))
              .otherwise(F.lit(0))).alias("rank_lb"),
        F.sum("cnt").alias("n"),
    )
