"""Deduplication operators for large-scale corpus curation.

Five strategies, all Spark-first (built-in expressions; the only shuffles
are the LSH bucket joins and the final groupBys):

* ``exact_dedup``          — hash-groupBy on normalized content
* ``minhash_lsh_pairs``    — char-shingle MinHash + banded LSH candidate
                             join + exact-Jaccard verification
* ``simhash``/``simhash_pairs`` — 64-bit SimHash + chunk-equality banding +
                             Hamming-distance verification
* ``ngram_jaccard_pairs``  — exact n-gram Jaccard over LSH candidates
                             (the verification half of MinHash, reusable
                             standalone)
* ``embedding_pairs``      — random-hyperplane LSH over an embedding
                             column + cosine verification

Scale notes: every strategy is (shingle/signature computation: narrow) →
(explode bands: ×B rows) → (self-join on band key: shuffle on a short hash
key) → (verify: narrow). Candidate counts are controlled by band geometry
(B bands × R rows, P(match | jaccard=s) = 1-(1-s^R)^B). Skewed buckets
(boilerplate shingles) are handled by AQE skew-join + an optional bucket
size cap.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modis_aggregation_spark.functions.layout import spread_small_scan
from modis_aggregation_spark.functions.materialize import (
    loop_frame,
    release,
    shared_frame,
)
from modis_aggregation_spark.functions.text import char_shingles, fingerprint, tokens


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row (lowest id) per distinct normalized content.

    One shuffle on the 64-bit fingerprint; survivors keep all columns.
    """
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp", fingerprint(F.col(content_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def shingle_hashes(text: Column, k: int = 5) -> Column:
    """Distinct 64-bit hashes of the char k-shingles — ONE string-hashing
    pass; every downstream MinHash family member remixes these longs."""
    return F.array_distinct(
        F.transform(char_shingles(text, k), lambda s: F.xxhash64(s))
    )


def _remix(seed: int):
    """Hash-family member i: rehash the shingle hash with a seed. Long
    input → much cheaper than re-hashing the shingle strings num_hashes
    times. (Single-arg lambda factory: a 2-param lambda — even with a
    default-valued closure capture — is read by pyspark as the
    (element, index) form.)"""
    return lambda h: F.xxhash64(h, F.lit(seed))


def _shingle_hash_frame(
    df: DataFrame, content_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, sh) with the shingle hashing staged through MATERIALIZED
    columns. Expressions inlined into higher-order-function lambdas are
    re-evaluated per array element (Catalyst does not CSE into lambdas), so
    building shingles directly over the regexp-normalized expression costs
    one regexp_replace PER SHINGLE; staging ``__norm`` as a column first
    makes the lambda read an attribute instead (~20× faster measured)."""
    norm = F.regexp_replace(F.lower(F.col(content_col)), r"\s+", " ")
    staged = df.select(F.col(id_col).alias("id"), norm.alias("__norm"))
    idx = F.sequence(F.lit(1), F.greatest(F.length("__norm") - (k - 1), F.lit(1)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(F.col("__norm").substr(i, F.lit(k))))
    )
    return staged.select("id", sh.alias("sh"))


def signature_from_hashes(hs: Column, num_hashes: int = 32) -> Column:
    """MinHash signature from an ARRAY<BIGINT> of shingle hashes: element i
    is min over shingles of xxhash64(h, i). Pass a MATERIALIZED column."""
    return F.array(
        *[F.array_min(F.transform(hs, _remix(i))) for i in range(num_hashes)]
    )


def minhash_signature(text: Column, num_hashes: int = 32, k: int = 5) -> Column:
    """ARRAY<BIGINT> MinHash signature over char k-shingles — one JVM
    expression (one string-hash pass + long remixes), no UDF, no explode.
    Prefer the staged path in ``minhash_lsh_pairs`` for bulk use."""
    return signature_from_hashes(shingle_hashes(text, k), num_hashes)


def _band_keys(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """ARRAY<STRUCT<band:int, key:bigint>> — one LSH key per band."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[sig.getItem(b * rows_per_band + r) for r in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(num_bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / F.nullif(F.size(a) + F.size(b) - inter, F.lit(0))


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 5,
) -> DataFrame:
    """The MinHash signatures table ``(id, sh, sig)`` — shingle hashes plus
    the ``num_hashes``-long signature, both ARRAY<BIGINT>.

    Bulk pipelines should compute this ONCE, materialize it (write to a
    table, or persist + manage the cache), and hand it to
    ``minhash_lsh_pairs(signatures=…)`` — repeated inline invocations would
    otherwise re-shingle the corpus on every call. At 100 TB this table is
    ~(k·|sh| + 8·num_hashes) B/doc and is the natural incremental
    artifact: new batches append signatures and join against the existing
    table's band keys.

    Hashing is CPU-bound (|shingles| × num_hashes remixes per doc), so the
    stage must run at cluster parallelism: when the scan yields fewer
    partitions than ``defaultParallelism`` (small-file corpora — one
    parquet file serializes the whole build onto one core), the input is
    repartitioned up front. At real corpus scale the scan already has
    thousands of partitions and no shuffle is added.
    """
    n = df.rdd.getNumPartitions()
    p = df.sparkSession.sparkContext.defaultParallelism
    if n < p:
        df = df.repartition(p)
    return _shingle_hash_frame(df, content_col, id_col, k).withColumn(
        "sig", signature_from_hashes(F.col("sh"), num_hashes)
    )


def minhash_lsh_pairs(
    df: DataFrame | None = None,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    k: int = 5,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    shingle → hash → signature → explode band keys → skinny self-join per
    (band, key) → dedupe candidate pairs → verify with exact Jaccard over
    the HASHED shingle sets (equal to string-shingle Jaccard barring 64-bit
    collisions — the standard trade). ``max_bucket``
    caps pathological buckets (boilerplate) — capped buckets are dropped,
    trading recall for bounded worst-case join fan-out; at 100 TB this is the
    difference between a bounded shuffle and a quadratic blow-up.

    Pass ``signatures`` (a ``minhash_signatures`` frame, ideally already
    materialized) to skip the shingle/signature computation; its
    ``num_hashes`` must match. Without it, the signatures are built inline
    as a ``shared_frame`` of this call: both branches read one stored
    copy, and nothing outlives the returned plan — a repeat call
    re-shingles.  Bulk pipelines materialize the signatures table once
    and pass it in.
    """
    rows_per_band = num_hashes // num_bands
    if signatures is not None:
        base = signatures
    elif df is None:
        raise ValueError("pass a source DataFrame or a signatures frame")
    else:
        # reused by the band branch and the candidate-verification branch —
        # shared so shingling/signatures run once per returned plan
        base = shared_frame(
            minhash_signatures(df, content_col, id_col, num_hashes, k)
        )
    # the band self-join shuffles ONLY (id, band, key) — the shingle arrays
    # (the wide payload) are fetched once per candidate pair below; at
    # corpus scale this is the difference between shuffling ~24 B/row×B
    # and shuffling the whole corpus B times
    banded = base.select(
        "id",
        F.explode(_band_keys(F.col("sig"), num_bands, rows_per_band)).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    # cap pathological buckets via anti-join against the (tiny) set of
    # oversized (band, key) pairs — unlike a count-window this needs no
    # per-partition sort, and the oversized set broadcasts
    big = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__bc"))
        .filter(F.col("__bc") > max_bucket)
        .select("band", "key")
    )
    capped = banded.join(F.broadcast(big), ["band", "key"], "left_anti")
    # the capped band-key frame feeds BOTH self-join sides; inline, each
    # side re-ran the explode + the bucket-count aggregation + the anti
    # join (2 full band passes, 2 count shuffles — round 12, measured
    # 1.66 -> 1.26 s at sf0.1).  Materialize it LAZILY: the first
    # consumer computes it once, the other side reads the blocks — no
    # extra barrier job.  The rows are exactly the skinny (id, band,
    # key) triples the join shuffles anyway (~24 B x num_bands per doc),
    # so the materialization is scale-safe at any corpus size, and the
    # now-exact size statistics stop the planner electing a broadcast
    # it could not afford at real scale (CLAUDE.md rule 9's failure
    # mode) — the 1000-row bucket cap keeps collision mass bounded
    # either way.
    capped = shared_frame(capped)

    # same-lineage alias self-join (not two select-renamed copies)
    lhs, rhs = capped.alias("l"), capped.alias("r")
    cand = lhs.join(
        rhs,
        on=[
            F.col("l.band") == F.col("r.band"),
            F.col("l.key") == F.col("r.key"),
            F.col("l.id") < F.col("r.id"),
        ],
    ).select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    # a pair matching in several bands is verified per band and deduped
    # LAST: the duplicate factor is ≤ num_bands of pure CPU (array
    # intersects), while a pre-verify distinct inserts a stage barrier
    # between the skinny join and the payload fetch that measured ~4×
    # slower end-to-end at small scale; no extra shuffle of the signature
    # table either way
    sh = base.select("id", "sh")
    return (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_incremental(
    new_df: DataFrame | None = None,
    index_signatures: DataFrame | None = None,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    k: int = 5,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    new_signatures: DataFrame | None = None,
    index_banded: DataFrame | None = None,
    index_band_counts: DataFrame | None = None,
    index_buckets: int | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH dedup of a NEW batch against a
    MATERIALIZED signature index — the production shape: yesterday's
    corpus is indexed once (``minhash_signatures`` written to a table),
    and today's batch joins against it WITHOUT recomputing or
    re-shingling the indexed documents.  Closes the gap between the
    batch dedup stack (x5/x30) and the streaming/incremental story
    (s7 covers exact-hash only).

    Output: one row per new-batch document —

        (id, n_index_dups, n_batch_prior_dups, keep)

    where ``n_index_dups`` counts verified near-dup partners in the
    index, ``n_batch_prior_dups`` counts verified partners WITHIN the
    new batch having a smaller id, and ``keep`` is true iff both are
    zero (the greedy drop-if-any-prior-match rule: deterministic and
    single-pass, unlike the transitive-closure keep-one of
    ``dedup_by_pairs`` — a doc matching only a DROPPED prior doc is
    still dropped; chains wanting CC semantics run x30 on the batch
    survivors).  The pair set examined is exactly the pair set a batch
    ``minhash_lsh_pairs`` run over index ∪ batch would examine, minus
    the index-index pairs (bucket caps are computed over the UNION's
    band keys, so capping behavior is identical); the index side's
    shingles/signatures are read from the artifact, never recomputed.

    Scale shape: both band-key explosions shuffle skinny (id, band,
    key) rows; the oversized-bucket set broadcasts into LEFT ANTI caps
    on each side; the asymmetric new×index and the intra-batch
    new×new joins are equi-joins on (band, key); shingle arrays are
    fetched per candidate (id-keyed joins), never shuffled with the
    band keys.  Index-index pairs are never formed — the whole point:
    daily cost is O(batch × collision rate), not O(corpus²).

    Pass ``index_banded`` (the pre-exploded ``(id, band, key)`` frame —
    ``minhash_index_read``'s second return, a table BUCKETED by
    ``(band, key)``) and the daily band join runs with NO index-side
    exchange at all: the bucketed scan's hash-partitioning already
    satisfies the join's required distribution, so only the (small)
    new batch shuffles.  Pass ``index_band_counts`` (the third
    ``minhash_index_read`` return: per-(band, key) index occupancy,
    same bucketing) and the bucket-cap check also stops re-counting
    the index: union-counts become index-count + batch-count via a
    full-outer join that is exchange-free on the index side —
    semantically identical capping (counts over index ∪ batch),
    since the two sides partition the union.  With both passed, NO
    index-side row moves through any exchange in the whole daily
    plan; at 100 TB this is the difference between re-exchanging the
    corpus-sized band-key table every day and shuffling just the
    day's arrivals (SCALING.md §incremental-LSH).  Both must have
    been derived from the SAME ``index_signatures`` artifact with the
    same ``num_bands`` — the caller owns that consistency
    (``minhash_index_write`` writes the triple in one call, though its
    three table writes are sequential — see its docstring for the
    completion-marker semantics).
    ``index_buckets`` (the artifact's bucket count) pre-aligns the
    batch-side count aggregation's partitioning to the index layout;
    without it Spark sees two valid (band, key) partitionings with
    mismatched partition counts and re-shuffles the SMALLER side —
    the index — to the session's shuffle parallelism.
    """
    rows_per_band = num_hashes // num_bands
    if index_signatures is None:
        raise ValueError("pass index_signatures (a minhash_signatures frame)")
    if new_signatures is not None:
        new_sigs = new_signatures
    elif new_df is None:
        raise ValueError("pass a new-batch DataFrame or new_signatures")
    else:
        new_sigs = shared_frame(
            minhash_signatures(new_df, content_col, id_col, num_hashes, k)
        )

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "id",
            F.explode(
                _band_keys(F.col("sig"), num_bands, rows_per_band)
            ).alias("bk"),
        ).select(
            "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )

    new_banded = banded(new_sigs)
    idx_banded = (
        index_banded.select("id", "band", "key")
        if index_banded is not None
        else banded(index_signatures)
    )
    # bucket sizes over the UNION — identical capping to a batch run on
    # index ∪ batch; the oversized set is tiny and broadcasts
    if index_band_counts is not None:
        # pre-aggregated index occupancy: union-count = index n + batch n
        # per key (full-outer: a key may exist on only one side).  The
        # join is exchange-free on the index side when the counts table
        # is (band, key)-bucketed; only the batch's distinct keys shuffle.
        cnt_src = (
            new_banded.repartition(index_buckets, "band", "key")
            if index_buckets
            else new_banded
        )
        new_cnt = (
            cnt_src.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__bn"))
        )
        big = (
            index_band_counts.select("band", "key", F.col("n").alias("__bi"))
            .join(new_cnt, ["band", "key"], "full_outer")
            .filter(
                F.coalesce("__bi", F.lit(0)) + F.coalesce("__bn", F.lit(0))
                > max_bucket
            )
            .select("band", "key")
        )
    else:
        big = (
            new_banded.unionByName(idx_banded)
            .groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__bc"))
            .filter(F.col("__bc") > max_bucket)
            .select("band", "key")
        )
    capped_new = new_banded.join(F.broadcast(big), ["band", "key"], "left_anti")
    capped_idx = idx_banded.join(F.broadcast(big), ["band", "key"], "left_anti")

    cand_index = (
        capped_new.alias("l")
        .join(
            capped_idx.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
            ],
        )
        .select(
            F.col("l.id").alias("nid"),
            F.col("r.id").alias("pid"),
            F.lit(False).alias("partner_new"),
        )
    )
    cand_batch = (
        capped_new.alias("l")
        .join(
            capped_new.alias("r"),
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
                F.col("r.id") < F.col("l.id"),
            ],
        )
        .select(
            F.col("l.id").alias("nid"),
            F.col("r.id").alias("pid"),
            F.lit(True).alias("partner_new"),
        )
    )
    sh_n = new_sigs.select(F.col("id").alias("nid"), F.col("sh").alias("sh_n"))

    def fetch(cand: DataFrame, partner_sigs: DataFrame) -> DataFrame:
        return (
            cand.dropDuplicates(["nid", "pid"])
            .join(sh_n, "nid")
            .join(
                partner_sigs.select(
                    F.col("id").alias("pid"), F.col("sh").alias("sh_p")
                ),
                "pid",
            )
        )

    if index_banded is not None:
        # artifact mode: dedupe and fetch partner shingles PER SIDE so the
        # index sigs table is probed by an id-equi-join alone (bucketed by
        # id → no index-side exchange), never unioned into a shuffle.  Id
        # spaces are disjoint between index and batch, so the per-side
        # dedupe keeps the same pairs as a union-wide one.  Each side's
        # candidate join also stays a single subtree: split after a shared
        # union, the batch branch inherits the materialized batch's source
        # filter as an inferred id constraint, which defeats exchange
        # reuse and re-ran the whole candidate join (index bands scanned
        # twice).
        fetched = fetch(cand_index, index_signatures).unionByName(
            fetch(cand_batch, new_sigs)
        )
    else:
        fetched = fetch(
            cand_index.unionByName(cand_batch),
            index_signatures.select("id", "sh").unionByName(
                new_sigs.select("id", "sh")
            ),
        )
    verified = (
        fetched.withColumn("__j", jaccard(F.col("sh_n"), F.col("sh_p")))
        .filter(F.col("__j") >= threshold)
        .groupBy("nid")
        .agg(
            F.sum(
                F.when(~F.col("partner_new"), 1).otherwise(0)
            ).cast("long").alias("n_index_dups"),
            F.sum(
                F.when(F.col("partner_new"), 1).otherwise(0)
            ).cast("long").alias("n_batch_prior_dups"),
        )
    )
    return (
        new_sigs.select("id")
        .join(verified, new_sigs["id"] == verified["nid"], "left")
        .select(
            "id",
            F.coalesce("n_index_dups", F.lit(0).cast("long")).alias(
                "n_index_dups"
            ),
            F.coalesce("n_batch_prior_dups", F.lit(0).cast("long")).alias(
                "n_batch_prior_dups"
            ),
            (
                F.coalesce("n_index_dups", F.lit(0)) + F.coalesce(
                    "n_batch_prior_dups", F.lit(0)
                ) == 0
            ).alias("keep"),
        )
    )


def minhash_index_update(
    index_signatures: DataFrame,
    survivor_signatures: DataFrame,
    broadcast_delete: bool = True,
) -> DataFrame:
    """Merge a batch's SURVIVING signatures into the materialized index —
    the maintenance half of the incremental story (round-8 VERDICT item
    5: ``minhash_lsh_incremental`` consumes the index; this produces
    tomorrow's).  Last-writer-wins upsert by id — the ``stream_upsert``
    / s14 MERGE shape applied to the ``minhash_signatures`` artifact:
    any re-ingested id's old row is deleted (idempotent replay — re-
    running a day's update REPLACES rather than duplicates), then the
    survivors append.

    Both inputs are signature frames ``(id, sh, sig)``; document text
    never appears in either, so neither side can be re-shingled by
    construction (the x93 plan lock asserts the produced plan carries
    no text column and no hash expressions at all).

    Scale shape: the index side is never shuffled — the survivor id set
    is batch-sized and skinny (8 B/row) and broadcasts into a LEFT ANTI
    delete; the union is partition-local.  Writing the result back over
    the index artifact is the daily compaction.  Past ~100M ids/day the
    broadcast stops being free: pass ``broadcast_delete=False`` and the
    delete becomes a planner-chosen shuffle anti-join — with the index
    stored id-bucketed (``minhash_index_write``'s ``_sigs`` table) the
    index side STILL never exchanges (the bucketed scan satisfies the
    join's distribution; only the batch-sized survivor ids shuffle, to
    the bucket count — plan-locked in tests/test_plan_regressions.py::
    test_index_update_shuffle_delete_no_index_exchange).
    """
    surv = survivor_signatures.select("id", "sh", "sig")
    del_ids = surv.select("id")
    if broadcast_delete:
        del_ids = F.broadcast(del_ids)
    return index_signatures.select("id", "sh", "sig").join(
        del_ids, "id", "left_anti"
    ).unionByName(surv)


def minhash_index_append(
    signatures: DataFrame, path: str, generation: int
) -> None:
    """Append a batch's signatures as a new GENERATION of the index —
    the zero-rewrite daily maintenance (SCALING.md: "zero rewrite at
    all if the index is stored as id-bucketed files and the update
    appends a new bucket generation; compact weekly").  Where
    ``minhash_index_update`` rewrites the whole artifact every day
    (streaming the full (k·|sh|+256) B/doc index through the
    compaction), this writes ONLY the day's batch: signatures land
    under ``path/gen=<generation>/`` and existing generations are
    never touched.  A re-ingested id simply appears again in a newer
    generation — ``minhash_index_latest`` resolves last-writer-wins
    at read time.  The trade is read amplification: every read pays
    one window shuffle over (id, gen) until the weekly
    ``minhash_index_write`` compaction folds the generations back
    into the bucketed layout."""
    generation_append(signatures, path, generation, ["id", "sh", "sig"])


def generation_append(
    df: DataFrame, path: str, generation: int, cols: list[str]
) -> None:
    """Generic zero-rewrite generation append — the machinery behind
    ``minhash_index_append`` and the image-side ``dhash_index_append``
    (operators/multimodal.py, round 12): the batch's ``cols`` land
    under ``path/gen=<generation>/``; existing generations are never
    touched.  ``cols`` must start with the id column used for
    last-writer-wins resolution."""
    (
        df.select(*cols)
        .withColumn("gen", F.lit(int(generation)))
        .write.mode("append")
        .partitionBy("gen")
        .parquet(path)
    )


def generation_latest(
    spark: "SparkSession", path: str, cols: list[str], id_col: str = "id"
) -> DataFrame:
    """Generic last-writer-wins read over a ``generation_append``
    artifact: the newest ``gen`` partition owning an id defines its
    row.  One window shuffle on the id; content columns are DATA here,
    never recomputed."""
    df = spark.read.parquet(path)
    w = Window.partitionBy(id_col).orderBy(F.col("gen").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*cols)
    )


def minhash_index_latest(spark: "SparkSession", path: str) -> DataFrame:
    """(id, sh, sig) — the LATEST-generation row per id from a
    ``minhash_index_append`` artifact (last-writer-wins: the newest
    ``gen`` partition owning an id defines its signature; a replayed
    append of the same generation is harmless — equal-gen duplicates
    carry identical content by construction).  One window shuffle on
    id; no text, no hash expressions (the x93 invariant — signatures
    are data here, never recomputed).  Feed the result to
    ``minhash_lsh_incremental`` / ``minhash_index_write`` exactly like
    any signatures frame."""
    return generation_latest(spark, path, ["id", "sh", "sig"])


def minhash_index_write(
    index_signatures: DataFrame,
    name: str,
    path: str,
    num_bands: int = 8,
    num_hashes: int = 32,
    buckets: int = 16,
) -> None:
    """Persist the signature index in the band-key-BUCKETED physical
    layout (SCALING.md §incremental-LSH: "the index's band keys can be
    bucketed by (band, key) so the daily join skips its exchange") —
    two external bucketed tables under ``path``:

      ``{name}_sigs``        (id, sh, sig)    CLUSTERED BY (id)
      ``{name}_bands``       (id, band, key)  CLUSTERED BY (band, key)
      ``{name}_bandcounts``  (band, key, n)   CLUSTERED BY (band, key)

    ``_bands`` is the daily-join side: its bucketed scan reports
    hash-partitioning on (band, key), so the incremental band join
    (``minhash_lsh_incremental(index_banded=…)``) satisfies its
    required distribution straight off the scan — only the day's batch
    shuffles, never the corpus-sized index.  ``_sigs`` is the
    fetch/maintenance side (id-keyed candidate verification and the
    ``minhash_index_update`` compaction), bucketed by id so a
    shuffle-based delete/merge is exchange-free too once the batch
    exceeds broadcast size.  ``_bandcounts`` pre-aggregates the index's
    per-(band, key) occupancy so the daily bucket-cap check (counts
    over index ∪ batch) adds index counts to batch counts via an
    exchange-free full-outer join instead of re-counting — and
    re-exchanging — the corpus-sized band-key table every day.

    Both tables are EXTERNAL (explicit ``path``): dropping the catalog
    entry keeps the files, and a fresh session re-attaches them with
    ``minhash_index_read`` (bucketing metadata lives in the catalog,
    not the parquet footers — the reader re-declares it via DDL).
    Pre-exploding the band keys costs ~3× the (skinny) band rows on
    disk vs deriving them at read time, and buys the daily join's
    exchange — the standard index trade.

    The three table writes are SEQUENTIAL, not atomic.  A one-row
    ``{path}/meta`` JSON recording (buckets, num_bands, num_hashes) is
    written LAST and doubles as the completion marker: a failure
    mid-write leaves no meta, and ``minhash_index_read`` then refuses a
    declared bucket count it cannot verify rather than silently
    consuming a half-written triple.  For stronger atomicity against
    concurrent readers, write to a temp path and rename over ``path``
    (the pattern the x102 entry code uses).
    """
    rows_per_band = num_hashes // num_bands
    sigs = index_signatures.select("id", "sh", "sig")
    (
        sigs.write.mode("overwrite")
        .option("path", f"{path}/sigs")
        .bucketBy(buckets, "id")
        .sortBy("id")
        .saveAsTable(f"{name}_sigs")
    )
    banded = sigs.select(
        "id",
        F.explode(_band_keys(F.col("sig"), num_bands, rows_per_band)).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    (
        banded.write.mode("overwrite")
        .option("path", f"{path}/bands")
        .bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .saveAsTable(f"{name}_bands")
    )
    # re-read the just-written bucketed table so the count aggregation is
    # itself exchange-free (and never re-runs the signature lineage)
    counts = (
        index_signatures.sparkSession.table(f"{name}_bands")
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    (
        counts.write.mode("overwrite")
        .option("path", f"{path}/bandcounts")
        .bucketBy(buckets, "band", "key")
        .sortBy("band", "key")
        .saveAsTable(f"{name}_bandcounts")
    )
    # completion marker + layout contract: written LAST so a partial
    # triple has no meta; the reader validates its declared bucket
    # count against this instead of trusting the caller blindly
    (
        index_signatures.sparkSession.createDataFrame(
            [(int(buckets), int(num_bands), int(num_hashes))],
            "buckets INT, num_bands INT, num_hashes INT",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .json(f"{path}/meta")
    )


def minhash_index_read(
    spark: "SparkSession", name: str, path: str, buckets: int = 16
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Attach a ``minhash_index_write`` artifact and return
    ``(signatures, banded, band_counts)`` frames.  Bucketing metadata lives in the
    session catalog, so a session that didn't write the tables
    re-declares them via DDL over the existing files (bucketed file
    names carry their bucket id — the layout on disk IS the contract);
    a session that already has them (the writer, or a prior read)
    reuses the catalog entries as-is.

    The declared ``buckets`` MUST match the count the writer used — a
    mismatched DDL declaration would make joins that trust the
    hash-partitioning silently drop or misroute rows.  When the
    artifact carries a ``{path}/meta`` record (written last by
    ``minhash_index_write`` — also the completion marker), the
    declaration is VALIDATED against it and a mismatch raises; a
    pre-metadata artifact (no ``meta`` directory) is trusted as
    declared, for compatibility with indexes written before the marker
    existed."""
    meta_rows = []
    try:
        meta_rows = (
            spark.read.schema("buckets INT, num_bands INT, num_hashes INT")
            .json(f"{path}/meta")
            .collect()
        )
    except Exception:
        pass  # pre-metadata artifact: trust the declared bucket count
    if meta_rows:
        written = int(meta_rows[0]["buckets"])
        if written != int(buckets):
            raise ValueError(
                f"minhash_index_read: declared buckets={buckets} but the "
                f"artifact at {path} was written with buckets={written} "
                "(from its meta record); joins would silently misroute — "
                "pass the written count"
            )
    if not spark.catalog.tableExists(f"{name}_sigs"):
        spark.sql(
            f"CREATE TABLE {name}_sigs "
            "(id BIGINT, sh ARRAY<BIGINT>, sig ARRAY<BIGINT>) USING PARQUET "
            f"CLUSTERED BY (id) SORTED BY (id) INTO {buckets} BUCKETS "
            f"LOCATION '{path}/sigs'"
        )
    if not spark.catalog.tableExists(f"{name}_bands"):
        spark.sql(
            f"CREATE TABLE {name}_bands "
            "(id BIGINT, band INT, key BIGINT) USING PARQUET "
            f"CLUSTERED BY (band, key) SORTED BY (band, key) "
            f"INTO {buckets} BUCKETS "
            f"LOCATION '{path}/bands'"
        )
    if not spark.catalog.tableExists(f"{name}_bandcounts"):
        spark.sql(
            f"CREATE TABLE {name}_bandcounts "
            "(band INT, key BIGINT, n BIGINT) USING PARQUET "
            f"CLUSTERED BY (band, key) SORTED BY (band, key) "
            f"INTO {buckets} BUCKETS "
            f"LOCATION '{path}/bandcounts'"
        )
    return (
        spark.table(f"{name}_sigs"),
        spark.table(f"{name}_bands"),
        spark.table(f"{name}_bandcounts"),
    )


def window_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """(doc_id, fp) — one 64-bit fingerprint per ``window``-token span
    position (xxhash64 of the space-joined tokens). The reusable skinny
    artifact for span-level dedup: materialize it once per corpus and
    every downstream pass (profile, cross-corpus contamination checks)
    reads ~16 B/token instead of re-tokenizing text."""
    w = int(window)
    staged = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(content_col)).alias("__toks")
    )
    # materialized __toks first (lambda inputs must be real columns; a
    # single-param lambda only — see _shingle_hash_frame).  The index
    # range is CLAMPED to empty for short documents instead of a
    # size>=w pre-filter: predicate pushdown substitutes the alias into
    # the scan filter, re-running the whole tokenize once per row there
    # (round 8 — same family as the inferred-filter explode trap).  The
    # clamp is a lambda-free slice (slice length 0 -> empty array): a
    # filter lambda capturing `last` would re-evaluate size(__toks) —
    # and after projection collapse the whole tokenize — per element.
    last = F.size("__toks") - (w - 1)
    idx = F.slice(
        F.sequence(F.lit(1), F.greatest(last, F.lit(1))),
        F.lit(1),
        F.greatest(last, F.lit(0)),
    )
    # explode_outer + null-filter: inner explodes get an optimizer-
    # inferred size>0 filter that re-evaluates the collapsed operand
    # tree per row (round 8, see screening.distinct_ngrams); short
    # documents yield an empty index -> one NULL row -> dropped, exactly
    # the rows the old size>=w pre-filter removed
    return staged.select(
        "doc_id",
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("__toks"), i, F.lit(w)))
                ),
            )
        ).alias("fp"),
    ).filter(F.col("fp").isNotNull())


def duplicate_window_profile(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span coverage at ``window``-token
    granularity — the exact-substring dedup signal (RefinedWeb/Falcon
    style: what fraction of a document is verbatim-repeated elsewhere in
    the corpus).

    A *window* is ``window`` consecutive whitespace tokens; a window VALUE
    is *duplicated* when it occurs in >= 2 distinct documents. Output one
    row per input document:

        (doc_id, n_windows, n_dup_windows, dup_ratio)

    where ``n_dup_windows`` counts window POSITIONS whose value also
    appears in another document and ``dup_ratio = n_dup_windows /
    n_windows`` (NULL when the document has fewer than ``window`` tokens —
    NULL, not NaN, per the repo missingness rule).

    Scale shape: windows are hashed to 64 bits (xxhash64 of the joined
    token span) at formation, so every shuffled row is a skinny
    (doc_id, fp) pair — the text itself never shuffles. Then (1) a
    two-phase hash agg counts distinct docs per fp, (2) the dup flag joins
    back on fp — a shuffle join, never broadcast: the fp table is ~1 row
    per corpus token, unbounded at 100 TB — and (3) the per-doc roll-up is
    a final hash agg keyed by doc_id. Fingerprints never reach the output,
    so 64-bit collisions only perturb counts (at ~1e-11 per pair), never
    surface a hash value.

    The Catalyst plan consumes the fingerprint frame TWICE (distinct-doc
    agg and the flag join; the per-doc base reads only the id column of
    ``df``) and the subtrees differ, so no ReusedExchange applies. When
    the frame is built inline it is therefore a ``shared_frame`` of this
    call: both consumers read the one stored copy, so the corpus is
    tokenized and windowed exactly once per call (round 7; previously 3
    scans, the slowest bench query).  Nothing is kept for the next call
    (~16 B/token of corpus while the result is alive); a 100 TB pipeline
    materializes ``window_fingerprints`` to parquet once (same pattern
    as ``minhash_signatures``) and passes it via ``fingerprints=`` so
    EVERY downstream pass — not just this call — reads the skinny fp
    table (the x60 posture, plan-locked in
    tests/test_plan_regressions.py).

    No counterpart in the reference (extension surface); complements
    ``exact_dedup`` (whole-doc) and ``minhash_lsh_pairs`` (near-dup) with
    the span-level third axis of the standard LLM dedup battery.
    """
    fps = (
        shared_frame(window_fingerprints(df, content_col, id_col, window))
        if fingerprints is None
        else fingerprints
    )
    per_fp = fps.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("__ndocs")
    )
    per_doc = (
        fps.join(per_fp, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("__ndocs") >= 2).cast("long")).alias("n_dup_windows"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            (F.col("n_dup_windows") / F.col("n_windows")).alias("dup_ratio"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    window: int = 8,
) -> DataFrame:
    """Cross-source contamination matrix over span fingerprints: for each
    pair of sources (a <= b), how many DISTINCT ``window``-token spans
    occur in both — the train/eval (or source/source) overlap report that
    decides whether a corpus mix leaks.

    Output: (source_a, source_b, shared_windows), one row per source
    pair with >= 1 shared span (the diagonal counts a source's own
    distinct spans).

    Scale shape: builds on ``window_fingerprints`` (pass the corpus once;
    spans hash to 64 bits before any shuffle), reduced to DISTINCT
    (group, fp) rows — bounded by sources × distinct spans; the pair join
    keys on fp (skinny self-join, same posture as the LSH buckets) and
    the final count is a hash agg on the ~|sources|² pair key. Never
    broadcast: the fp table is unbounded at corpus scale.
    """
    fps = window_fingerprints(df, content_col, id_col, window)
    gsrc = df.select(
        F.col(id_col).alias("doc_id"), F.col(group_col).alias("__g")
    )
    gfp = fps.join(gsrc, "doc_id").select("__g", "fp").distinct()
    lhs, rhs = gfp.alias("l"), gfp.alias("r")
    return (
        lhs.join(
            rhs,
            on=[F.col("l.fp") == F.col("r.fp"), F.col("l.__g") <= F.col("r.__g")],
        )
        .groupBy(
            F.col("l.__g").alias("source_a"), F.col("r.__g").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )


def incremental_exact_dedup(
    new_batch: DataFrame,
    seen_fingerprints: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing corpus, the way a continuously
    ingesting pipeline runs: dedupe within the batch, then anti-join its
    fingerprints against the accumulated ``seen_fingerprints`` table
    (single column ``fp``).

    Returns (survivors, updated_fingerprints). At 100 TB the fingerprint
    table is 8 B/doc — 8 GB/billion docs — and the anti-join shuffles only
    fingerprints, never content; bucket ``seen_fingerprints`` by ``fp`` to
    make the per-batch join exchange-free on the corpus side.
    """
    within = exact_dedup(new_batch, content_col, id_col).withColumn(
        "__fp", fingerprint(F.col(content_col))
    )
    survivors = within.join(
        seen_fingerprints.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
    )
    updated = seen_fingerprints.unionByName(
        survivors.select(F.col("__fp").alias("fp"))
    ).distinct()
    return survivors.drop("__fp"), updated


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Exact connected components of a pair graph via iterative label
    propagation: every node's label converges to the minimum id reachable
    from it. Returns (id, component).

    Each round is one edge join + one groupBy (label = min over self and
    neighbors) plus a POINTER-DOUBLING shortcut (round 13): the stepped
    label is joined back to the PREVIOUS round's label table so every
    node also adopts ``comp_prev(comp(x))`` — its new parent's own best
    label.  Information distance roughly doubles per round, so a chain
    of length L converges in O(log L) rounds instead of O(L) (measured
    on the x23 fixture: 23 label rounds → 6; each round is one full
    |E|-join shuffle, so the round count IS the scale cost).  The
    shortcut label is always the id of a node reachable from x
    (reachability is transitive), so the fixpoint is the identical
    min-reachable-id labeling — exact, layout-invariant.  Lineage is cut
    with ``loop_frame`` per round so the plan does not grow
    exponentially; the previous round's table is materialized, so the
    shortcut join re-reads blocks, never recomputes, and it is released
    as soon as the next round's table has landed.  Only the returned
    labels stay stored.  ``max_iter`` is a safety bound, not a
    truncation in practice; a non-converged graph raises rather than
    returning wrong labels.
    """
    # materialize the edge list ONCE — it re-enters the join every round,
    # and without the checkpoint each iteration re-executes the entire
    # upstream pair computation (screen + LSH/Jaccard joins), turning an
    # O(diameter) loop into O(diameter × full-pipeline).  The SKINNY
    # pair projection is itself materialized first (round 13): the edge
    # union references the pair table TWICE (a→b and b→a), and Spark
    # does not deduplicate the branches — both used to re-execute the
    # whole pair pipeline inside the edges-checkpoint job.  Lazy
    # shared_frame: the edges job is the first (and only) consumer, and
    # both union branches read the one stored copy; it is released as
    # soon as edges lands.
    p0 = shared_frame(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
        scoped=True,
    )
    edges = shared_frame(
        p0.unionByName(
            p0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        eager=True,
        scoped=True,
    )
    release(p0)
    table = labels = loop_frame(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    for rnd in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("n_comp"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
                ).alias("comp"),
                F.col("comp").alias("__old"),
            )
        )
        if rnd == 0:
            # round 1's shortcut is provably a no-op: the previous table
            # is the identity labeling, so comp_prev(comp(x)) == comp(x)
            # — skip the join (shallow star graphs converge in 2-3
            # rounds and would pay it for nothing)
            new_table = loop_frame(stepped)
        else:
            # pointer doubling against the PREVIOUS (checkpointed)
            # table: comp(x) <- min(comp(x), comp_prev(comp(x)))
            parent = labels.select(
                F.col("id").alias("__pid"), F.col("comp").alias("__pcomp")
            )
            new_table = loop_frame(
                stepped.join(parent, stepped["comp"] == parent["__pid"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp"),
                        F.coalesce(F.col("__pcomp"), F.col("comp")),
                    ).alias("comp"),
                    "__old",
                )
            )
        release(table)
        table = new_table
        changed = table.filter(F.col("comp") != F.col("__old")).limit(1).count()
        labels = table.drop("__old")
        if changed == 0:
            release(edges)
            return labels
    release(edges)
    release(table)
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    exact_components: bool = True,
) -> DataFrame:
    """Canonical-document selection: given ANY near-dup pair list (MinHash,
    SimHash, n-gram Jaccard, embedding LSH — they all emit (id_a, id_b)),
    keep exactly one representative per duplicate cluster.

    ``exact_components=True`` (default) runs transitive closure via
    ``connected_components`` and keeps the minimum id of each cluster —
    deterministic and partition-order-free. ``False`` is the greedy
    single-pass approximation (drop every higher id that pairs with a
    lower one; over-deletes only on non-transitive chains). The survivor
    set is tiny relative to the corpus (loser ids only, 8 B each), so the
    final step is a broadcast-friendly LEFT ANTI join.
    """
    if exact_components:
        comps = connected_components(pairs, a_col, b_col)
        losers = comps.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col(b_col).alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    exact_components: bool = False,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates, keeping one representative per cluster.

    Default (greedy): every doc that pairs (as the higher id) with a lower
    id is removed — the standard single-pass approximation used in corpus
    pipelines (over-deletes only when a chain's middle element links ends
    that aren't pairwise similar). ``exact_components=True`` runs true
    transitive closure via ``connected_components`` and keeps exactly the
    minimum id of each cluster.
    """
    pairs = minhash_lsh_pairs(df, content_col, id_col, **kwargs)
    return dedup_by_pairs(
        df, pairs, id_col, exact_components=exact_components
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def editdist_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
    max_bucket: int = 10_000,
) -> DataFrame:
    """All pairs (id_a < id_b) with Levenshtein distance <= ``max_dist`` —
    the approximate-string join, via symmetric deletion neighborhoods
    (SymSpell/FastSS): two strings within edit distance k always share a
    string in their depth-k deletion neighborhoods, so generating the
    ~C(L,k) single/multi-deletion variants per row and equi-joining on
    them yields a complete candidate set, verified exactly with
    ``levenshtein`` (shared keys can arise at distance up to 2k — e.g.
    "ab"/"ba" share "a" at k=1 — so verification is load-bearing, not
    belt-and-braces).

    Output: (id_a, id_b, dist).

    Scale shape: each variant is hashed to 64 bits at formation, so the
    self-join shuffles skinny (id, fp) rows — never the strings (a hash
    collision only adds a false candidate, which verification removes);
    the two full strings are fetched per candidate pair by id
    (payload-per-candidate rule) and compared JVM-side. ``max_bucket``
    drops pathological variant buckets (mass-duplicated strings) via the
    same broadcast anti-join cap as ``minhash_lsh_pairs`` — bounded join
    fan-out at the cost of recall on >max_bucket-plicated values (exact
    duplicates are better handled by ``exact_dedup`` first anyway).
    Neighborhood size is C(L,k)·k!-ish per row — keep ``max_dist`` at 1–2
    (SymSpell's own operating range).

    No counterpart in the reference (extension surface): entity-resolution
    blocking for identifier-like columns.
    """
    staged = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__s"))
    # depth-k deletion neighborhood, built iteratively over MATERIALIZED
    # array columns (lambda inputs staged per rule; single-param lambdas
    # only — the nested (s, i) pair is two one-param lambdas)
    neigh = staged.withColumn("__neigh", F.array(F.col("__s")))
    for _ in range(int(max_dist)):
        neigh = neigh.withColumn(
            "__neigh",
            F.array_union(
                F.col("__neigh"),
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.col("__neigh"),
                            lambda s: F.transform(
                                F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
                                lambda i: F.concat(
                                    s.substr(F.lit(1), i - 1),
                                    s.substr(i + 1, F.length(s)),
                                ),
                            ),
                        )
                    )
                ),
            ),
        )
    # explode_outer + null-filter: inner explodes get an optimizer-
    # inferred size>0 filter that re-evaluates the collapsed operand
    # tree per row (round 8, see screening.distinct_ngrams)
    #
    # localCheckpoint (round 12): the (id, fp) frame feeds the bucket-cap
    # aggregation AND both sides of the capped self-join, and exchange
    # reuse does not deduplicate the three references — the executed plan
    # re-ran the deletion-neighborhood generation (the expensive nested
    # per-string transform) + explode + dedup shuffle three times.
    # Materializing the skinny post-dedup rows (≤ C(L,k)+1 per input row,
    # 16 B each) runs it once; the string payloads are still fetched
    # per-candidate from the source below, never checkpointed.
    keyed = (
        neigh.select(
            "id",
            F.explode_outer(
                F.transform(F.col("__neigh"), lambda v: F.xxhash64(v))
            ).alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
        .dropDuplicates(["id", "fp"])
    )
    # lazy (round 13, was EAGER in round 12): the bucket-cap aggregation
    # is the first consumer and materializes the frame inside its own
    # job; eager added a dedicated barrier job per invocation.
    keyed = shared_frame(keyed)

    big = (
        keyed.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__bc"))
        .filter(F.col("__bc") > max_bucket)
        .select("fp")
    )
    capped = keyed.join(F.broadcast(big), "fp", "left_anti")

    lhs, rhs = capped.alias("l"), capped.alias("r")
    cand = (
        lhs.join(
            rhs,
            on=[F.col("l.fp") == F.col("r.fp"), F.col("l.id") < F.col("r.id")],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = staged.select(F.col("id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = staged.select(F.col("id").alias("id_b"), F.col("__s").alias("__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein(F.col("__sa"), F.col("__sb")))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def _simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """Assemble the SimHash from an ARRAY<BIGINT> of token hashes.

    For each bit b: sum over tokens of ±1 depending on bit b; bit set iff
    the sum is positive — aggregate() per bit, no explode, no UDF. Pass a
    MATERIALIZED column: each of the 64 aggregates re-evaluates its input
    expression, so an inline tokenize-and-hash would run 64× per row.
    """

    def bit_sum(b: int) -> Column:
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return F.aggregate(hashes, F.lit(0), merge)

    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(bit_sum(b) > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(0)
    return out


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash over word tokens, as one JVM expression. Prefer the
    staged path in ``simhash_pairs`` for bulk use."""
    return _simhash_from_hashes(
        F.transform(tokens(text), lambda t: F.xxhash64(t)), bits
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_assemble_frame(staged: DataFrame) -> DataFrame:
    """(id, sh) from a staged (id, __th ARRAY<BIGINT>) frame — the numpy
    bit assembly (one Arrow pass; ±1 per-bit sums, bit set iff sum > 0).
    Value-identical to ``_simhash_from_hashes`` including the null/empty
    degenerations (null or empty hash list -> sh 0 — the expression's
    ``when`` swallows the null) — differential-tested against it."""
    import pandas as pd

    def assemble(it):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in it:
            out = []
            for th in pdf["__th"]:
                if th is None or len(th) == 0:
                    out.append(0)
                    continue
                h = np.asarray(th, dtype=np.int64).view(np.uint64)
                bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                sums = (2 * bits - 1).sum(axis=0)
                sh = int(np.sum((sums > 0).astype(np.uint64) << shifts))
                out.append(sh - (1 << 64) if sh >= (1 << 63) else sh)
            yield pd.DataFrame(
                {"id": pdf["id"], "sh": pd.array(out, dtype="int64")}
            )

    return staged.mapInPandas(assemble, "id BIGINT, sh BIGINT")


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit hash into 4 x 16-bit
    chunks (any pair within Hamming distance 3 shares >= 1 exact chunk),
    join per chunk, verify Hamming distance.

    Bit assembly (round 8): the token hashes stay a JVM expression
    (xxhash64 — the value contract the x6 golden reproduces with an
    independent XXH64), but the 64 per-bit ±1 sums run as one numpy pass
    inside an Arrow ``mapInPandas``: the expression form was 64
    interpreted ``aggregate`` folds per row (~7.5 s at sf0.1; ~1 s
    vectorized, bit-identical — ``_simhash_from_hashes`` remains the
    expression twin, differential-tested).
    """
    staged = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(content_col)), lambda t: F.xxhash64(t)).alias("__th"),
    )
    base = _simhash_assemble_frame(staged)
    chunks = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "sh", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    left = chunks.select("chunk", "key", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = chunks.select("chunk", "key", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        left.join(right, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, candidate-driven)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_token_freq: int = 500,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs via an inverted-index candidate join.

    Documents sharing at least one (non-ubiquitous) n-gram become
    candidates; Jaccard is verified exactly — but COUNT-BASED (round 8):
    the candidate join yields one row per shared gram, so |A∩B| is a
    map-side-combined per-pair count straight off that join, and
    |A| / |B| come from a skinny per-doc gram-count table.  The gram
    ARRAYS never shuffle and no per-pair array_intersect runs — the
    previous fetch-arrays-then-intersect verification moved ~1 KB per
    candidate pair and measured 20.7 s at sf0.1; this shape measures a
    small multiple of the tokenize pass.  The (id, gram) index is built
    once per call (``shared_frame``) and feeds the frequency cap, the
    sizes and the self-join.

    ``max_token_freq`` excludes n-grams appearing in more than that many
    docs from the gram SETS entirely — candidacy, intersection counts
    and sizes alike (self-consistent stopword removal; they add
    candidates without discriminating).  With the cap inactive the
    result is the classic exact all-shared-gram Jaccard.

    The tokenize input is fed through ``spread_small_scan`` (round 13):
    a single-file corpus otherwise pins the stored inverted index to
    ONE partition, and the candidate self-join's probe side — the
    query's dominant stage, every (gram, id)×(gram, id) match plus the
    per-pair partial count — runs on one core (measured 1.44 → 0.79 s
    on the isolated join at sf0.1, local[32]; the x23/x30/x38/x101
    composites share this upstream).  At real corpus scale the scan
    already has thousands of splits and no shuffle is added.  Layout
    only — candidacy, counts and the exact-integer Jaccard are
    partition-invariant.
    """
    staged = spread_small_scan(
        df.select(F.col(id_col).alias("id"), F.col(content_col).alias("__txt"))
    ).select("id", tokens(F.col("__txt")).alias("__toks"))
    toks = F.col("__toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    inv = shared_frame(
        staged.select(
            "id", F.explode_outer(grams).alias("gram")
        ).filter(F.col("gram").isNotNull())
    )
    big = (
        inv.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__gc"))
        .filter(F.col("__gc") > max_token_freq)
        .select("gram")
    )
    capped = inv.join(F.broadcast(big), "gram", "left_anti")
    sizes = capped.groupBy("id").agg(F.count(F.lit(1)).alias("__sz"))
    shared = (
        capped.alias("a")
        .join(capped.alias("b"), "gram")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("__sz").alias("__sb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 17) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<DOUBLE> columns, pure JVM."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / F.nullif(na * nb, F.lit(0.0))


def embedding_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.9,
    seed: int = 17,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine via random-hyperplane LSH.

    Sign bits under ``n_planes`` fixed (seeded) hyperplanes form a bit
    signature; ``n_bands`` bands of equal width become join keys; survivors
    verified with exact cosine. Hyperplanes ride along as literal arrays —
    constant-folded, broadcast-free.
    """
    import pandas as pd

    planes = _hyperplanes(dim, n_planes, seed)
    bits_per_band = n_planes // n_bands
    base = spread_small_scan(
        df.select(
            F.col(id_col).alias("id"),
            F.col(emb_col).cast("array<double>").alias("e"),
        )
    )

    # the (id, band, key) signature stage runs as one numpy Arrow pass
    # (round 8): the expression form was n_planes interpreted fold-dots
    # per row.  np.cumsum accumulates LEFT-TO-RIGHT like the fold, so the
    # sign bits (and therefore the candidate set and the recorded oracle
    # values) are reproduced bit-for-bit — a pairwise/SIMD dot would
    # round borderline signs differently.
    def banded_batches(it):
        P = planes  # (n_planes, dim)
        for pdf in it:
            ids, bands, keys = [], [], []
            for id_, e in zip(pdf["id"], pdf["e"]):
                if e is None or len(e) != dim:
                    continue  # malformed vectors form no candidates
                v = np.asarray(e, dtype=np.float64)
                prods = P * v[None, :]                   # (n_planes, dim)
                dots = np.cumsum(prods, axis=1)[:, -1]   # sequential order
                bits = (dots > 0).astype(np.int64)
                for b in range(n_bands):
                    chunk = bits[b * bits_per_band : (b + 1) * bits_per_band]
                    ids.append(id_)
                    bands.append(b)
                    keys.append("".join("1" if x else "0" for x in chunk))
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64"),
                    "band": pd.array(bands, dtype="int32"),
                    "key": pd.array(keys, dtype="string"),
                }
            )

    banded = base.mapInPandas(
        banded_batches, "id BIGINT, band INT, key STRING"
    )
    # in-bucket pair explosion instead of a banded self-join: the
    # signature stage (a Python pass over the corpus) runs ONCE, and one
    # groupBy shuffle replaces the join's two scans + exchange. The
    # candidate set is identical — every unordered id pair sharing a
    # (band, key) bucket, deduped across bands.
    buckets = banded.groupBy("band", "key").agg(
        F.collect_list("id").alias("__ids")
    )
    cand = (
        buckets.select(
            F.explode_outer("__ids").alias("id_a"), F.col("__ids").alias("__ids")
        )
        .select("id_a", F.explode_outer("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    emb = base.select("id", "e")
    # pin the candidate frame's partitioning: the (id_a, id_b) shuffle is
    # tiny, so AQE would coalesce the fetch-join stage to a couple of
    # tasks — but each candidate blows up to ~1 KB once both embeddings
    # attach, and the verify below is the query's hot loop. A user
    # repartition is exempt from AQE coalescing.
    p = df.sparkSession.sparkContext.defaultParallelism
    # merge hints: the candidate frame sits BELOW an explode, so Catalyst
    # carries the pre-explode size estimate (4.9 MiB at 32k vectors for
    # ~8M actual pairs) and would elect to BROADCAST it — a driver OOM
    # the moment collision mass grows (caught by the scale curve at 16x
    # sf0.1). Sort-merge is the only join strategy that is safe at every
    # collision rate; the sort of a genuinely tiny side costs nothing.
    joined = (
        cand.repartition(p, "id_a")
        .hint("merge")
        .join(emb.select(F.col("id").alias("id_a"), F.col("e").alias("e_a")), "id_a")
        .join(emb.select(F.col("id").alias("id_b"), F.col("e").alias("e_b")), "id_b")
    )

    # exact-cosine verify as one numpy Arrow pass: the expression form ran
    # an interpreted per-element fold per candidate (461k candidates at
    # sf0.1 made it the whole runtime). np.cumsum accumulates
    # LEFT-TO-RIGHT like the fold, so cosines and threshold decisions are
    # bit-identical; rounding stays a Spark expression (HALF_UP).
    def _verify(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "id_a": pd.array([], dtype="int64"),
                        "id_b": pd.array([], dtype="int64"),
                        "cosine": pd.array([], dtype="float64"),
                    }
                )
                continue
            ea = np.array(pdf["e_a"].tolist(), dtype=np.float64)
            eb = np.array(pdf["e_b"].tolist(), dtype=np.float64)
            na = np.sqrt(np.cumsum(ea * ea, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(eb * eb, axis=1)[:, -1])
            den = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.cumsum(ea * eb, axis=1)[:, -1] / den
            keep = (den > 0) & (cos >= threshold)
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].array[keep],
                    "id_b": pdf["id_b"].array[keep],
                    "cosine": cos[keep],
                }
            )

    return joined.mapInPandas(
        _verify, "id_a BIGINT, id_b BIGINT, cosine DOUBLE"
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
