"""Extension-operator tests: dedup, similarity search, text analysis,
multimodal plumbing (SURVEY.md §7.1 step 9)."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from modis_aggregation_spark.functions import text as T
from modis_aggregation_spark.observe import measure
from modis_aggregation_spark.operators import dedup as D
from modis_aggregation_spark.operators import multimodal as M
from modis_aggregation_spark.operators import similarity as S


# --------------------------------------------------------------------------
# text functions
# --------------------------------------------------------------------------

def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_tokens_and_counts(spark):
    df = spark.createDataFrame([("The  quick, brown fox!",)], ["t"])
    row = df.select(
        T.tokens(F.col("t")).alias("toks"),
        T.word_count(F.col("t")).alias("wc"),
        T.token_count(F.col("t")).alias("tc"),
    ).first()
    assert row["toks"] == ["the", "quick,", "brown", "fox!"]
    assert row["wc"] == 4
    # words: The quick brown fox; punct: , !  -> 6
    assert row["tc"] == 6


def test_punct_and_stopword_ratio(spark):
    df = spark.createDataFrame([("the cat, the hat!",)], ["t"])
    row = df.select(
        T.punct_ratio(F.col("t")).alias("pr"),
        T.stopword_ratio(F.col("t"), "en").alias("sr"),
        T.mean_word_length(F.col("t")).alias("mwl"),
    ).first()
    # non-ws chars: thecat,thehat! = 14; punct = 2
    assert row["pr"] == pytest.approx(2 / 14)
    # tokens: the cat, the hat! -> stopwords: the, the (cat,/hat! carry punct)
    assert row["sr"] == pytest.approx(2 / 4)
    assert row["mwl"] == pytest.approx((3 + 4 + 3 + 4) / 4)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is that"),
            (2, "der hund ist von der frau und das kind"),
            (3, "el perro es de la casa y en un dia"),
            (4, "zzz qqq xxx"),
        ],
        ["id", "t"],
    )
    got = {
        r["id"]: r["lang"]
        for r in df.select("id", T.lang_id(F.col("t")).alias("lang")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_char_shingles_and_fingerprint(spark):
    df = spark.createDataFrame([("abcdef",), ("abc def",), ("ABC  def",)], ["t"])
    rows = df.select(
        T.char_shingles(F.col("t"), 3).alias("sh"),
        T.fingerprint(F.col("t")).alias("fp"),
    ).collect()
    assert rows[0]["sh"] == ["abc", "bcd", "cde", "def"]
    # whitespace-normalized lowercase => rows 1 and 2 identical fingerprints
    assert rows[1]["fp"] == rows[2]["fp"]
    assert rows[0]["fp"] != rows[1]["fp"]


def test_text_profile_matches_individual_functions(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is that"),
         (2, "der hund ist von der frau und das kind"),
         (3, "The  quick, brown fox! 42")],
        ["doc_id", "text"],
    )
    prof = {r["doc_id"]: r for r in T.text_profile(df, "text", "en").collect()}
    ind = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.word_count(F.col("text")).alias("wc"),
            T.token_count(F.col("text")).alias("tc"),
            T.punct_ratio(F.col("text")).alias("pr"),
            T.stopword_ratio(F.col("text"), "en").alias("sr"),
            T.mean_word_length(F.col("text")).alias("mwl"),
            T.quality_score(F.col("text"), "en").alias("q"),
            T.lang_id(F.col("text")).alias("lang"),
        ).collect()
    }
    for i in prof:
        assert prof[i]["word_count"] == ind[i]["wc"]
        assert prof[i]["token_count"] == ind[i]["tc"]
        assert prof[i]["punct_ratio"] == pytest.approx(ind[i]["pr"])
        assert prof[i]["stopword_ratio"] == pytest.approx(ind[i]["sr"])
        assert prof[i]["mean_word_len"] == pytest.approx(ind[i]["mwl"])
        assert prof[i]["quality"] == pytest.approx(ind[i]["q"])
        assert prof[i]["lang"] == ind[i]["lang"]


def test_quality_score_range(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat with a dog for fun " * 10,), ("!!! ???",)], ["t"]
    )
    vals = [r["q"] for r in df.select(T.quality_score(F.col("t")).alias("q")).collect()]
    assert 0.0 <= vals[1] < vals[0] <= 1.0


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "THE  quick brown fox jumps over the lazy dog again and again"),  # ws/case dup of 1
    (3, "the quick brown fox jumps over the lazy cat again and again"),   # near-dup of 1
    (4, "completely different content about spark aggregation engines"),
    (5, "the quick brown fox jumps over the lazy dog again and again"),   # exact dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = D.exact_dedup(_docs(spark))
    ids = sorted(r["doc_id"] for r in out.collect())
    # 2 and 5 normalize to doc 1's content; lowest id survives
    assert ids == [1, 3, 4]


def test_minhash_pairs_and_dedup(spark):
    pairs = D.minhash_lsh_pairs(_docs(spark), threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == pytest.approx(1.0)  # identical after normalization
    assert got[(1, 5)] == pytest.approx(1.0)
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert all(4 not in p for p in got)
    kept = sorted(r["doc_id"] for r in D.minhash_dedup(_docs(spark), threshold=0.5).collect())
    assert kept == [1, 4]


def test_minhash_pairs_from_materialized_signatures(spark):
    """The bulk-pipeline entry point: pairs computed from a precomputed
    signatures table must equal the inline path exactly."""
    inline = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()
    }
    sigs = D.minhash_signatures(_docs(spark)).persist()
    try:
        staged = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.minhash_lsh_pairs(signatures=sigs, threshold=0.5).collect()
        }
    finally:
        sigs.unpersist()
    assert staged == inline
    with pytest.raises(ValueError, match="source DataFrame or a signatures"):
        D.minhash_lsh_pairs()


def test_minhash_inline_cache_is_single_slot(spark):
    """Repeated inline calls keep nothing in the CacheManager: the
    inline signatures are a per-call ``shared_frame`` (checkpoint
    blocks freed with the returned plan), not a session-lived cache
    entry that outlives the call."""
    spark.catalog.clearCache()  # entries other tests left behind
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    for _ in range(3):
        D.minhash_lsh_pairs(_docs(spark), threshold=0.5).count()
    assert cache.isEmpty()


def test_minhash_inline_cache_is_per_session(spark):
    """Inline calls in two sessions of one context are independent pure
    functions of their input: identical pairs, in either order."""
    other = spark.newSession()

    def pairs(session):
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in D.minhash_lsh_pairs(_docs(session), threshold=0.5).collect()
        )

    first = pairs(spark)
    assert first and pairs(other) == first == pairs(spark)


def test_minhash_inline_cache_warm_reuse_same_plan(spark, tmp_path):
    """Cross-call reuse is explicit: with ``signatures=`` the returned
    plan never re-shingles — no leaf of the optimized plan carries the
    text column, only the (id, sh, sig) artifact — and its pairs equal
    the inline call's."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "sigs.parquet")
    D.minhash_signatures(docs, "text", "doc_id").write.parquet(path)
    sigs = spark.read.parquet(path)
    out = D.minhash_lsh_pairs(signatures=sigs, threshold=0.5)
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        first = leaves.apply(i).toString().splitlines()[0]
        assert "text#" not in first, first
    inline = D.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    assert sorted(out.collect()) == sorted(inline.collect())


def test_simhash_pairs(spark):
    base = D.simhash(F.col("text"))
    hashes = {r["doc_id"]: r["h"] for r in _docs(spark).select("doc_id", base.alias("h")).collect()}
    assert hashes[1] == hashes[5]
    pairs = D.simhash_pairs(_docs(spark), max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 5)] == 0
    assert (1, 3) in got  # one word swapped -> small hamming distance


def test_ngram_jaccard_pairs(spark):
    pairs = D.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 5)] == pytest.approx(1.0)
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert all(4 not in p for p in got)


def test_minhash_index_update_upsert_and_replay(spark):
    """Last-writer-wins upsert by id + idempotent replay: a re-ingested
    id's old index row is replaced (never duplicated), fresh ids append,
    untouched index rows pass through, and re-applying the same survivor
    batch is a no-op."""
    schema = "id long, sh array<long>, sig array<long>"
    idx = spark.createDataFrame(
        [(1, [10, 11], [1, 2]), (2, [20], [3, 4])], schema
    )
    surv = spark.createDataFrame(
        [(2, [21], [5, 6]), (9, [90], [7, 8])], schema
    )
    out = D.minhash_index_update(idx, surv)
    rows = {r["id"]: (r["sh"], r["sig"]) for r in out.collect()}
    assert rows == {
        1: ([10, 11], [1, 2]),   # untouched
        2: ([21], [5, 6]),       # replaced, not duplicated
        9: ([90], [7, 8]),       # appended
    }
    replay = D.minhash_index_update(out, surv)
    assert {r["id"]: (r["sh"], r["sig"]) for r in replay.collect()} == rows


def test_ngram_jaccard_capped_set_semantics(spark):
    """Pins the round-8 COUNT-BASED cap semantics (ADVICE r8): a gram over
    ``max_token_freq`` is excluded from the gram SETS themselves — |A|,
    |B| and the intersection — not just from candidacy.  The old
    array-form operator only dropped capped grams from the candidate
    join, so (d1,d2) below scored 2/(3+3-2)=0.5; the count-based form
    scores 2/(2+3-2)=2/3.  Asserting 2/3 locks the intended semantics."""
    df = spark.createDataFrame(
        [
            (1, "x y common"),
            (2, "x y z"),
            (3, "common aa"),
            (4, "common bb"),
        ],
        ["doc_id", "text"],
    )
    # "common" appears in 3 docs > cap=2 -> removed from every gram set
    pairs = D.ngram_jaccard_pairs(
        df, n=1, threshold=0.1, max_token_freq=2
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got == {(1, 2): pytest.approx(2 / 3, abs=1e-6)}
    # (3,4) share ONLY the capped gram: no candidacy, no pair — and with
    # the cap inactive the classic all-gram jaccard comes back
    uncapped = D.ngram_jaccard_pairs(
        df, n=1, threshold=0.1, max_token_freq=10**9
    )
    got2 = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped.collect()}
    assert got2[(3, 4)] == pytest.approx(1 / 3, abs=1e-6)
    assert got2[(1, 2)] == pytest.approx(0.5, abs=1e-6)


def test_cosine_pairs_exact_dim_prefilter(spark):
    """ADVICE r8: the numpy verifier stacks each batch to (rows, dim); a
    ragged embedding would raise inside the Arrow task.  ``dim=`` drops
    wrong-length and NULL rows JVM-side before the join."""
    df, vecs = _emb_df(spark)
    bad = spark.createDataFrame(
        [(900, [1.0, 2.0]), (901, None)],
        df.schema,
    )
    clean = S.cosine_pairs_exact(df, threshold=0.3, block_size=8).collect()
    guarded = S.cosine_pairs_exact(
        df.union(bad), threshold=0.3, block_size=8, dim=8
    ).collect()
    key = lambda rows: {(r["id1"], r["id2"]): r["cosine"] for r in rows}
    assert key(guarded) == key(clean)


def test_embedding_pairs(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((20, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((100, rows[3][1]))  # exact dup of vec 3
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = D.embedding_pairs(df, threshold=0.99)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs.collect()}
    assert got == {(3, 100): pytest.approx(1.0)}


def test_embedding_lsh_recall_vs_exact_baseline(spark):
    """The audit loop x21 exists for: near-dup pairs found by the exact
    all-pairs baseline must be recovered by the LSH path at high
    similarity. 16 planes / 4 bands ⇒ a pair colliding on ≥1 band needs
    4 matching sign bits; perturbed copies (cos ≈ 0.999) make that near
    certain, and the exact-cosine verification step removes any FP risk,
    so recall on these pairs is deterministic-in-practice for this seed."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((25, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # ids 1000+i are tiny perturbations of ids 0..9 -> 10 true near-dups
    for i in range(10):
        rows.append(
            (1000 + i, [float(x) for x in base[i] + rng.standard_normal(64) * 0.01])
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r["id1"], r["id2"])
        for r in S.cosine_pairs_exact(df, threshold=0.99, block_size=8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_pairs(df, threshold=0.99).collect()
    }
    assert exact == {(i, 1000 + i) for i in range(10)}
    assert lsh == exact  # full recall on the near-dup pairs, no extras


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

def _emb_df(spark, n=30, dim=8, seed=1):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    return (
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            ["vec_id", "embedding"],
        ),
        vecs,
    )


def test_cosine_pairs_exact_matches_numpy(spark):
    df, vecs = _emb_df(spark)
    # block_size=8 over 30 ids forces the multi-block equi-join path
    out = S.cosine_pairs_exact(df, threshold=0.3, block_size=8).collect()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    want = {
        (i, j): sims[i, j]
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if sims[i, j] >= 0.3
    }
    got = {(r["id1"], r["id2"]): r["cosine"] for r in out}
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-5


def test_subword_token_count(spark):
    rows = [
        ("I'll go to 123 places!!", 7),   # I / 'll / go / to / 123 / places / !!
        ("a  b", 3),                      # letter / double-space run / letter
        ("", 0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    got = [r[0] for r in df.select(T.subword_token_count(F.col("text"))).collect()]
    assert got == [n for _, n in rows]


def test_cosine_topk_matches_numpy(spark):
    df, vecs = _emb_df(spark)
    queries = df.filter(F.col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    out = S.cosine_topk(df, queries, k=5).collect()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for qid in range(3):
        order = [i for i in np.argsort(-sims[qid], kind="stable") if i != qid][:5]
        got = [r["neighbor_id"] for r in out if r["query_id"] == qid]
        got_sorted_by_rank = [
            r["neighbor_id"] for r in sorted(
                (r for r in out if r["query_id"] == qid), key=lambda r: r["rank"]
            )
        ]
        assert sorted(got) == sorted(order)
        assert got_sorted_by_rank == order


def test_ivf_assign_and_topk(spark):
    # two well-separated clusters
    rng = np.random.default_rng(2)
    a = rng.standard_normal((15, 8)) * 0.01 + np.array([10.0] * 8)
    b = rng.standard_normal((15, 8)) * 0.01 + np.array([-10.0] * 8)
    vecs = np.vstack([a, b])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    cents = S.kmeans_centroids(df, nlist=2, sample_rows=30, seed=3)
    assigned = S.ivf_assign(df, cents)
    lists = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    assert len({lists[i] for i in range(15)}) == 1
    assert len({lists[i] for i in range(15, 30)}) == 1
    assert lists[0] != lists[15]

    queries = df.filter(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    out = S.ivf_topk(assigned, queries, cents, k=3, nprobe=1).collect()
    assert len(out) == 3
    assert all(r["neighbor_id"] < 15 for r in out)  # same cluster only


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------

def _media_df(spark):
    rows = [
        (1, bytes.fromhex("ffd8ff") + b"jpegdata"),
        (2, bytes.fromhex("89504e47") + b"pngdata"),
        (3, b"plain text payload"),
    ]
    return spark.createDataFrame(rows, ["id", "payload"])


def test_attach_media_metadata(spark):
    out = M.attach_media_metadata(_media_df(spark))
    got = {r["id"]: r["media_meta"] for r in out.collect()}
    assert got[1]["mime"] == "image/jpeg"
    assert got[2]["mime"] == "image/png"
    assert got[3]["mime"] == "application/octet-stream"
    assert got[1]["size_bytes"] == 11
    assert len(got[1]["sha256"]) == 64


def test_decode_images_fake(spark):
    out = M.decode_images(_media_df(spark), decoder="fake").collect()
    assert len(out) == 3
    for r in out:
        assert (r["height"], r["width"], r["channels"]) == (8, 8, 3)
        px = np.frombuffer(r["pixels"], dtype=np.uint8)
        assert px.size == 8 * 8 * 3
        assert r["mean_pixel"] == pytest.approx(px.mean())
    # determinism
    again = M.decode_images(_media_df(spark), decoder="fake").collect()
    assert {r["id"]: r["pixels"] for r in out} == {r["id"]: r["pixels"] for r in again}


def test_decode_images_real_is_gated(spark):
    try:
        import PIL  # noqa: F401
        pytest.skip("PIL unexpectedly present")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        M.decode_images(_media_df(spark), decoder="real")


def test_decode_images_png_real_path(spark):
    """decoder='png' is a REAL decode: PNG bytes built by pnglite round-trip
    through parse/unfilter/resample with exact pixel values — grayscale
    replicates to 3 channels, RGBA drops alpha, RGB passes through."""
    import numpy as np

    from modis_aggregation_spark.sinks.pnglite import encode_png

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    rgb = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, (10, 6, 4), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(gray))),
         (2, bytearray(encode_png(rgb))),
         (3, bytearray(encode_png(rgba)))],
        "id LONG, payload BINARY",
    )
    out = {r["id"]: r for r in M.decode_images(df, decoder="png").collect()}
    assert all((r["height"], r["width"], r["channels"]) == (8, 8, 3)
               for r in out.values())
    # gray 16x16 → stride-2 nearest-neighbor sample, replicated ×3
    want_gray = np.repeat(gray[::2, ::2][:, :, None], 3, axis=2)
    assert np.frombuffer(out[1]["pixels"], np.uint8).reshape(8, 8, 3).tolist() \
        == want_gray.tolist()
    # rgb 8x8 → identity
    assert np.frombuffer(out[2]["pixels"], np.uint8).reshape(8, 8, 3).tolist() \
        == rgb.tolist()
    # rgba 10x6 → alpha dropped, nearest-neighbor indices
    ridx = (np.arange(8) * 10) // 8
    cidx = (np.arange(8) * 6) // 8
    want_rgba = rgba[:, :, :3][ridx][:, cidx]
    assert np.frombuffer(out[3]["pixels"], np.uint8).reshape(8, 8, 3).tolist() \
        == want_rgba.tolist()


def test_decode_images_png_rejects_non_png(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"not a png at all"))], "id LONG, payload BINARY"
    )
    with pytest.raises(Exception, match="non-PNG"):
        M.decode_images(df, decoder="png").collect()
    with pytest.raises(ValueError, match="unknown image decoder"):
        M.decode_images(df, decoder="bmp")


def test_audio_wav_real_path(spark):
    """decoder='wav' is a REAL decode: stdlib-wave RIFF/PCM16 bytes round
    trip with exact sample recovery (dyadic rationals), the sample rate
    comes from the container, and stereo downmixes by mean."""
    import io
    import wave as wavemod

    import numpy as np

    from modis_aggregation_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    x = (np.arange(64, dtype=np.float64) - 32.0) / 32768.0 * 256
    payload = encode_wav(x, sample_rate=12_345)
    sr, back = decode_wav(payload)
    assert sr == 12_345 and back.tolist() == x.tolist()  # bit-exact
    # stereo 8-bit → mono mean
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(1)
        w.setframerate(4000)
        w.writeframes(bytes([128, 192, 64, 128]))
    sr2, mono = decode_wav(buf.getvalue())
    assert sr2 == 4000
    assert mono.tolist() == [(0.0 + 0.5) / 2, (-0.5 + 0.0) / 2]

    df = spark.createDataFrame(
        [(1, bytearray(payload))], "id LONG, payload BINARY"
    )
    out = M.extract_audio_features(df, decoder="wav").collect()[0]
    assert out["sample_rate"] == 12_345 and out["n_samples"] == 64
    assert out["rms"] == pytest.approx(float(np.sqrt(np.mean(x**2))))
    with pytest.raises(ValueError, match="unknown audio decoder"):
        M.extract_audio_features(df, decoder="mp3")


def test_audio_spectrum_sine(spark):
    """extract_audio_spectrum on a pure sine: the dominant bin is the
    sine's frequency exactly (an FFT-bin-aligned tone), the centroid
    sits near it, and a low tone has ~zero high-frequency energy."""
    import numpy as np

    from modis_aggregation_spark.operators.multimodal import encode_wav

    sr, n, f0 = 8000, 1600, 440.0  # 440 Hz == bin 88 at 5 Hz spacing
    t = np.arange(n) / sr
    x = 0.5 * np.sin(2 * np.pi * f0 * t)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(x, sample_rate=sr)))],
        "id LONG, payload BINARY",
    )
    out = M.extract_audio_spectrum(df).collect()[0]
    assert out["sample_rate"] == sr and out["n_samples"] == n
    assert out["dominant_hz"] == pytest.approx(f0)
    assert abs(out["spectral_centroid_hz"] - f0) < 50.0
    assert out["hf_energy_ratio"] < 1e-6  # 440 Hz ≪ fs/8 = 1 kHz
    # non-WAV payload rejected, no silent fallback
    bad = spark.createDataFrame(
        [(2, bytearray(b"\x89PNGxxxx"))], "id LONG, payload BINARY"
    )
    with pytest.raises(Exception, match="RIFF"):
        M.extract_audio_spectrum(bad).collect()


def test_mp4_metadata_real_path(spark):
    """mp4lite: real ISO BMFF box walk — round-trip, 64-bit largesize,
    version-1 mvhd, multi-track inventory, malformed rejection, and the
    mapInPandas operator end-to-end."""
    import struct

    from modis_aggregation_spark.sinks.mp4lite import (
        encode_mp4_stub,
        parse_mp4_meta,
    )

    data = encode_mp4_stub(640, 360, 12_345, timescale=1000)
    m = parse_mp4_meta(data)
    assert (m["width"], m["height"]) == (640.0, 360.0)
    assert m["duration_sec"] == pytest.approx(12.345)
    assert m["n_tracks"] == 1 and m["track_types"] == ["vide"]
    assert m["major_brand"] == "isom"

    # 64-bit largesize on the ftyp box parses identically
    (sz,) = struct.unpack_from(">I", data, 0)
    ftyp_large = struct.pack(">I", 1) + data[4:8] + struct.pack(">Q", sz + 8) + data[8:sz]
    assert parse_mp4_meta(ftyp_large + data[sz:]) == m

    # version-1 mvhd (64-bit times) — rewrite the stub's mvhd body
    i = data.index(b"mvhd") - 4
    (msz,) = struct.unpack_from(">I", data, i)
    ts, dur = struct.unpack_from(">II", data, i + 8 + 4 + 8)
    v1_body = (
        b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, ts, dur)
        + data[i + 8 + 4 + 16 : i + msz]
    )
    v1 = struct.pack(">I", 8 + len(v1_body)) + b"mvhd" + v1_body
    delta = len(v1) - msz
    patched = data[:i] + v1 + data[i + msz :]
    # fix enclosing moov size (v1 times grow the box by 12 bytes)
    j = patched.index(b"moov") - 4
    (osz,) = struct.unpack_from(">I", patched, j)
    patched = patched[:j] + struct.pack(">I", osz + delta) + patched[j + 4 :]
    m1 = parse_mp4_meta(patched)
    assert (m1["timescale"], m1["duration"]) == (ts, dur)

    with pytest.raises(ValueError):
        parse_mp4_meta(b"\x89PNG\r\n\x1a\n1234")
    with pytest.raises(ValueError):
        parse_mp4_meta(data[:20])

    df = spark.createDataFrame(
        [(1, bytearray(data)),
         (2, bytearray(encode_mp4_stub(0, 0, 4000, timescale=8000, handler=b"soun")))],
        "id LONG, payload BINARY",
    )
    out = {r["id"]: r for r in M.extract_video_metadata(df).collect()}
    assert out[1]["width"] == 640.0 and out[1]["track_types"] == "vide"
    assert out[2]["duration_sec"] == 0.5 and out[2]["track_types"] == "soun"


def test_sample_frames(spark):
    out = M.sample_frames(_media_df(spark), n_frames=3, every_n=10).collect()
    assert len(out) == 9
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 10, 20] for v in by_id.values())


def test_connected_components_and_exact_dedup(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], ["id_a", "id_b"]
    )
    comps = {r["id"]: r["comp"] for r in D.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}

    kept = sorted(
        r["doc_id"]
        for r in D.minhash_dedup(
            _docs(spark), threshold=0.5, exact_components=True
        ).collect()
    )
    assert kept == [1, 4]


def test_extract_audio_features(spark):
    out = M.extract_audio_features(_media_df(spark), decoder="fake").collect()
    assert len(out) == 3
    for r in out:
        assert r["sample_rate"] == 16000
        assert r["n_samples"] == 1000 + (r["n_samples"] - 1000)  # in range
        assert 0.5 < r["rms"] < 1.5  # unit gaussian RMS ~ 1
        assert r["zero_crossings"] > 0
        assert r["duration_sec"] == pytest.approx(r["n_samples"] / 16000)
    again = M.extract_audio_features(_media_df(spark), decoder="fake").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))  # deterministic
    with pytest.raises(NotImplementedError):
        M.extract_audio_features(_media_df(spark), decoder="real")


def test_ivf_build_partition_pruning(spark, tmp_path):
    df, _ = _emb_df(spark, n=40, dim=8, seed=4)
    cents = S.kmeans_centroids(df, nlist=4, sample_rows=40, seed=7)
    path = str(tmp_path / "ivf_index")
    S.ivf_build(df, cents, path)
    idx = spark.read.parquet(path)
    assert sorted(idx.columns) == ["embedding", "list_id", "vec_id"]
    assert idx.count() == 40
    probed = idx.filter(F.col("list_id") == 0)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:120]


def test_inverted_index_band_and_cap(spark):
    from modis_aggregation_spark.operators.tfidf import inverted_index

    df = spark.createDataFrame(
        [(1, "the apple"), (2, "the banana apple"), (3, "the cherry"),
         (4, "the apple"), (5, "unique")],
        ["doc_id", "text"],
    )
    # min_df=2 drops banana/cherry/unique; max_df_ratio=0.7 drops "the"
    # (df 4 > 0.7·5); apple (df 3) survives
    rows = inverted_index(
        df, min_df=2, max_df_ratio=0.7, max_postings=2
    ).collect()
    got = {(r["term"], r["rank"]): (r["df"], r["doc_id"]) for r in rows}
    assert set(r["term"] for r in rows) == {"apple"}
    # cap=2 keeps the two LOWEST doc_ids of apple's {1, 2, 4}
    assert got[("apple", 1)] == (3, 1) and got[("apple", 2)] == (3, 2)
    assert len(rows) == 2
    # no cap/band: full postings in doc_id order
    allrows = inverted_index(df, min_df=1, max_df_ratio=1.0).collect()
    the = sorted(r["doc_id"] for r in allrows if r["term"] == "the")
    assert the == [1, 2, 3, 4]


def test_tf_idf(spark):
    from modis_aggregation_spark.operators.tfidf import idf_value, tf_idf

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        ["doc_id", "text"],
    )
    out = {(r["doc_id"], r["term"]): r for r in tf_idf(df).collect()}
    assert out[(1, "apple")]["tf"] == 2 and out[(1, "apple")]["df"] == 1
    assert out[(1, "banana")]["df"] == 2
    assert out[(1, "apple")]["tfidf"] == pytest.approx(2 * idf_value(3, 1))
    assert out[(2, "banana")]["tfidf"] == pytest.approx(1 * idf_value(3, 2))
    # rarer term outranks common one at equal tf
    top = tf_idf(df, top_k=1).collect()
    best = {r["doc_id"]: r["term"] for r in top}
    assert best[2] == "cherry"


def test_ivf_full_probe_equals_brute_force(spark):
    """With nprobe == nlist IVF degrades to exact search: results must
    equal cosine_topk row for row."""
    df, _ = _emb_df(spark, n=40, dim=8, seed=9)
    queries = df.filter(F.col("vec_id") < 4).withColumnRenamed("vec_id", "query_id")
    cents = S.kmeans_centroids(df, nlist=4, sample_rows=40, seed=11)
    assigned = S.ivf_assign(df, cents)
    ivf = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in S.ivf_topk(assigned, queries, cents, k=5, nprobe=4).collect()
    }
    brute = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in S.cosine_topk(df, queries, k=5).collect()
    }
    assert ivf == brute


def test_incremental_exact_dedup(spark):
    batch1 = _docs(spark)  # ids 1..5; 2/5 dup of 1
    empty_fps = spark.createDataFrame([], "fp long")
    s1, fps1 = D.incremental_exact_dedup(batch1, empty_fps)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 3, 4]
    assert fps1.count() == 3

    batch2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 1
            (11, "a genuinely new document about streaming watermarks"),
        ],
        ["doc_id", "text"],
    )
    s2, fps2 = D.incremental_exact_dedup(batch2, fps1)
    assert [r["doc_id"] for r in s2.collect()] == [11]
    assert fps2.count() == 4


def test_connected_components_long_chain(spark):
    """Min-label propagation with the round-13 pointer-doubling
    shortcut: a 25-node chain converges (all collapse to the minimum
    id), and in O(log L) label rounds, not O(L) — pinned via the
    driver job count (old shape: ~9 jobs × 25 rounds; doubled: ≤ 9
    rounds' worth).  Measured on a 30-chain: 284 jobs → 71."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], ["id_a", "id_b"]
    )
    with measure(spark, "connected_components/long_chain") as m:
        comps = {r["id"]: r["comp"] for r in D.connected_components(pairs).collect()}
    assert set(comps.values()) == {1}
    assert len(comps) == 25
    assert m["jobs"] < 120, f"O(L) round regression: {m['jobs']} driver jobs on a 24-round chain"


def test_connected_components_chain_beyond_old_iteration_bound(spark):
    """A 100-edge chain needs ~100 one-hop rounds — ABOVE the max_iter=50
    safety bound, so the pre-round-13 operator raised on it.  Pointer
    doubling converges in O(log L) rounds, well inside the bound."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id_a", "id_b"]
    )
    comps = {r["id"]: r["comp"] for r in D.connected_components(pairs).collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 101


def test_mean_embedding(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 4.0]), (1, [10.0, 20.0])],
        ["label", "embedding"],
    )
    out = {r["label"]: r for r in S.mean_embedding(df).collect()}
    assert out[0]["centroid"] == [pytest.approx(2.0), pytest.approx(3.0)]
    assert out[0]["n_vectors"] == 2
    assert out[1]["centroid"] == [pytest.approx(10.0), pytest.approx(20.0)]


def test_dedup_by_pairs_exact_and_greedy(spark):
    from modis_aggregation_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], ["doc_id", "text"]
    )
    # chain 1-2-3 (one cluster), pair 4-5, singleton 6
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    exact = {r["doc_id"] for r in
             D.dedup_by_pairs(docs, pairs, exact_components=True).collect()}
    assert exact == {1, 4, 6}
    greedy = {r["doc_id"] for r in
              D.dedup_by_pairs(docs, pairs, exact_components=False).collect()}
    assert greedy == {1, 4, 6}  # same here; chains differ only when non-transitive


# --------------------------------------------------------------------------
# round-3 additions: span dedup, fuzzy join, SemDeDup, LM scoring, PMI
# --------------------------------------------------------------------------

def test_duplicate_window_profile(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),        # 3 windows, [a..h] shared
            (2, "z a b c d e f g h"),          # 2 windows, [a..h] shared
            (3, "p q r s t u v w x"),          # 2 windows, none shared
            (4, "x y"),                        # too short: NULL ratio
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           D.duplicate_window_profile(docs, window=8).collect()}
    assert out[1]["n_windows"] == 3 and out[1]["n_dup_windows"] == 1
    assert out[1]["dup_ratio"] == pytest.approx(1 / 3)
    assert out[2]["n_windows"] == 2 and out[2]["n_dup_windows"] == 1
    assert out[3]["n_windows"] == 2 and out[3]["n_dup_windows"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["dup_ratio"] is None


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_editdist_pairs_matches_brute_force(spark):
    names = ["abc", "abd", "ab", "xabc", "zzz", "ba", "abcd", "acbd"]
    rows = [(i + 1, s) for i, s in enumerate(names)]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in D.editdist_pairs(df, "name", "id", max_dist=1).collect()}
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and _lev(a, b) <= 1:
                want[(i, j)] = _lev(a, b)
    assert got == want
    # "ab"/"ba" share a deletion key but sit at distance 2 — verification
    # must have removed them
    assert (3, 6) not in got and _lev("ab", "ba") == 2


def test_editdist_pairs_depth_two(spark):
    names = ["kitten", "sitten", "sittin", "mitten", "banana"]
    df = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(names)], ["id", "name"]
    )
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in D.editdist_pairs(df, "name", "id", max_dist=2).collect()}
    want = {}
    for i, a in enumerate(names, 1):
        for j, b in enumerate(names, 1):
            if i < j and _lev(a, b) <= 2:
                want[(i, j)] = _lev(a, b)
    assert got == want and (1, 3) in got  # kitten→sittin = 2


def test_semdedup_drop_rule(spark):
    import numpy as np

    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),     # cluster 0, cent_cos 1.0
            (2, [0.99, 0.14]),   # cluster 0, cos(1,2) ≈ 0.99
            (3, [0.0, 1.0]),     # cluster 1, alone
        ],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in S.semdedup(df, cents, tau=0.95).collect()}
    # pair (1,2) is a dup; 1 is CLOSER to the centroid, so 1 is dropped
    # (SemDeDup keeps the low-centroid-similarity member)
    assert out[1]["keep"] is False and out[2]["keep"] is True
    assert out[3]["keep"] is True
    assert out[1]["cent_cos"] == pytest.approx(1.0)
    assert out[1]["list_id"] == 0 and out[3]["list_id"] == 1


def test_lm_doc_score(spark):
    import math

    from modis_aggregation_spark.operators.tfidf import lm_doc_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in lm_doc_score(docs, k_smooth=0.5).collect()}
    # c12: (a,b)=3, (b,a)=1; c1: a=3, b=1; V=2
    p_ab = (3 + 0.5) / (3 + 0.5 * 2)
    p_ba = (1 + 0.5) / (1 + 0.5 * 2)
    d1 = -(math.log(p_ab) * 2 + math.log(p_ba)) / 3
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_nll"] == pytest.approx(d1)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["avg_nll"] == pytest.approx(-math.log(p_ab))
    assert out[2]["ppl"] == pytest.approx(1 / p_ab)


def test_pmi_collocations(spark):
    import math

    from modis_aggregation_spark.operators.tfidf import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], ["doc_id", "text"]
    )
    out = {(r["w1"], r["w2"]): r["pmi"]
           for r in pmi_collocations(docs, min_count=1).collect()}
    # T=4; (a,b): c12=3, c1=3, c2=3 → ln(12/9); (b,a): c12=1, c1=1, c2=1
    assert out[("a", "b")] == pytest.approx(math.log(3 * 4 / 9))
    assert out[("b", "a")] == pytest.approx(math.log(4))


# --------------------------------------------------------------------------
# property-based differentials for the fuzzy-join and span-dedup operators
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    names=st.lists(st.text(alphabet="abc", min_size=0, max_size=5),
                   min_size=2, max_size=10),
    k=st.sampled_from([1, 2]),
)
def test_editdist_pairs_complete_vs_brute_force(spark, names, k):
    """SymSpell candidate generation must be COMPLETE: every pair within
    levenshtein <= k appears (verification already guarantees soundness)."""
    rows = [(i + 1, s) for i, s in enumerate(names)]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in D.editdist_pairs(df, "name", "id", max_dist=k).collect()}
    want = {(i, j): _lev(a, b)
            for i, a in rows for j, b in rows
            if i < j and _lev(a, b) <= k}
    assert got == want


def _dup_profile_ref(docs: dict[int, str], w: int):
    """Python reference for duplicate_window_profile."""
    wins = {}
    for did, text in docs.items():
        toks = text.split()
        for i in range(max(0, len(toks) - w + 1)):
            wins.setdefault(" ".join(toks[i:i + w]), set()).add(did)
    out = {}
    for did, text in docs.items():
        toks = text.split()
        spans = [" ".join(toks[i:i + w])
                 for i in range(max(0, len(toks) - w + 1))]
        n = len(spans)
        nd = sum(1 for s in spans if len(wins[s]) >= 2)
        out[did] = (n, nd, nd / n if n else None)
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    corpus=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=8).map(" ".join),
        min_size=1, max_size=8),
    w=st.sampled_from([2, 3]),
)
def test_duplicate_window_profile_vs_reference(spark, corpus, w):
    docs = dict(enumerate(corpus))
    df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_ratio"])
           for r in D.duplicate_window_profile(df, window=w).collect()}
    want = _dup_profile_ref(docs, w)
    for did, (n, nd, ratio) in want.items():
        gn, gnd, gr = got[did]
        assert (gn, gnd) == (n, nd)
        assert gr == pytest.approx(ratio) if ratio is not None else gr is None


def test_pq_assign_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.standard_normal((40, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        ["vec_id", "embedding"],
    )
    books = S.pq_fit_sample(X, m=2, k=4, iters=5, seed=5)
    assert books.shape == (2, 4, 4)
    got = {(r["vec_id"], r["sub"]): (r["code"], r["sub_dist"])
           for r in S.pq_assign(df, books).collect()}
    assert len(got) == 80  # one row per (vec, subspace)
    for i in range(len(X)):
        for s in range(2):
            xs = X[i, s * 4:(s + 1) * 4]
            d = np.sqrt(((xs[None, :] - books[s]) ** 2).sum(1))
            code = int(d.argmin())
            assert got[(i, s)][0] == code
            assert got[(i, s)][1] == pytest.approx(float(d[code]))


def test_pq_fit_is_deterministic(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    X = rng.standard_normal((100, 16))
    a = S.pq_fit_sample(X, m=4, k=8)
    b = S.pq_fit_sample(X.copy(), m=4, k=8)
    assert np.array_equal(a, b)


def test_duplicate_window_profile_with_materialized_fps(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "z a b c d e f g h"),
         (3, "p q r s t u v w x")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "fps.parquet")
    D.window_fingerprints(docs, window=8).write.parquet(path)
    fps = spark.read.parquet(path)
    out = {r["doc_id"]: r
           for r in D.duplicate_window_profile(
               docs, window=8, fingerprints=fps).collect()}
    assert out[1]["n_dup_windows"] == 1 and out[2]["n_dup_windows"] == 1
    assert out[3]["n_dup_windows"] == 0


def test_pq_adc_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.standard_normal((60, 8))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        ["vec_id", "embedding"],
    )
    books = S.pq_fit_sample(X, m=2, k=8, iters=5, seed=5)
    codes = S.pq_assign(df, books).select("vec_id", "sub", "code")
    queries = df.filter("vec_id < 3").withColumnRenamed("vec_id", "query_id")
    got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
           for r in S.pq_adc_topk(codes, books, queries, k=5).collect()}
    # numpy ADC reference
    m, k, dsub = books.shape
    cds = np.empty((len(X), m), dtype=int)
    for s in range(m):
        d2 = ((X[:, s*dsub:(s+1)*dsub][:, None, :] - books[s][None]) ** 2).sum(-1)
        cds[:, s] = d2.argmin(1)
    for q in range(3):
        lut = np.stack([((X[q, s*dsub:(s+1)*dsub][None, :] - books[s]) ** 2).sum(-1)
                        for s in range(m)])
        adist = np.array([lut[s][cds[i, s]] for i in range(len(X))
                          for s in range(m)]).reshape(len(X), m).sum(1)
        order = sorted((float(adist[i]), i) for i in range(len(X)) if i != q)
        for rank in range(1, 6):
            d, i = order[rank - 1]
            assert got[(q, rank)][0] == i
            assert got[(q, rank)][1] == pytest.approx(d, abs=1e-6)


def test_source_overlap_matrix(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i", "train"),   # spans [a..h],[b..i]
            (2, "z a b c d e f g h", "eval"),    # shares [a..h] with train
            (3, "p q r s t u v w x", "eval"),    # no overlap
        ],
        ["doc_id", "text", "source"],
    )
    out = {(r["source_a"], r["source_b"]): r["shared_windows"]
           for r in D.source_overlap_matrix(docs, window=8).collect()}
    assert out[("eval", "train")] == 1          # the leaked span
    assert out[("train", "train")] == 2          # diagonal = own distinct spans
    assert out[("eval", "eval")] == 4


def _py_hash_embed(texts: dict, dim: int):
    """Python reference of hash_embed's clamped polynomial + signing."""
    import math

    out = {}
    for did, text in texts.items():
        sums: dict = {}
        for w in text.lower().split():
            h = sum(
                (ord(w[j]) % 257) * 257 ** (6 - j)
                for j in range(min(len(w), 7))
            )
            b, sg = h % dim, 1 if (h // dim) % 2 == 0 else -1
            sums[b] = sums.get(b, 0) + sg
        sums = {b: s for b, s in sums.items() if s != 0}
        nr = math.sqrt(sum(s * s for s in sums.values()))
        out[did] = {b: s / nr for b, s in sums.items()}
    return out


def test_hash_embed_matches_python_reference(spark):
    from modis_aggregation_spark.operators.tfidf import hash_embed

    texts = {
        1: "apple banana apple",
        2: "apple",
        3: "zebra yak",
        4: "café naïve \U0001f600token",  # non-ASCII + astral plane
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {}
    for r in hash_embed(docs, dim=16).collect():
        got.setdefault(r["doc_id"], {})[r["dim"]] = r["val"]
    want = _py_hash_embed(texts, 16)
    assert set(got) == set(want)
    for did in want:
        assert set(got[did]) == set(want[did]), did
        for b, v in want[did].items():
            assert got[did][b] == pytest.approx(v), (did, b)
        # unit norm
        assert sum(x * x for x in got[did].values()) == pytest.approx(1.0)


def test_minhash_incremental_equals_batch_restriction(spark):
    """minhash_lsh_incremental's documented contract: the examined pair
    set equals a batch minhash_lsh_pairs run over index UNION batch
    minus the index-index pairs (union bucket caps, same threshold).
    Verified on the real sf0.001 corpus: per-new-doc partner counts
    derived from the batch pairs must equal the incremental output."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    index_docs = docs.filter("doc_id % 4 != 0")
    batch_docs = docs.filter("doc_id % 4 = 0")
    index_ids = {r["doc_id"] for r in index_docs.select("doc_id").collect()}
    batch_ids = {r["doc_id"] for r in batch_docs.select("doc_id").collect()}

    pairs = D.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    from collections import defaultdict

    n_index = defaultdict(int)
    n_prior = defaultdict(int)
    for r in pairs:
        for n, p in ((r["id_a"], r["id_b"]), (r["id_b"], r["id_a"])):
            if n not in batch_ids:
                continue
            if p in index_ids:
                n_index[n] += 1
            elif p < n:
                n_prior[n] += 1

    sigs = D.minhash_signatures(index_docs, "text", "doc_id").persist()
    got = {
        r["id"]: (r["n_index_dups"], r["n_batch_prior_dups"], r["keep"])
        for r in D.minhash_lsh_incremental(
            batch_docs, sigs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    sigs.unpersist()
    assert set(got) == batch_ids
    for i in sorted(batch_ids):
        want = (n_index[i], n_prior[i], n_index[i] + n_prior[i] == 0)
        assert got[i] == want, (i, got[i], want)


def test_minhash_bucketed_index_roundtrip_parity(spark, tmp_path):
    """minhash_index_write/read (round 10): the band-key-bucketed
    3-table artifact must (a) round-trip the signature rows exactly,
    (b) carry band keys identical to the inline _band_keys explosion,
    (c) carry per-(band, key) counts that sum the bands table, and
    (d) drive minhash_lsh_incremental to the SAME output as the plain
    single-parquet index path."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    index_docs = docs.filter("doc_id % 5 != 0")
    batch_docs = docs.filter("doc_id % 5 = 0")
    sigs = D.minhash_signatures(index_docs, "text", "doc_id").persist()
    try:
        D.minhash_index_write(sigs, "t_mbx", str(tmp_path / "idx"), buckets=4)
        s_t, b_t, c_t = D.minhash_index_read(
            spark, "t_mbx", str(tmp_path / "idx"), buckets=4
        )
        # (a) signature rows survive the bucketed write byte-for-byte
        want_sigs = {r["id"]: (r["sh"], r["sig"]) for r in sigs.collect()}
        got_sigs = {r["id"]: (r["sh"], r["sig"]) for r in s_t.collect()}
        assert got_sigs == want_sigs
        # (b) the pre-exploded bands table == the inline explosion
        inline = sigs.select(
            "id",
            F.explode(D._band_keys(F.col("sig"), 8, 4)).alias("bk"),
        ).select("id", "bk.band", "bk.key")
        assert sorted(map(tuple, b_t.collect())) == sorted(
            map(tuple, inline.collect())
        )
        # (c) counts table sums the bands table
        want_cnt = {
            (r["band"], r["key"]): r["n"]
            for r in b_t.groupBy("band", "key").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        got_cnt = {(r["band"], r["key"]): r["n"] for r in c_t.collect()}
        assert got_cnt == want_cnt
        # (d) end-to-end dedup parity with the plain index path
        plain = D.minhash_lsh_incremental(
            batch_docs, sigs, "text", "doc_id", threshold=0.5
        )
        bucketed = D.minhash_lsh_incremental(
            batch_docs,
            s_t,
            "text",
            "doc_id",
            threshold=0.5,
            index_banded=b_t,
            index_band_counts=c_t,
            index_buckets=4,
        )
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        sigs.unpersist()
        for t in ("t_mbx_sigs", "t_mbx_bands", "t_mbx_bandcounts"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_index_read_validates_bucket_count(spark, tmp_path):
    """Round-10 ADVICE: a DDL re-declaration whose bucket count
    disagrees with what minhash_index_write used would make joins that
    trust the hash-partitioning silently drop or misroute rows — the
    writer persists a meta record (last, doubling as the completion
    marker) and the reader fails LOUDLY on mismatch."""
    import json

    docs = spark.createDataFrame(
        [(i, f"one two three four five doc {i} " * 2) for i in range(6)],
        ["doc_id", "text"],
    )
    sigs = D.minhash_signatures(docs, "text", "doc_id")
    path = str(tmp_path / "idx")
    D.minhash_index_write(sigs, "t_meta", path, buckets=4)
    try:
        # the meta record exists and carries the written layout
        meta_files = [
            p for p in (tmp_path / "idx" / "meta").iterdir()
            if p.name.endswith(".json")
        ]
        assert meta_files
        rec = json.loads(meta_files[0].read_text().strip())
        assert (rec["buckets"], rec["num_bands"], rec["num_hashes"]) == (
            4, 8, 32,
        )
        with pytest.raises(ValueError, match="buckets=8 .*written with"):
            D.minhash_index_read(spark, "t_meta_bad", path, buckets=8)
        # the matching declaration attaches fine
        s_t, _, _ = D.minhash_index_read(spark, "t_meta", path, buckets=4)
        assert s_t.count() == 6
    finally:
        for t in (
            "t_meta_sigs", "t_meta_bands", "t_meta_bandcounts",
            "t_meta_bad_sigs", "t_meta_bad_bands", "t_meta_bad_bandcounts",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_index_generations_lww(spark, tmp_path):
    """minhash_index_append / minhash_index_latest (round 10): appends
    write only their batch as a new gen partition; the read resolves
    last-writer-wins per id (the NEWEST generation owning an id defines
    its signature); replaying an append is harmless."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i} " * 3) for i in range(8)],
        ["doc_id", "text"],
    )
    sigs = D.minhash_signatures(docs, "text", "doc_id").localCheckpoint()
    path = str(tmp_path / "gens")
    D.minhash_index_append(sigs.filter("id < 4"), path, 0)
    D.minhash_index_append(sigs.filter("id >= 4"), path, 1)
    # correction: id 2 re-signed with doc 5's text in gen 2
    fixed = D.minhash_signatures(
        docs.filter("doc_id = 5").select(
            F.lit(2).cast("long").alias("doc_id"), "text"
        ),
        "text",
        "doc_id",
    )
    D.minhash_index_append(fixed, path, 2)
    latest = {r["id"]: tuple(r["sig"]) for r in
              D.minhash_index_latest(spark, path).collect()}
    want = {r["id"]: tuple(r["sig"]) for r in sigs.collect()}
    assert set(latest) == set(range(8))  # one row per id
    assert latest[2] == want[5]          # LWW: the gen-2 correction wins
    for i in (0, 1, 3, 4, 5, 6, 7):
        assert latest[i] == want[i]
    # replay: re-appending gen 2 duplicates rows with identical content
    D.minhash_index_append(fixed, path, 2)
    again = {r["id"]: tuple(r["sig"]) for r in
             D.minhash_index_latest(spark, path).collect()}
    assert again == latest


def test_minhash_incremental_validation(spark):
    sigs = D.minhash_signatures(_docs(spark), "text", "doc_id")
    with pytest.raises(ValueError, match="index_signatures"):
        D.minhash_lsh_incremental(_docs(spark), None)
    with pytest.raises(ValueError, match="new-batch DataFrame"):
        D.minhash_lsh_incremental(index_signatures=sigs)


def test_winnow_numpy_equals_hof_twin(spark):
    """winnow_fingerprints (round 8, Arrow-vectorized numpy) must match
    the pure-Catalyst construction bit-for-bit on adversarial inputs:
    empty strings, docs shorter than k, shorter than k+w-1, repeated
    chars, whitespace runs, non-ASCII codepoints."""
    rows = [
        (1, ""),
        (2, "ab"),                      # < k
        (3, "abcde"),                   # == k
        (4, "abcdefg"),                 # < k+w-1
        (5, "aaaaaaaaaaaaaaaa"),        # constant
        (6, "the  quick\tbrown\nfox jumps over the lazy dog"),
        (7, "Ünïcødé çhärs — ß and ΔΣΩ everywhere"),
        (8, "x" * 200 + "y" * 200),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    import modis_aggregation_spark.operators.curation as C

    a = {(r["id"], r["fp"]) for r in C.winnow_fingerprints(df).collect()}
    b = {(r["id"], r["fp"]) for r in C._winnow_fps_hof(df).collect()}
    assert a == b and a


def test_simhash_numpy_assembly_equals_expr_twin(spark):
    """simhash_pairs' numpy bit assembly (round 8,
    D._simhash_assemble_frame) must match the _simhash_from_hashes
    expression twin bit-for-bit: sign bit, empty token lists and null
    text (both degrade to sh 0 — the expression's `when` swallows the
    null), unicode tokens."""
    rows = [
        (1, "the quick brown fox"),
        (2, ""),
        (3, None),
        (4, "z"),
        (5, "a a a a a a a a"),
        (6, "\u00dcn\u00efc\u00f8d\u00e9 \u00df \u0394\u03a3\u03a9 tokens"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    staged = df.select(
        F.col("doc_id").alias("id"),
        F.transform(T.tokens(F.col("text")), lambda t: F.xxhash64(t)).alias(
            "__th"
        ),
    )
    expr = {
        r["id"]: r["sh"]
        for r in staged.select(
            "id", D._simhash_from_hashes(F.col("__th")).alias("sh")
        ).collect()
    }
    got = {
        r["id"]: r["sh"] for r in D._simhash_assemble_frame(staged).collect()
    }
    assert got == expr and got[2] == 0 and got[3] == 0


# --------------------------------------------------------------------------
# Count-Min sketch (x95) and Kneser-Ney LM (x96)
# --------------------------------------------------------------------------

def test_cms_overestimates_and_matches_independent_sketch(spark):
    """est >= exact for every term, and the whole (sketch + estimate)
    pipeline equals an independent numpy Count-Min built from the
    make_goldens XXH64 primitives."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from make_goldens import xxh64_bytes, xxh64_int

    from modis_aggregation_spark.operators.screening import cms_term_estimates

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " + ("alpha " * (i % 3)),) for i in range(40)],
        ["doc_id", "text"],
    )
    depth, width = 4, 8  # tiny width forces real collisions
    got = {
        r["term"]: (r["exact"], r["est"])
        for r in cms_term_estimates(docs, "text", depth=depth, width=width).collect()
    }
    # independent reconstruction
    from collections import Counter

    counts = Counter()
    for i in range(40):
        counts.update(("alpha beta gamma " + ("alpha " * (i % 3))).lower().split())
    table = [[0] * width for _ in range(depth)]

    def bucket(term, r):
        h = xxh64_int(r, xxh64_bytes(term.encode(), 42))
        signed = h - (1 << 64) if h >= (1 << 63) else h
        return signed % width

    for t, c in counts.items():
        for r in range(depth):
            table[r][bucket(t, r)] += c
    for t, c in counts.items():
        est = min(table[r][bucket(t, r)] for r in range(depth))
        assert got[t] == (c, est)
        assert est >= c  # CMS never under-estimates


def test_cms_sketch_merges_across_batches(spark):
    """Cell-wise addition of two half-corpus sketches equals the
    whole-corpus sketch (the mergeable-summaries property the operator
    exists for) — checked through the estimates, which are a pure
    function of the cells."""
    from modis_aggregation_spark.operators.screening import cms_term_estimates

    rows = [(i, f"w{i % 5} shared token") for i in range(30)]
    full = spark.createDataFrame(rows, ["doc_id", "text"])
    a = full.filter(F.col("doc_id") < 15)
    b = full.filter(F.col("doc_id") >= 15)
    est_full = {
        r["term"]: r["est"]
        for r in cms_term_estimates(full, "text", depth=2, width=4).collect()
    }
    # rebuild the two half sketches cell-by-cell via the operator's own
    # join frame: estimates from summed cells must equal the full run
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from make_goldens import xxh64_bytes, xxh64_int
    from collections import Counter

    def sketch_of(df):
        texts = [r["text"] for r in df.select("text").collect()]
        c = Counter(w for t in texts for w in t.lower().split() if w)
        tbl = [[0] * 4 for _ in range(2)]
        for t, n in c.items():
            for r in range(2):
                h = xxh64_int(r, xxh64_bytes(t.encode(), 42))
                s = h - (1 << 64) if h >= (1 << 63) else h
                tbl[r][s % 4] += n
        return c, tbl

    ca, ta = sketch_of(a)
    cb, tb = sketch_of(b)
    merged = [[ta[r][j] + tb[r][j] for j in range(4)] for r in range(2)]
    for term in set(ca) | set(cb):
        h = [xxh64_int(r, xxh64_bytes(term.encode(), 42)) for r in range(2)]
        s = [(x - (1 << 64) if x >= (1 << 63) else x) % 4 for x in h]
        est = min(merged[r][s[r]] for r in range(2))
        assert est_full[term] == est


def test_kneser_ney_hand_fixture(spark):
    """Hand-computed KN probabilities on a 3-bigram corpus, plus the
    observed-mass bound sum_w2 p_kn(w2|w1) <= 1."""
    from modis_aggregation_spark.operators.tfidf import kneser_ney_lm

    # corpus: "a b", "a b", "a c", "c b" ->
    # bigrams: (a,b):2 (a,c):1 (c,b):1 ; distinct=3
    # c1(a)=3, n1f(a)=2 ; c1(c)=1, n1f(c)=1
    # n1b(b)=2, n1b(c)=1 ; nall=3
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c"), (3, "c b")], ["doc_id", "text"]
    )
    out = {
        (r["w1"], r["w2"]): (r["c12"], r["c1"], r["p_kn"])
        for r in kneser_ney_lm(docs, discount=0.75).collect()
    }
    d = 0.75

    def kn(c12, c1, n1f, n1b, nall=3.0):
        return max(c12 - d, 0.0) / c1 + ((d * n1f) / c1) * (n1b / nall)

    assert out[("a", "b")][:2] == (2, 3)
    assert out[("a", "b")][2] == pytest.approx(kn(2, 3, 2, 2), abs=1e-12)
    assert out[("a", "c")][2] == pytest.approx(kn(1, 3, 2, 1), abs=1e-12)
    assert out[("c", "b")][2] == pytest.approx(kn(1, 1, 1, 2), abs=1e-12)
    # observed-mass bound per left word
    for w1 in ("a", "c"):
        mass = sum(v[2] for (l, _), v in out.items() if l == w1)
        assert mass <= 1.0 + 1e-9


def test_bm25_topk_queries_agrees_with_single_query_scorer(spark):
    """The multi-query DAAT retrieval (x97) must agree with the
    map-only single-query bm25 scorer: same ranking for a query, and
    scores equal within the per-term micro-quantization tolerance."""
    from modis_aggregation_spark.operators.tfidf import bm25, bm25_topk_queries

    docs = spark.createDataFrame(
        [
            (0, "table scan table scan fast"),
            (1, "hash join slow"),
            (2, "table fast fast fast"),
            (3, "window sort merge"),
            (4, "scan scan scan table"),
        ],
        ["doc_id", "text"],
    )
    q = "table scan fast"
    qdf = spark.createDataFrame([(7, q)], ["query_id", "qtext"])
    multi = {
        r["doc_id"]: (r["score_micros"], r["rank"])
        for r in bm25_topk_queries(docs, qdf, top_k=10).collect()
    }
    single = {
        r["doc_id"]: r["score"]
        for r in bm25(docs, q.split()).collect()
        if r["score"] > 0
    }
    assert set(multi) == set(single)
    n_terms = 3
    for doc_id, s in single.items():
        # per-term rounding to micros drifts at most 0.5 micro per term
        assert abs(multi[doc_id][0] - s * 1e6) <= n_terms * 0.5 + 1e-6
    # ranking identical (scores well-separated in this fixture)
    want = sorted(single, key=lambda d: (-single[d], d))
    got = sorted(multi, key=lambda d: multi[d][1])
    assert got == want


def test_hard_negatives_label_disjoint_and_matches_numpy(spark):
    """Every mined negative must carry a different label than its
    anchor, and the ranking must match a numpy cosine reference."""
    from modis_aggregation_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=4)], int(i % 3))
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    anchors = emb.filter(F.col("vec_id") < 4).withColumnRenamed(
        "vec_id", "anchor_id"
    )
    got = hard_negatives(emb, anchors, k=3).collect()
    by_anchor = {}
    labels = {i: i % 3 for i in range(30)}
    for r in got:
        assert labels[r["neighbor_id"]] != labels[r["anchor_id"]]
        by_anchor.setdefault(r["anchor_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    V = np.array([r[1] for r in rows])
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    for a in range(4):
        cos = U @ U[a]
        cand = [
            (-cos[j], j)
            for j in range(30)
            if j != a and labels[j] != labels[a]
        ]
        want = [j for _, j in sorted(cand)[:3]]
        assert [n for _, n in sorted(by_anchor[a])] == want


def test_embedding_covariance_overflow_raises(spark):
    """Round-9 VERDICT item 3 (What's wrong): Spark's non-ANSI sum(long)
    wraps SILENTLY, so a corpus big enough to overflow the int64
    product sums would return wrong covariances with no error.  The
    guard must raise: (a) per-element when a quantized value exceeds
    sqrt(int64 max) — a product could wrap; (b) on try_sum NULL when
    the sum itself overflows."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
    )

    # (a) |q| = 5e9 > sqrt(int64 max) at quant=1e6
    big = spark.createDataFrame([(0, [5000.0, 1.0])], ["vec_id", "embedding"])
    with pytest.raises(Exception, match="sqrt\\(int64 max\\)"):
        embedding_covariance(big, "embedding", dim=2).collect()
    # (b) per-element ok (3e9 < 3.037e9), products ~9e18 fit, but TWO of
    # them overflow the int64 sum
    two = spark.createDataFrame(
        [(i, [3000.0, 3000.0]) for i in range(2)], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="int64 sum overflow"):
        embedding_covariance(two, "embedding", dim=2).collect()
    # in-bound inputs are untouched: one row stays exact
    one = spark.createDataFrame([(0, [3000.0, 2.0])], ["vec_id", "embedding"])
    got = {
        (r["i"], r["j"]): r["sxy"]
        for r in embedding_covariance(one, "embedding", dim=2).collect()
    }
    assert got[(0, 0)] == 9_000_000_000_000_000_000


def test_embedding_covariance_null_element_transparent(spark):
    """Round-10 ADVICE (medium): the overflow guard must be
    NULL-transparent — a NULL element is the sanctioned missingness
    marker (rule 3) and is excluded PAIRWISE by the posexplode
    filters, not turned into a bogus 'exceeds sqrt(int64 max)' abort
    (F.when treats the NULL comparison as false).  NaN, by contrast,
    raises a distinct message."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
    )

    rows = [
        (0, [1.0, 2.0]),
        (1, [3.0, None]),   # NULL element: row contributes only dim 0
        (2, [5.0, 6.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    got = {
        (r["i"], r["j"]): (r["n"], r["sx"], r["sy"], r["sxy"])
        for r in embedding_covariance(df, "embedding", dim=2).collect()
    }
    # (0,0): all three rows; (0,1) and (1,1): rows 0 and 2 only
    assert got[(0, 0)] == (3, 9_000_000, 9_000_000, 35_000_000_000_000)
    assert got[(0, 1)] == (2, 6_000_000, 8_000_000, 32_000_000_000_000)
    assert got[(1, 1)] == (2, 8_000_000, 8_000_000, 40_000_000_000_000)
    nan = spark.createDataFrame(
        [(0, [float("nan"), 1.0])], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(Exception, match="NaN element"):
        embedding_covariance(nan, "embedding", dim=2).collect()


def test_pca_basis_project_numpy_parity(spark):
    """x103 (round 10): pca_basis + pca_project must equal an exact
    numpy reference of the same quantized pipeline BIT-FOR-BIT — the
    per-component dot product is integer arithmetic on both sides, so
    nothing approximate survives: quantize, eigh, sign-normalize,
    whiten, quantize the model, integer dot, one descale+offset."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
        pca_basis,
        pca_project,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(80, 6)).astype(np.float64)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(80)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cov = embedding_covariance(base, "embedding", dim=6)
    for whiten in (False, True):
        wq, offs, eig = pca_basis(cov, dim=6, k=3, whiten=whiten)
        assert eig == sorted(eig, reverse=True)  # descending
        # numpy reference, same integer arithmetic
        qv = np.array(
            [[round(x * 1e6) for x in v] for v in vecs], dtype=np.int64
        )
        got = {
            r["vec_id"]: list(r["proj"])
            for r in pca_project(
                base, wq, offs, "embedding", "vec_id"
            ).collect()
        }
        for i in range(80):
            for c in range(3):
                a = int((qv[i] * wq[c]).sum())
                want = a / 1e12 - offs[c]
                assert got[i][c] == want, (i, c)  # exact, not approx
        if whiten:
            # whitened components have ~unit variance (up to the 1e-6
            # model quantization)
            proj = np.array([got[i] for i in range(80)])
            assert np.allclose(proj.var(axis=0), 1.0, atol=1e-3)
        # sign convention: largest-|coefficient| entry positive
        for c in range(3):
            assert wq[c][int(np.argmax(np.abs(wq[c])))] > 0


def test_pca_project_excludes_invalid_and_guards_degenerate(spark):
    """NULL / wrong-length embeddings are excluded from the projection
    (as from the covariance they were fitted on); whitening a
    rank-deficient corpus raises instead of emitting 1/sqrt(~0)."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
        pca_basis,
        pca_project,
    )

    good = [(i, [float(i % 3 + j) for j in range(4)]) for i in range(12)]
    bad = [(100, None), (101, [1.0, 2.0])]
    df = spark.createDataFrame(
        good + bad, "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    cov = embedding_covariance(df, "embedding", dim=4)
    wq, offs, _ = pca_basis(cov, dim=4, k=2, whiten=False)
    # project over the fit frame PLUS a correct-length embedding with a
    # NULL element — no defined projection (every component touches
    # every dimension), so it must be excluded alongside 100/101
    withnull = df.unionByName(
        spark.createDataFrame(
            [(102, [1.0, None, 3.0, 4.0])],
            "vec_id INT, embedding ARRAY<DOUBLE>",
        )
    )
    out = pca_project(withnull, wq, offs, "embedding", "vec_id")
    assert sorted(r["vec_id"] for r in out.collect()) == list(range(12))
    # rank is 1 (rows are i%3 + const ramp): whitening k=2 must raise
    with pytest.raises(ValueError, match="degenerate"):
        pca_basis(cov, dim=4, k=2, whiten=True)


def test_pca_project_pandas_fallback_bit_identical(spark):
    """Round-10 VERDICT "What's wrong" #2: past ``max_literal_terms``
    the projection switches from plan-literal codegen to a
    closure-carried int64 matmul in Arrow batches.  The two paths must
    be BIT-IDENTICAL (same Spark-side quantization, exact integer dot,
    same two float ops) — forced here by setting the bound below k*d
    on the same model."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
        pca_basis,
        pca_project,
    )

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(60, 6)).astype(np.float64)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(60)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cov = embedding_covariance(base, "embedding", dim=6)
    wq, offs, _ = pca_basis(cov, dim=6, k=3, whiten=True)
    lit = {r["vec_id"]: list(r["proj"]) for r in
           pca_project(base, wq, offs).collect()}              # k*d=18 <= 4096
    pdp = {r["vec_id"]: list(r["proj"]) for r in
           pca_project(base, wq, offs, max_literal_terms=1).collect()}
    assert pdp == lit  # exact float equality, both NULL-safe exclusions
    # the fallback excludes invalid rows identically
    bad = base.unionByName(spark.createDataFrame(
        [(100, None), (101, [1.0]), (102, [1.0, None, 3.0, 4.0, 5.0, 6.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    ).select(F.col("vec_id").cast("long"), "embedding"))
    got = pca_project(bad, wq, offs, max_literal_terms=1)
    assert sorted(r["vec_id"] for r in got.collect()) == list(range(60))


def test_pca_basis_layout_invariant(spark):
    """Rule 3b for the PCA fit: the quantized model (wq ints, offsets)
    must be IDENTICAL under 1/7/32-partition layouts — the covariance
    inputs are exact int64 sums, so the eigensolver sees the same
    matrix bits regardless of shuffle merge order."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
        pca_basis,
    )

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(90, 5)).astype(np.float64)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(90)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ref = None
    for parts in (1, 7, 32):
        cov = embedding_covariance(base.repartition(parts), "embedding", dim=5)
        wq, offs, eig = pca_basis(cov, dim=5, k=3, whiten=True)
        got = (wq.tolist(), offs, eig)
        if ref is None:
            ref = got
        else:
            assert got == ref  # bit-identical model on every layout


def test_embedding_covariance_exact_and_layout_invariant(spark):
    """x100: the integer sums must equal an exact numpy reference and be
    IDENTICAL under 1/7/32-partition layouts (rule 3b by construction —
    every aggregate is an int64 sum of quantized values)."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 4)).astype(np.float64)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(60)]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qv = np.array([[round(x * 1e6) for x in v] for v in vecs], dtype=np.int64)
    want = {}
    for i in range(4):
        for j in range(i, 4):
            sx, sy = int(qv[:, i].sum()), int(qv[:, j].sum())
            sxy = int((qv[:, i] * qv[:, j]).sum())
            want[(i, j)] = (60, sx, sy, sxy)
    ref = None
    for parts in (1, 7, 32):
        got = {
            (r["i"], r["j"]): (r["n"], r["sx"], r["sy"], r["sxy"], r["cov"])
            for r in embedding_covariance(
                base.repartition(parts), "embedding", dim=4
            ).collect()
        }
        assert {k: v[:4] for k, v in got.items()} == want
        if ref is None:
            ref = got
        else:
            assert got == ref  # cov doubles identical too
    # cov matches the exact formula in raw units
    for (i, j), (n, sx, sy, sxy) in want.items():
        cov = ((sxy - sx * sy / n) / n) / 1e12
        assert ref[(i, j)][4] == cov


def test_covariance_merge_bit_identical_and_overflow(spark):
    """covariance_merge (round 11): per-batch grids re-summed by
    addition must be BIT-IDENTICAL to one pass over the union (exact
    int64 monoid + the same float op sequence), for any split; the
    re-checked try_sum raises on merge-time overflow instead of
    wrapping."""
    from modis_aggregation_spark.operators.similarity import (
        covariance_merge,
        embedding_covariance,
    )

    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(90, 5))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(90)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    full = {
        (r["i"], r["j"]): tuple(r)
        for r in embedding_covariance(df, "embedding", dim=5).collect()
    }
    parts = [
        embedding_covariance(
            df.filter(F.col("vec_id") % 3 == m), "embedding", dim=5
        )
        for m in range(3)
    ]
    merged = {
        (r["i"], r["j"]): tuple(r)
        for r in covariance_merge(*parts).collect()
    }
    assert merged == full  # exact, including the float cov column
    # merge-time overflow raises: two grids whose sxy sums wrap int64
    big = spark.createDataFrame(
        [(0, 0, 1, 1, 1, 2**62), (0, 0, 1, 1, 1, 2**62)],
        "i INT, j INT, n LONG, sx LONG, sy LONG, sxy LONG",
    )
    with pytest.raises(Exception, match="int64 sum overflow"):
        covariance_merge(big, big).collect()
    with pytest.raises(ValueError, match="at least one"):
        covariance_merge()


# --------------------------------------------------------------------------
# HyperLogLog register sketches (x111)
# --------------------------------------------------------------------------

def test_hll_registers_match_independent(spark):
    """hll_sketch's bucket/rho arithmetic (xxhash64 + shifts + bin()
    length) must equal an independent XXH64 recomputation."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from make_goldens import xxh64_bytes

    from modis_aggregation_spark.operators.screening import (
        HLL_RHO_CLAMP,
        hll_sketch,
    )

    keys = [f"doc-{i}" for i in range(300)] + ["", "é中"]
    df = spark.createDataFrame([(k,) for k in keys], ["text"]).withColumn(
        "g", F.lit(1)
    )
    got = {
        (r["bucket"],): r["register"]
        for r in hll_sketch(df, "text", ["g"]).collect()
    }
    exp: dict = {}
    for k in keys:
        h = xxh64_bytes(k.encode("utf-8"), 42) & ((1 << 64) - 1)
        bucket = h >> 56
        rest = h & ((1 << 56) - 1)
        rho = 57 - rest.bit_length() if rest else 57
        rho = min(rho, HLL_RHO_CLAMP)
        exp[(bucket,)] = max(exp.get((bucket,), 0), rho)
    assert got == exp


def test_hll_merge_invariance_and_estimate(spark):
    """Split-then-merge must equal the single-pass sketch exactly
    (registers are a max-monoid), merge must be idempotent, and the raw
    estimate from the integer numerator must land within 10% of the
    true distinct count at n >> m."""
    from modis_aggregation_spark.operators.screening import (
        hll_estimate,
        hll_merge,
        hll_sketch,
        hll_stats,
    )

    n = 5000
    df = spark.createDataFrame(
        [(f"item-{i % n}", i % 7) for i in range(2 * n)], ["text", "day"]
    )
    single = hll_sketch(df.withColumn("g", F.lit(1)), "text", ["g"])
    daily = hll_sketch(df.withColumn("g", F.lit(1)), "text", ["g", "day"])
    merged = hll_merge(daily, ["g"])
    key = lambda rows: sorted((r["bucket"], r["register"]) for r in rows)
    assert key(merged.collect()) == key(single.collect())
    # idempotent: merging the merged table with itself changes nothing
    twice = hll_merge(merged.unionByName(merged), ["g"])
    assert key(twice.collect()) == key(merged.collect())
    stats = hll_stats(merged, ["g"]).collect()[0]
    est = hll_estimate(stats["inv_numer"])
    assert abs(est - n) / n < 0.10, est
    # inv_numer is consistent with its own parts: 256 - nonzero absent
    assert stats["nonzero_buckets"] <= 256
    assert stats["inv_numer"] > (256 - stats["nonzero_buckets"]) * (1 << 50)


def test_hll_precision_validation():
    from modis_aggregation_spark.operators.screening import (
        hll_register_entries,
    )

    with pytest.raises(ValueError, match="precision"):
        hll_register_entries(F.lit("x"), p=13)


def test_hll_null_keys_excluded(spark):
    """NULL keys must not count as a distinct item (count(DISTINCT)
    semantics; xxhash64(NULL) would otherwise pass the seed hash
    through as a phantom register)."""
    from modis_aggregation_spark.operators.screening import hll_sketch

    with_nulls = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], ["text"]
    ).withColumn("g", F.lit(1))
    without = spark.createDataFrame([("a",), ("b",)], ["text"]).withColumn(
        "g", F.lit(1)
    )
    key = lambda rows: sorted((r["bucket"], r["register"]) for r in rows)
    assert key(hll_sketch(with_nulls, "text", ["g"]).collect()) == key(
        hll_sketch(without, "text", ["g"]).collect()
    )
