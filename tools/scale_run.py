"""Scale-anchor measurement: throughput curves for the 1-km granule path
and the signatures-table MinHash flow.

Run ad hoc (``python tools/scale_run.py [n_granules ...]``); results are
recorded in BASELINE.md ("Scale anchor") and docs/ROUND2.md. The point is
the SHAPE of the curve, not the absolute numbers: px/s must rise (or hold)
with granule count — the signature of a plan whose only scaling dimension
is the embarrassingly-parallel scan — and the MinHash pair step must be
decoupled from the signature build so bulk pipelines pay the build once.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from modis_aggregation_spark import get_spark  # noqa: E402
from modis_aggregation_spark.config import default_spec  # noqa: E402
from modis_aggregation_spark.observe import measure, plan_metric  # noqa: E402
from modis_aggregation_spark.operators import stats as ops_stats  # noqa: E402
from modis_aggregation_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    minhash_signatures,
)
from modis_aggregation_spark.sources.granule_datasource import (  # noqa: E402
    GranuleDataSource,
)

PX_PER_1KM_GRANULE = 2030 * 1354
# A curve's shuffle volume is either a ``measure`` scope around the phase
# or, for one DataFrame, the sum of its exchanges' own SQL metrics. Record
# counts are the scale metric where lz4 flattens low-entropy row payloads.
EXCHANGE = "ShuffleExchangeExec"


def run_1km(spark, n_granules: int) -> dict:
    """m16-shaped workload over ``n_granules`` synthetic 1-km granules:
    DataSource scan → 1350-col trim → [2::5, 3::5] sampling → 1° grid
    stats + CF counts."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(GranuleDataSource)
    ids = ",".join(str(2000 + i) for i in range(n_granules))
    df = (
        spark.read.format("modis_granules")
        .option("granule_ids", ids)
        .option("product", "1km")
        .option("variables", "ctp")
        .load()
    )
    spec = default_spec(sampling=5, sampling_offset=(2, 3))
    px = ops_stats.with_cloud_mask(
        ops_stats.with_cell(ops_stats.trim_cross_track(df), spec)
    )
    cm = F.col("cm")
    agg = px.groupBy("cell").agg(
        F.min("ctp"),
        F.max("ctp"),
        F.avg("ctp"),
        F.stddev_pop("ctp"),
        F.count("ctp"),
        F.sum(F.when(cm.between(0, 1), 1).otherwise(0)),
        F.sum(F.when(cm.between(0, 3), 1).otherwise(0)),
    )
    t0 = time.perf_counter()
    cells = agg.count()
    wall = time.perf_counter() - t0
    total_px = n_granules * PX_PER_1KM_GRANULE
    return {
        "granules": n_granules,
        "pixels_scanned": total_px,
        "cells": cells,
        "wall_sec": round(wall, 2),
        "px_per_sec": int(total_px / wall),
    }


def run_minhash(spark, sf_dir: str) -> dict:
    """Signatures-table flow on the documents table: one-time signature
    build (materialized), then LSH pairs from the reused table."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    t0 = time.perf_counter()
    sigs = minhash_signatures(docs, "text", "doc_id").persist()
    sigs.count()
    t_sigs = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs = minhash_lsh_pairs(
        id_col="doc_id", signatures=sigs, threshold=0.6
    ).count()
    t_pairs = time.perf_counter() - t0
    sigs.unpersist()
    return {
        "docs": n_docs,
        "sig_build_sec": round(t_sigs, 2),
        "pairs_sec": round(t_pairs, 2),
        "pairs": n_pairs,
        "docs_per_sec_sig": int(n_docs / t_sigs),
    }


def _permuted_corpus(spark, sf_dir: str, replicate: int):
    """documents replicated ``replicate``× with DISTINCT content per
    replica: each replica maps text through its own random alphanumeric
    substitution cipher (literal ``translate`` — pure JVM). Same length,
    same shingle counts, near-zero cross-replica Jaccard — i.e., a corpus
    ``replicate``× the size with the same per-doc statistics, which is the
    honest way to scale the LSH workload (naive replication makes every
    replica an exact dup and measures output explosion, not join scaling).
    """
    import random

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    branches = []
    for rep in range(replicate):
        perm = list(alphabet)
        random.Random(rep).shuffle(perm)
        branches.append(
            base.select(
                (F.col("doc_id") * replicate + rep).alias("doc_id"),
                F.translate("text", alphabet, "".join(perm)).alias("text"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.repartition(64).localCheckpoint()


def run_minhash_curve(spark, sf_dir: str, replicate: int) -> dict:
    """The flagship dedup path at growing corpus size: one-time signature
    build, then banded LSH pair join from the materialized table, with the
    pair phase's shuffle-write bytes recorded. The 100 TB claim is that
    docs/s holds (build: narrow CPU) and pair-join shuffle grows ~linearly
    in docs (skinny (id, band, key) rows, never the corpus payload)."""
    import shutil
    import tempfile

    docs = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = docs.count()
    # bulk-pipeline shape: the signatures table is MATERIALIZED (parquet),
    # not memory-persisted — at this corpus size the shingle arrays exceed
    # executor storage and a memory persist silently degrades to lineage
    # recompute inside the pair join (measured 2× per-doc slowdown at 640k
    # docs); a table is also what an incremental 100 TB pipeline keeps
    sig_path = tempfile.mkdtemp(prefix="minhash_sigs_")
    try:
        t0 = time.perf_counter()
        minhash_signatures(docs, "text", "doc_id").write.mode("overwrite").parquet(
            sig_path
        )
        t_sigs = time.perf_counter() - t0
        sigs = spark.read.parquet(sig_path)
        with measure(spark, "scale_run/minhash_curve") as shuffle:
            t0 = time.perf_counter()
            n_pairs = minhash_lsh_pairs(
                id_col="doc_id", signatures=sigs, threshold=0.6
            ).count()
            t_pairs = time.perf_counter() - t0
    finally:
        shutil.rmtree(sig_path, ignore_errors=True)
    return {
        "docs": n_docs,
        "sig_build_sec": round(t_sigs, 2),
        "docs_per_sec_sig": int(n_docs / t_sigs),
        "pairs_sec": round(t_pairs, 2),
        "docs_per_sec_pairs": int(n_docs / t_pairs),
        "pairs": n_pairs,
        "pair_shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_hdf4_scan(spark, n_granules: int, tmp_dir: str | None = None) -> dict:
    """REAL-file granule scan anchor: write ``n_granules`` physical
    classic-DFTAG granules (5-km swath, hdf4lite — the original
    MYD06/MYD03 container format), then run the m16-ish shape over a
    ``decoder=hdf`` scan — per-file parse + fill→NaN + calibration,
    Arrow batch out. The fake-decoder curve measures synthesis; this one
    measures an actual read+parse."""
    import shutil
    import tempfile

    from modis_aggregation_spark.sources.granule_datasource import (
        write_granule_hdf4,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(GranuleDataSource)
    d = tmp_dir or tempfile.mkdtemp(prefix="h4granules_")
    try:
        ids = [6000 + i for i in range(n_granules)]
        for g in ids:
            write_granule_hdf4(d, g, ["ctp"])
        df = (
            spark.read.format("modis_granules")
            .option("granule_ids", ",".join(map(str, ids)))
            .option("decoder", "hdf")
            .option("path", d)
            .option("variables", "ctp")
            .load()
        )
        spec = default_spec(lat_bounds=(-90.0, 90.0), lon_bounds=(-180.0, 180.0))
        t0 = time.perf_counter()
        n_cells = (
            ops_stats.cell_stats(
                ops_stats.with_cloud_mask(ops_stats.with_cell(df, spec)), ["ctp"]
            ).count()
        )
        t = time.perf_counter() - t0
        n_px = n_granules * 406 * 270
        return {
            "granules": n_granules,
            "pixels": n_px,
            "cells": n_cells,
            "sec": round(t, 2),
            "px_per_sec": int(n_px / t),
        }
    finally:
        if tmp_dir is None:
            shutil.rmtree(d, ignore_errors=True)


def run_ewma_curve(spark, n_rows: int, n_keys: int = 4) -> dict:
    """Linear-EWMA scale check (round 4): ``n_rows`` observations over
    ``n_keys`` hot keys through the chunked-recurrence SQL engine AND the
    pandas engine. The pre-round-4 closed form was O(n²) per key — 50k
    rows/key took minutes; linear means sec/row stays flat as rows grow."""
    from modis_aggregation_spark.operators.temporal import ewma

    df = (
        spark.range(n_rows)
        .select(
            (F.col("id") % n_keys).alias("k"),
            F.col("id").cast("double").alias("ts"),
            (F.sin(F.col("id").cast("double")) * 10.0).alias("v"),
        )
        .localCheckpoint()
    )
    out = {"rows": n_rows, "keys": n_keys}
    for engine in ("sql", "pandas"):
        t0 = time.perf_counter()
        n = ewma(df, "v", "ts", "k", alpha=0.3, engine=engine).count()
        t = time.perf_counter() - t0
        assert n == n_rows
        out[f"{engine}_sec"] = round(t, 2)
        out[f"{engine}_rows_per_sec"] = int(n_rows / t)
    return out


def run_ewma_hot_key(spark, n_rows: int) -> dict:
    """Pathological-hot-key anchor (round 6): ``n_rows`` observations on
    ONE key through the distributed prefix-scan engine
    (``engine="partitioned"``) vs the grouped-pandas engine (which holds
    the whole series in one task). The partitioned engine's per-task
    memory is n/partitions — the single-task OOM ceiling is gone."""
    from modis_aggregation_spark.operators.temporal import ewma

    df = (
        spark.range(n_rows)
        .select(
            F.lit(1).alias("k"),
            F.col("id").cast("double").alias("ts"),
            (F.sin(F.col("id").cast("double")) * 10.0).alias("v"),
        )
        .localCheckpoint()
    )
    out = {"rows": n_rows, "keys": 1}
    for engine in ("pandas", "partitioned"):
        t0 = time.perf_counter()
        n = ewma(df, "v", "ts", "k", alpha=0.3, engine=engine).count()
        t = time.perf_counter() - t0
        assert n == n_rows
        out[f"{engine}_sec"] = round(t, 2)
        out[f"{engine}_rows_per_sec"] = int(n_rows / t)
    return out


def run_gif_frames(spark, n_docs: int, frames_per: int = 8) -> dict:
    """Real-codec frame-sampling anchor (round 4): ``n_docs`` animated
    GIFs (``frames_per`` 32×24 frames each) decoded by giflite inside
    mapInPandas partitions; throughput in composited frames/s. The
    decode is per-payload independent — the 100× dimension is payload
    count, embarrassingly parallel like the granule scans."""
    import numpy as np
    import pandas as pd

    from modis_aggregation_spark.sinks.giflite import encode_gif
    from modis_aggregation_spark.operators.multimodal import sample_frames

    gray = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    rng = np.random.default_rng(0)
    payload = encode_gif(
        [rng.integers(0, 256, (32, 24)).astype(np.uint8) for _ in range(frames_per)],
        palette=gray,
    )
    df = spark.range(n_docs).select(
        F.col("id"), F.lit(bytearray(payload)).alias("payload")
    ).repartition(32).localCheckpoint()
    t0 = time.perf_counter()
    out = sample_frames(df, every_n=1, n_frames=frames_per, decoder="gif")
    # ONE action: a second .count() would re-run the whole decode and
    # halve the reported frames/s (round-5 advice)
    row = out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("mean_pixel").alias("s")
    ).collect()[0]
    t = time.perf_counter() - t0
    assert row["s"] is not None
    n = row["n"]
    return {
        "docs": n_docs,
        "frames": n,
        "sec": round(t, 2),
        "frames_per_sec": int(n / t),
    }


def run_jpeg_decode(spark, n_docs: int, hw: int = 64) -> dict:
    """Real-codec JPEG anchor (round 6): ``n_docs`` baseline JPEG
    payloads (``hw``×``hw`` RGB gradients) physically Huffman-decoded +
    IDCTed by the pure-Python jpeglite codec inside mapInPandas
    partitions — the multimodal corpus decode path."""
    import numpy as np

    from modis_aggregation_spark.operators.multimodal import decode_images
    from modis_aggregation_spark.sinks.jpeglite import encode_jpeg

    img = np.zeros((hw, hw, 3), np.uint8)
    img[..., 0] = np.linspace(10, 240, hw).astype(np.uint8)[None, :]
    img[..., 1] = np.linspace(20, 200, hw).astype(np.uint8)[:, None]
    img[..., 2] = 99
    payload = encode_jpeg(img, quality=85)
    df = (
        spark.range(n_docs)
        .select(F.col("id"), F.lit(bytearray(payload)).alias("payload"))
        .repartition(32)
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    out = decode_images(df, decoder="jpeg", out_hw=(8, 8))
    row = out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("mean_pixel").alias("s")
    ).collect()[0]
    t = time.perf_counter() - t0
    assert row["s"] is not None and row["n"] == n_docs
    return {
        "docs": n_docs,
        "px": n_docs * hw * hw,
        "sec": round(t, 2),
        "px_per_sec": int(n_docs * hw * hw / t),
    }


def run_jpeg_arith_decode(spark, n_docs: int, hw: int = 64) -> dict:
    """Arithmetic-JPEG anchor (round 12, backs x114): same gradient
    fixture as ``run_jpeg_decode`` but entropy-coded SOF9 (Annex D QM
    coder) — every decision runs the adaptive binary decoder, so the
    constant is pure-Python QM decisions/s rather than Huffman table
    lookups.  Per-payload decode is independent map-side work; the
    corpus dimension multiplies with executors."""
    import numpy as np

    from modis_aggregation_spark.operators.multimodal import decode_images
    from modis_aggregation_spark.sinks.jpeglite import encode_jpeg

    img = np.zeros((hw, hw, 3), np.uint8)
    img[..., 0] = np.linspace(10, 240, hw).astype(np.uint8)[None, :]
    img[..., 1] = np.linspace(20, 200, hw).astype(np.uint8)[:, None]
    img[..., 2] = 99
    payload = encode_jpeg(img, quality=85, arithmetic=True)
    df = (
        spark.range(n_docs)
        .select(F.col("id"), F.lit(bytearray(payload)).alias("payload"))
        .repartition(32)
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    out = decode_images(df, decoder="jpeg", out_hw=(8, 8))
    row = out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("mean_pixel").alias("s")
    ).collect()[0]
    t = time.perf_counter() - t0
    assert row["s"] is not None and row["n"] == n_docs
    return {
        "docs": n_docs,
        "px": n_docs * hw * hw,
        "sec": round(t, 2),
        "px_per_sec": int(n_docs * hw * hw / t),
    }


def run_flac_decode(spark, n_docs: int, n_samples: int = 4096) -> dict:
    """Real-codec FLAC anchor (round 11): ``n_docs`` stereo mid-side
    FLAC payloads (``n_samples`` smooth 16-bit samples each) physically
    Rice-decoded + prediction-reconstructed by the pure-Python flaclite
    codec inside mapInPandas partitions — the audio corpus decode path
    next to the JPEG/GIF anchors (per-payload decode is independent
    work, so the corpus dimension multiplies with executors)."""
    import numpy as np

    from modis_aggregation_spark.operators.multimodal import (
        extract_audio_features,
    )
    from modis_aggregation_spark.sinks.flaclite import encode_flac

    rng = np.random.default_rng(11)
    mono = np.cumsum(rng.integers(-200, 201, n_samples)).clip(-30000, 30000)
    st = np.stack([mono, (mono + 37).clip(-30000, 30000)], -1)
    payload = encode_flac(st, sample_rate=16000, stereo="mid_side")
    df = (
        spark.range(n_docs)
        .select(F.col("id"), F.lit(bytearray(payload)).alias("payload"))
        .repartition(32)
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    out = extract_audio_features(df, decoder="flac")
    row = out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("rms").alias("s")
    ).collect()[0]
    t = time.perf_counter() - t0
    assert row["s"] is not None and row["n"] == n_docs
    return {
        "docs": n_docs,
        "samples": n_docs * n_samples * 2,
        "sec": round(t, 2),
        "samples_per_sec": int(n_docs * n_samples * 2 / t),
    }


def run_hll_curve(spark, sf_dir: str, replicate: int) -> dict:
    """HLL-vs-exact distinct-count anchor (round 11, backs x111): the
    documents corpus replicated ``replicate``x with per-replica key
    salting so the TRUE distinct count grows with the corpus.  Claim:
    exact count-distinct shuffles one row per distinct item (grows with
    the corpus), while the register sketch shuffles at most
    groups x 2^p rows per map partition (FLAT as the corpus grows) —
    measured via per-exchange shuffleBytesWritten off the executed
    plans, both on fresh scans."""
    from pyspark.sql import functions as F

    from modis_aggregation_spark.operators.screening import (
        hll_sketch,
        hll_stats,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rep = spark.range(replicate).select(F.col("id").alias("__rep"))
    corpus = (
        docs.select("source", "text")
        .crossJoin(F.broadcast(rep))
        .select(
            "source",
            F.concat_ws("#", F.col("text"), F.col("__rep")).alias("text"),
        )
        .repartition(32)
        .localCheckpoint()
    )
    n_rows = corpus.count()

    t0 = time.perf_counter()
    exact_df = corpus.groupBy("source").agg(
        F.countDistinct("text").alias("d")
    )
    exact = {r["source"]: r["d"] for r in exact_df.collect()}
    t_exact = time.perf_counter() - t0
    exact_bytes = plan_metric(exact_df, EXCHANGE, "shuffleBytesWritten")

    t0 = time.perf_counter()
    sketch_df = hll_stats(hll_sketch(corpus, "text", ["source"]), ["source"])
    stats = sketch_df.collect()
    t_hll = time.perf_counter() - t0
    hll_bytes = plan_metric(sketch_df, EXCHANGE, "shuffleBytesWritten")

    from modis_aggregation_spark.operators.screening import hll_estimate

    errs = [
        abs(hll_estimate(r["inv_numer"]) - exact[r["source"]])
        / max(exact[r["source"]], 1)
        for r in stats
    ]
    return {
        "replicate": replicate,
        "rows": n_rows,
        "true_distinct": sum(exact.values()),
        "exact_sec": round(t_exact, 2),
        "hll_sec": round(t_hll, 2),
        "exact_shuffle_mb": round(exact_bytes / 1e6, 2),
        "hll_shuffle_mb": round(hll_bytes / 1e6, 2),
        "max_rel_err": round(max(errs), 4),
    }


def run_qdigest_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Q-digest-vs-exact quantile anchor (round 12, backs x115/x116):
    the documents corpus replicated ``replicate``x (value distribution
    fixed, counts grow).  Claim: the exact order-statistics path
    (group_percentiles) must move EVERY row through its window
    exchange (shuffle grows with the corpus), while the q-digest build
    shuffles at most one row per (group, distinct clamped value) per
    map partition — FLAT as the corpus grows — and its quantile
    estimates stay inside the u·t rank-error bound.  Shuffle bytes via
    per-exchange shuffleBytesWritten off the executed plans."""
    from pyspark.sql import functions as F

    from modis_aggregation_spark.operators.quantiles import (
        group_percentiles,
    )
    from modis_aggregation_spark.operators.screening import (
        qdigest_quantiles,
        qdigest_sketch,
    )

    u_bits, k = 10, 32
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rep = spark.range(replicate).select(F.col("id").alias("__rep"))
    corpus = (
        docs.select(
            "source",
            F.least(F.length("text"), F.lit((1 << u_bits) - 1)).alias("v"),
        )
        .crossJoin(F.broadcast(rep))
        .select("source", "v")
        .repartition(32)
        .localCheckpoint()
    )
    n_rows = corpus.count()

    t0 = time.perf_counter()
    exact_df = group_percentiles(
        corpus, ["source"], "v", {"q50": 0.5, "q90": 0.9}
    )
    exact = {r["source"]: (r["q50"], r["q90"]) for r in exact_df.collect()}
    t_exact = time.perf_counter() - t0
    exact_bytes = plan_metric(exact_df, EXCHANGE, "shuffleBytesWritten")
    exact_recs = plan_metric(exact_df, EXCHANGE, "shuffleRecordsWritten")

    t0 = time.perf_counter()
    sketch_df = qdigest_sketch(corpus, "v", ["source"], u_bits, k)
    est_df = qdigest_quantiles(
        sketch_df, ["source"], {"q50": 0.5, "q90": 0.9}, u_bits
    )
    est = {r["source"]: (r["q50"], r["q90"]) for r in est_df.collect()}
    t_sketch = time.perf_counter() - t0
    sketch_bytes = plan_metric(est_df, EXCHANGE, "shuffleBytesWritten")
    sketch_recs = plan_metric(est_df, EXCHANGE, "shuffleRecordsWritten")

    n_per = {
        r["source"]: r["n"]
        for r in corpus.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # worst observed rank error of the estimates, in units of the u·t
    # bound (must stay <= 1.0)
    sorted_vals = {
        r["source"]: r["vs"]
        for r in corpus.groupBy("source")
        .agg(F.sort_array(F.collect_list("v")).alias("vs"))
        .collect()
    }
    import bisect

    worst = 0.0
    for src, (e50, e90) in est.items():
        vs = sorted_vals[src]
        n = n_per[src]
        t = max(1, n // k)
        for p, e in ((0.5, e50), (0.9, e90)):
            target = max(1, -(-int(p * n * 1e6) // 1_000_000))
            lo = bisect.bisect_left(vs, e) + 1
            hi = bisect.bisect_right(vs, e)
            dist = 0 if lo <= target <= hi else min(
                abs(target - lo), abs(target - hi)
            )
            worst = max(worst, dist / (u_bits * t))
    return {
        "replicate": replicate,
        "rows": n_rows,
        "exact_sec": round(t_exact, 2),
        "sketch_sec": round(t_sketch, 2),
        "exact_shuffle_mb": round(exact_bytes / 1e6, 2),
        "sketch_shuffle_mb": round(sketch_bytes / 1e6, 2),
        "exact_shuffle_rows": exact_recs,
        "sketch_shuffle_rows": sketch_recs,
        "worst_rank_err_vs_bound": round(worst, 3),
        "q50_match": all(
            abs(exact[s][0] - est[s][0]) <= 64 for s in exact
        ),
    }


def run_funnel_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Funnel-shape anchor (round 11, backs r60): events replicated
    ``replicate``x with salted users, the 4-step funnel computed two
    ways — (a) `funnel_steps` (k filtered min-aggregations keyed on the
    user), (b) the collect_list rewrite (one shuffle that BUFFERS every
    user's full event history in an aggregation state, then a Python
    scan per user).  Claim: (a)'s shuffle carries one timestamp per
    user per step and its state is one row; (b)'s shuffle carries the
    whole corpus into per-user arrays — the state that OOMs a hot user
    at 100x.  Both produce identical completed-user counts."""
    from pyspark.sql import functions as F

    from modis_aggregation_spark.operators.sessions import funnel_steps

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "ts", "event_type"
    )
    rep = spark.range(replicate).select(F.col("id").alias("__rep"))
    corpus = (
        ev.crossJoin(F.broadcast(rep))
        .select(
            (F.col("user_id") * replicate + F.col("__rep")).alias("user_id"),
            "ts",
            "event_type",
        )
        .repartition(32)
        .localCheckpoint()
    )
    n_rows = corpus.count()
    steps = ["signup", "view", "click", "purchase"]

    t0 = time.perf_counter()
    op_df = funnel_steps(corpus, steps).filter(F.col("depth") == 4)
    n_op = op_df.count()
    t_op = time.perf_counter() - t0
    op_bytes = plan_metric(op_df, EXCHANGE, "shuffleBytesWritten")

    # the naive rewrite: per-user sorted event arrays, matched in Python
    idx = {s: i for i, s in enumerate(steps)}

    @F.udf("int")
    def match_depth(evs):
        stage, last = 0, None
        for t, et in sorted(evs, key=lambda e: e[0]):
            if stage >= 4:
                break
            if idx.get(et) != stage:
                continue
            if stage > 0 and t <= last:
                continue
            last = t
            stage += 1
        return stage

    t0 = time.perf_counter()
    naive_df = (
        corpus.filter(F.col("event_type").isin(steps))
        .groupBy("user_id")
        .agg(F.collect_list(F.struct("ts", "event_type")).alias("evs"))
        .select(match_depth("evs").alias("depth"))
        .filter(F.col("depth") == 4)
    )
    n_naive = naive_df.count()
    t_naive = time.perf_counter() - t0
    naive_bytes = plan_metric(naive_df, EXCHANGE, "shuffleBytesWritten")
    assert n_op == n_naive, (n_op, n_naive)
    return {
        "replicate": replicate,
        "rows": n_rows,
        "completed_users": n_op,
        "op_sec": round(t_op, 2),
        "naive_sec": round(t_naive, 2),
        "op_shuffle_mb": round(op_bytes / 1e6, 2),
        "naive_shuffle_mb": round(naive_bytes / 1e6, 2),
    }


def run_kmeans_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Distributed-k-means anchor (round 6): full-corpus Lloyd training
    (operators/similarity.py:kmeans_train, k=8, 3 iterations) over the
    jittered-replica embedding corpus. The 100 TB claims: per-iteration
    cost is ONE assignment pass + a shuffle bounded by tasks*k*d rows
    (shuffle_mb must stay flat as vectors grow), and the learned model
    is bit-identical under any partitioning."""
    from modis_aggregation_spark.operators.similarity import kmeans_train

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    with measure(spark, "scale_run/kmeans_curve") as shuffle:
        t0 = time.perf_counter()
        model = kmeans_train(corpus, k=8, iters=3)
        n_rows = model.count()
        t = time.perf_counter() - t0
    assert n_rows == 8 * 64
    return {
        "vectors": n_vecs,
        "sec": round(t, 2),
        "vecs_per_sec_per_iter": int(3 * n_vecs / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_bloom_screen(spark, sf_dir: str, replicate: int) -> dict:
    """Bloom-decontamination anchor (round 6): the benchmark bit set is
    built from the BASE corpus (doc_id %% 23), the screen runs over the
    cipher-replicated corpus (realistically low hit rate - replicas
    share no grams with the benchmark). The 100 TB claims: the filter
    is m bits however large the benchmark, and the only shuffle is the
    match-count aggregation over grams with >=1 hit - shuffle_mb stays
    a sliver of corpus size."""
    from modis_aggregation_spark.operators.screening import bloom_screen

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench = base.filter(F.col("doc_id") % 23 == 0)
    train = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = train.count()
    with measure(spark, "scale_run/bloom_screen") as shuffle:
        t0 = time.perf_counter()
        out = bloom_screen(train, bench, n=3)
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("flagged").cast("long")).alias("hits"),
        ).collect()[0]
        t = time.perf_counter() - t0
    return {
        "docs": n_docs,
        "screened": int(row["n"]),
        "flagged": int(row["hits"] or 0),
        "sec": round(t, 2),
        "docs_per_sec": int(n_docs / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_unigram_encode(spark, sf_dir: str, replicate: int) -> dict:
    """Unigram-encode anchor (round 6): the model trains once on the
    base corpus, then the cipher-replicated corpus is Viterbi-segmented
    end-to-end (operators/tokenizer.py:unigram_encode) - the bpe_encode
    measurement shape, stressing the distinct-word Arrow pass (replicas
    multiply the vocabulary ~replicate x, the conservative direction)."""
    from modis_aggregation_spark.operators.tokenizer import (
        unigram_encode,
        unigram_train,
    )

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    model = {
        r["piece"]: r["count_micro"]
        for r in unigram_train(
            base, "text", seed_multi=48, vocab_size=32, num_iters=2
        ).collect()
    }
    docs = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = docs.count()
    with measure(spark, "scale_run/unigram_encode") as shuffle:
        t0 = time.perf_counter()
        out = unigram_encode(docs, model, "text", "doc_id")
        agg = out.agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_pieces").alias("pieces")
        ).collect()[0]
        t = time.perf_counter() - t0
    assert agg["n"] == n_docs
    return {
        "docs": n_docs,
        "pieces": int(agg["pieces"]),
        "sec": round(t, 2),
        "docs_per_sec": int(n_docs / t),
        "pieces_per_sec": int(agg["pieces"] / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_warc_scan(spark, sf_dir: str, n_files: int = 8, replicate: int = 1) -> dict:
    """WARC-source anchor (round 6): the documents table written as
    ``n_files`` real per-record-gzip WARC files (round-robin by doc_id,
    one warcinfo + one HTTP response record per doc), scanned back by
    the warc DataSource with the warc_type pushdown active. Records/s
    is the per-shard sequential parse rate; files scan in parallel -
    the Common Crawl shard shape (one task per ~1 GB .warc.gz)."""
    import shutil
    import tempfile

    from modis_aggregation_spark.sources.warc import (
        WarcDataSource,
        write_warc,
    )

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tmp = tempfile.mkdtemp(prefix="scale_warc_")
    recs: list[list[dict]] = [
        [
            {
                "warc_type": "warcinfo",
                "content_type": "application/warc-fields",
                "block": b"software: scale_run\r\n",
            }
        ]
        for _ in range(n_files)
    ]
    n_docs = 0
    for r in base.select("doc_id", "text").toLocalIterator():
        body = r["text"].encode("utf-8")
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        for rep in range(replicate):
            did = r["doc_id"] * replicate + rep
            recs[did % n_files].append(
                {
                    "warc_type": "response",
                    "target_uri": f"https://example.org/doc/{did}",
                    "content_type": "application/http;msgtype=response",
                    "block": http,
                }
            )
            n_docs += 1
    paths = []
    for i, rr in enumerate(recs):
        paths.append(write_warc(os.path.join(tmp, f"s{i}.warc.gz"), rr))
    spark.dataSource.register(WarcDataSource)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    t0 = time.perf_counter()
    df = (
        spark.read.format("warc")
        .option("paths", ",".join(paths))
        .load()
        .filter(F.col("warc_type") == "response")
    )
    n = df.count()
    t = time.perf_counter() - t0
    shutil.rmtree(tmp, ignore_errors=True)
    assert n == n_docs
    return {
        "files": n_files,
        "records": n,
        "sec": round(t, 2),
        "records_per_sec": int(n / t),
    }


def run_avi_decode(spark, n_docs: int, frames_per: int = 6, hw: int = 32) -> dict:
    """Real-video anchor (round 6): ``n_docs`` AVI/MJPEG payloads
    (``frames_per`` gradient frames each) physically container-walked +
    JPEG-decoded by avilite/jpeglite inside mapInPandas partitions -
    the video frame-sampling corpus path."""
    import numpy as np

    from modis_aggregation_spark.operators.multimodal import sample_frames
    from modis_aggregation_spark.sinks.avilite import encode_avi_mjpeg
    from modis_aggregation_spark.sinks.jpeglite import encode_jpeg

    frames = []
    for fi in range(frames_per):
        img = np.zeros((hw, hw), np.uint8)
        img[:] = np.linspace(10 + fi * 7, 200, hw).astype(np.uint8)[None, :]
        frames.append(encode_jpeg(img, quality=75))
    payload = encode_avi_mjpeg(frames, width=hw, height=hw, fps_num=25)
    df = (
        spark.range(n_docs)
        .select(F.col("id"), F.lit(bytearray(payload)).alias("payload"))
        .repartition(32)
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    out = sample_frames(df, every_n=1, n_frames=frames_per, decoder="avi")
    row = out.agg(
        F.count(F.lit(1)).alias("n"), F.sum("mean_pixel").alias("s")
    ).collect()[0]
    t = time.perf_counter() - t0
    assert row["n"] == n_docs * frames_per and row["s"] is not None
    return {
        "docs": n_docs,
        "frames": int(row["n"]),
        "px": int(row["n"]) * hw * hw,
        "sec": round(t, 2),
        "frames_per_sec": int(row["n"] / t),
        "px_per_sec": int(row["n"] * hw * hw / t),
    }


def run_inverted_index(spark, sf_dir: str, replicate: int) -> dict:
    """Inverted-index anchor (round 4): posting-list build over the
    replicated corpus; docs/s plus the shuffle-byte bill (skinny
    (term, doc) rows only — text never shuffles past the explode)."""
    from modis_aggregation_spark.operators.tfidf import inverted_index

    docs = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = docs.count()
    with measure(spark, "scale_run/inverted_index") as shuffle:
        t0 = time.perf_counter()
        out = inverted_index(docs, min_df=2, max_df_ratio=0.9, max_postings=100)
        n_rows = out.count()
        t = time.perf_counter() - t0
    return {
        "docs": n_docs,
        "posting_rows": n_rows,
        "sec": round(t, 2),
        "docs_per_sec": int(n_docs / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_bpe_encode(spark, sf_dir: str, replicate: int) -> dict:
    """BPE-encode anchor (round 6): merges trained once on the base
    corpus, then the replicated corpus is tokenized end-to-end
    (operators/tokenizer.py:bpe_encode). The cipher replicas multiply
    the DISTINCT-word table ~replicate× (real vocabs grow sublinearly —
    this is the conservative direction), so the curve stresses both the
    word-cache Python pass and the skinny-triple reassembly. Reports
    docs/s, tokens/s and the shuffle bill (text never shuffles)."""
    from modis_aggregation_spark.operators.tokenizer import bpe_encode, bpe_train

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(base, "text", num_merges=8).collect()
    ]
    docs = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = docs.count()
    with measure(spark, "scale_run/bpe_encode") as shuffle:
        t0 = time.perf_counter()
        out = bpe_encode(docs, merges, "text", "doc_id")
        agg = out.agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("toks")
        ).collect()[0]
        t = time.perf_counter() - t0
    assert agg["n"] == n_docs
    return {
        "docs": n_docs,
        "tokens": int(agg["toks"]),
        "sec": round(t, 2),
        "docs_per_sec": int(n_docs / t),
        "tokens_per_sec": int(agg["toks"] / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_archive_scan(spark, sf_dir: str, replicate: int, n_archives: int = 8) -> dict:
    """Archive-source anchor (round 4): the documents corpus replicated
    ``replicate``× and packed into ``n_archives`` zip shards, then scanned
    by the text_archive DataSource with a tokens+length aggregation —
    members/s and MB/s for the WET/dump ingestion path."""
    import os as _os
    import tempfile

    from modis_aggregation_spark.sources.archive_datasource import (
        ArchiveDataSource,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ArchiveDataSource)
    docs = _permuted_corpus(spark, sf_dir, replicate)
    d = tempfile.mkdtemp(prefix="arch_scan_")
    import io
    import zipfile

    paths = [f"{d}/shard{i}.zip" for i in range(n_archives)]
    writers = [zipfile.ZipFile(p, "w", zipfile.ZIP_DEFLATED) for p in paths]
    n_members = 0
    total_bytes = 0
    for r in docs.toLocalIterator():
        data = r["text"].encode("utf-8")
        writers[r["doc_id"] % n_archives].writestr(f"doc_{r['doc_id']}.txt", data)
        n_members += 1
        total_bytes += len(data)
    for w in writers:
        w.close()
    try:
        df = (
            spark.read.format("text_archive")
            .option("paths", ",".join(paths))
            .load()
        )
        t0 = time.perf_counter()
        agg = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars")
        ).collect()[0]
        t = time.perf_counter() - t0
        assert agg["n"] == n_members
        return {
            "archives": n_archives,
            "members": n_members,
            "mb": round(total_bytes / 1e6, 1),
            "sec": round(t, 2),
            "members_per_sec": int(n_members / t),
            "mb_per_sec": round(total_bytes / 1e6 / t, 1),
        }
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def run_dupspan_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Duplicated-span coverage (x51 shape) at growing corpus size: the
    100 TB claim is that docs/s holds (the three shuffles move only
    skinny (doc_id, fp) rows / fp-keyed aggregates — never text) and
    total shuffle grows ~linearly in corpus tokens. The permuted corpus
    keeps per-replica dup structure constant, so output statistics stay
    comparable across sizes."""
    from modis_aggregation_spark.operators.dedup import duplicate_window_profile

    docs = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = docs.count()
    with measure(spark, "scale_run/dupspan_curve") as shuffle:
        t0 = time.perf_counter()
        out = duplicate_window_profile(docs, window=8)
        # a bare count() lets Catalyst ELIMINATE the flag join (the right side
        # is an aggregate keyed on doc_id, provably duplicate-free) and with it
        # the whole fp pipeline — aggregate the computed columns instead so the
        # measured plan is the real one
        row = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_dup_windows").alias("dups"),
        ).first()
        t = time.perf_counter() - t0
    return {
        "docs": n_docs,
        "rows": row["rows"],
        "dup_windows": row["dups"],
        "sec": round(t, 2),
        "docs_per_sec": int(n_docs / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_screen(spark, sf_dir: str, replicate: int = 64) -> dict:
    """One-pass corpus screen (C4 line rules ∧ full Gopher battery ∧ PII
    counts) over the documents table — the map-only narrow stage that
    fronts every curation pipeline. Throughput here IS the 100 TB number:
    no shuffle, cost is O(bytes scanned) per executor."""
    from modis_aggregation_spark.functions.text import (
        c4_clean,
        gopher_quality,
        pii_scrub,
    )

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .crossJoin(spark.range(replicate).select(F.col("id").alias("__rep")))
        .repartition(64)
        .localCheckpoint()
    )
    n_docs = docs.count()
    n_bytes = docs.agg(F.sum(F.length("text"))).first()[0]
    staged = pii_scrub(gopher_quality(c4_clean(docs, min_sentences=1)))
    t0 = time.perf_counter()
    kept = staged.filter(F.col("kept") & F.col("gopher_pass")).count()
    wall = time.perf_counter() - t0
    return {
        "docs": n_docs,
        "text_mb": round(n_bytes / 1e6, 1),
        "kept": kept,
        "wall_sec": round(wall, 2),
        "docs_per_sec": int(n_docs / wall),
        "mb_per_sec": round(n_bytes / 1e6 / wall, 1),
    }


def run_pagerank(spark, sf_dir: str, n_nodes: int = 50_000, replicate: int = 4) -> dict:
    """Fixed-iteration PageRank over a synthetic graph derived from
    lineitem (≈1 edge per row, n_nodes node space): the per-round cost is
    one O(E) hash join + aggregation, so edges/s/round is the number that
    extrapolates to a billion-edge similarity graph."""
    from modis_aggregation_spark.operators.graph import pagerank

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    edges = (
        li.select(
            (F.col("l_orderkey") % n_nodes).alias("src"),
            ((F.col("l_partkey") * 7 + F.col("l_suppkey")) % n_nodes).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .crossJoin(spark.range(replicate).select(F.col("id").alias("__copy")))
        .select(
            (F.col("src") + F.col("__copy") * n_nodes).alias("src"),
            (F.col("dst") + F.col("__copy") * n_nodes).alias("dst"),
        )
        .localCheckpoint()
    )
    n_edges = edges.count()
    iters = 3
    t0 = time.perf_counter()
    n_ranked = pagerank(edges, iterations=iters).count()
    wall = time.perf_counter() - t0
    return {
        "edges": n_edges,
        "nodes_ranked": n_ranked,
        "iterations": iters,
        "wall_sec": round(wall, 2),
        "edges_per_sec_per_round": int(n_edges * iters / wall),
    }


def _jittered_embeddings(spark, sf_dir: str, replicate: int):
    """embeddings replicated ``replicate``× with per-replica deterministic
    element-wise jitter (sin of position × replica — pure JVM), so replicas
    are distinct vectors with the same scale/distribution instead of exact
    copies. Distinct vectors matter: exact copies would give every IVF
    list ``replicate`` identical members and understate per-list scoring
    cost."""
    base = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    branches = []
    for rep in range(replicate):
        jit = base.select(
            (F.col("vec_id") * replicate + rep).alias("vec_id"),
            F.expr(
                f"transform(embedding, (v, p) -> "
                f"v + 0.05 * sin(p * 2.39996 + {rep} * 1.61803))"
            ).alias("embedding"),
        )
        branches.append(jit)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.repartition(64).localCheckpoint()


def run_pq_curve(spark, sf_dir: str, replicate: int) -> dict:
    """PQ encode + ADC search at growing corpus size: codebook fit is a
    bounded driver sample (constant), encoding is the map-only Arrow
    stage (vec/s must hold or rise), and ADC top-k for a 32-query batch
    scans only the code table through a broadcast LUT — adc shuffle is
    the per-(query, vec) partial-agg output, ~|q|·vecs skinny rows before
    map-side combine collapses the m subspace rows."""
    from modis_aggregation_spark.operators.similarity import (
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
    )

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    t0 = time.perf_counter()
    books = pq_codebooks(corpus, m=8, k=16, sample_rows=4096, order_col="vec_id")
    t_fit = time.perf_counter() - t0
    t0 = time.perf_counter()
    codes = pq_assign(corpus, books).select("vec_id", "sub", "code").localCheckpoint()
    n_code_rows = codes.count()
    t_enc = time.perf_counter() - t0
    queries = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .orderBy("query_id")
        .limit(32)
    )
    with measure(spark, "scale_run/pq_curve") as shuffle:
        t0 = time.perf_counter()
        n_results = pq_adc_topk(codes, books, queries, k=10).count()
        t_adc = time.perf_counter() - t0
    return {
        "vectors": n_vecs,
        "fit_sec": round(t_fit, 2),
        "encode_sec": round(t_enc, 2),
        "vectors_per_sec_encode": int(n_vecs / t_enc),
        "code_rows": n_code_rows,
        "adc_sec": round(t_adc, 2),
        "adc_results": n_results,
        "adc_shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def _suffixed_names(spark, sf_dir: str, replicate: int):
    """customer names replicated ``replicate``× with a per-replica suffix
    whose digits are DOUBLED (#0707, #0808, …) so any two replica
    suffixes differ by >= 2 edits — replicas of the same base name are
    never lev-1 pairs of each other. Distinct strings with the same
    length/structure: the deletion-neighborhood key distribution (and
    true pair density per replica) is preserved while the input grows."""
    base = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_name"
    )
    branches = [
        base.select(
            (F.col("c_custkey") * replicate + rep).alias("id"),
            F.concat(
                F.col("c_name"), F.lit(f"#{rep:02d}{rep:02d}")
            ).alias("name"),
        )
        for rep in range(replicate)
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.repartition(64).localCheckpoint()


def run_editdist_curve(spark, sf_dir: str, replicate: int) -> dict:
    """SymSpell edit-distance join at growing input: keys/row is constant
    (L+1 hashed deletion variants), so the candidate join shuffles
    ~16(L+1) B/row and strings/s should hold — the curve certifies the
    blocking never degrades toward the O(n²) brute force the oracle
    runs."""
    from modis_aggregation_spark.operators.dedup import editdist_pairs

    names = _suffixed_names(spark, sf_dir, replicate)
    n = names.count()
    with measure(spark, "scale_run/editdist_curve") as shuffle:
        t0 = time.perf_counter()
        n_pairs = editdist_pairs(names, "name", "id", max_dist=1).count()
        t = time.perf_counter() - t0
    return {
        "strings": n,
        "pairs": n_pairs,
        "sec": round(t, 2),
        "strings_per_sec": int(n / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_ann_curve(spark, sf_dir: str, replicate: int) -> dict:
    """IVF ANN at growing corpus size: centroid fit (bounded driver
    sample), corpus assignment (Arrow-batched pandas UDF, map-only), then
    top-k for a 32-query batch at nprobe=4/nlist=16. The 100 TB claims:
    assignment throughput holds (narrow), and the scored candidate set is
    ~nprobe/nlist of the corpus — probed_frac is the measured I/O+compute
    reduction IVF buys over brute force, independent of corpus size."""
    from modis_aggregation_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    t0 = time.perf_counter()
    cents = kmeans_centroids(corpus, nlist=16, sample_rows=4096, order_col="vec_id")
    t_fit = time.perf_counter() - t0
    t0 = time.perf_counter()
    assigned = ivf_assign(corpus, cents).localCheckpoint()
    list_sizes = {
        r["list_id"]: r["n"]
        for r in assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    t_assign = time.perf_counter() - t0
    queries = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .orderBy("query_id")
        .limit(32)
    )
    with measure(spark, "scale_run/ann_curve") as shuffle:
        t0 = time.perf_counter()
        topk = ivf_topk(assigned, queries, cents, k=10, nprobe=4)
        n_results = topk.count()
        t_topk = time.perf_counter() - t0
    # probe pruning: every query scores exactly its 4 probe lists; the
    # mean list holds n_vecs/16 vectors, so the scored fraction is
    # ≈ nprobe/nlist = 0.25 modulo skew (max_list_skew below bounds it)
    mean_list = sum(list_sizes.values()) / max(len(list_sizes), 1)
    return {
        "vectors": n_vecs,
        "fit_sec": round(t_fit, 2),
        "assign_sec": round(t_assign, 2),
        "vectors_per_sec_assign": int(n_vecs / t_assign),
        "topk_sec": round(t_topk, 2),
        "topk_results": n_results,
        "nlist": 16,
        "nprobe": 4,
        "mean_list_size": int(mean_list),
        "max_list_skew": round(max(list_sizes.values()) / mean_list, 2),
        "topk_shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_pairverify_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Exact all-pairs cosine (the x21 block-matrix rewrite, round 9) at
    growing corpus size. O(n²) pairs is the POINT (it is the audit
    baseline), so the 100 TB claim is about constants and shape, not
    asymptotics: the exchange carries n·nblocks block-matrix rows (not
    n² pair payloads) and pairs/s must hold roughly flat as n grows —
    the signature of a verify bounded by parallel numpy, not by
    transfer or a single straggler task."""
    from modis_aggregation_spark.operators.similarity import cosine_pairs_exact

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    with measure(spark, "scale_run/pairverify_curve") as shuffle:
        t0 = time.perf_counter()
        out = cosine_pairs_exact(corpus, "embedding", "vec_id", threshold=0.35)
        n_pairs_kept = out.count()
        t = time.perf_counter() - t0
    total_pairs = n_vecs * (n_vecs - 1) // 2
    return {
        "vectors": n_vecs,
        "pairs_scored": total_pairs,
        "pairs_kept": n_pairs_kept,
        "wall_sec": round(t, 2),
        "mpairs_per_sec": round(total_pairs / t / 1e6, 1),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_lsh_pairs_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Hyperplane-LSH near-dup pairs (the x8 rewrite, round 9) at growing
    corpus size: one signature pass, in-bucket pair explosion, vectorized
    Arrow verify. The 100 TB claim: candidates (and therefore verify
    cost) scale with bucket COLLISION MASS, which the banding parameters
    control — so the curve runs the production banding (64 planes, four
    16-bit bands: random-pair band collision 1/65536) rather than the
    contract query's toy 4-bit bands (1/16 per band — fine at 2k
    vectors, quadratic on a replica-heavy corpus). The jittered corpus
    is ~(replicate-1)/replicate near-duplicates by construction, so
    pairs_kept tracks the true duplicate mass and wall tracks output
    size, not n²."""
    from modis_aggregation_spark.operators.dedup import embedding_pairs

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    with measure(spark, "scale_run/lsh_pairs_curve") as shuffle:
        t0 = time.perf_counter()
        out = embedding_pairs(
            corpus, "embedding", "vec_id", dim=64,
            n_planes=64, n_bands=4, threshold=0.4,
        )
        n_kept = out.count()
        t = time.perf_counter() - t0
    return {
        "vectors": n_vecs,
        "pairs_kept": n_kept,
        "wall_sec": round(t, 2),
        "vectors_per_sec": int(n_vecs / t),
        "shuffle_mb": round(shuffle["shuffle_bytes"] / 1e6, 1),
    }


def run_semdedup_curve(spark, sf_dir: str, replicate: int) -> dict:
    """SemDeDup (the x52 applyInPandas rewrite, round 9) at growing
    corpus size: Σ|cluster|² pair work inside per-cluster groups. The
    100 TB claim: the corpus crosses the Arrow boundary once, and
    pair-scan throughput holds as clusters grow (chunked numpy
    broadcast), with nlist the parallelism/quadratic-cost dial."""
    from modis_aggregation_spark.operators.similarity import (
        kmeans_centroids,
        semdedup,
    )

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    cents = kmeans_centroids(corpus, nlist=16, sample_rows=4096, order_col="vec_id")
    t0 = time.perf_counter()
    out = semdedup(corpus, cents, tau=0.9)
    kept = out.filter(F.col("keep")).count()
    t = time.perf_counter() - t0
    return {
        "vectors": n_vecs,
        "kept": kept,
        "wall_sec": round(t, 2),
        "vectors_per_sec": int(n_vecs / t),
        "nlist": 16,
    }


def run_bucketed_incremental_curve(
    spark, sf_dir: str, replicate: int, buckets: int = 32,
    disable_broadcast: bool = False,
) -> dict:
    """Round-10 anchor: the daily incremental dedup against a GROWING
    index, plain-parquet vs band-key-bucketed layout.  The batch is the
    1x base corpus both ways; the index is the permuted corpus at
    ``replicate``x.  The 100 TB claim under test: in bucketed mode the
    per-day SHUFFLE volume stays ~flat as the index grows (only the
    batch moves; the index reads bucket-local), while the plain path
    re-exchanges the index-sized band-key table every day.

    ``disable_broadcast=True`` (round-11, VERDICT item 4) turns off
    ``spark.sql.autoBroadcastJoinThreshold`` for the two measured runs:
    at local test scale AQE broadcasts the small batch so even the
    PLAIN path avoids the index exchange — the regime where the layout
    matters is a batch ABOVE broadcast size, which this flag simulates
    (at 100 TB a day's arrivals are GBs — never broadcastable)."""
    import shutil
    import tempfile

    from modis_aggregation_spark.operators.dedup import (
        minhash_index_read,
        minhash_index_write,
        minhash_lsh_incremental,
    )

    idx_docs = _permuted_corpus(spark, sf_dir, replicate)
    batch = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select((F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text")
    n_idx = idx_docs.count()
    n_batch = batch.count()
    tmp = tempfile.mkdtemp(prefix="bidx_curve_")
    name = f"bidx_curve_{replicate}"
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        sigs = minhash_signatures(idx_docs, "text", "doc_id")
        minhash_index_write(sigs, name, tmp, buckets=buckets)
        s_t, b_t, c_t = minhash_index_read(spark, name, tmp, buckets=buckets)
        plain = spark.read.parquet(f"{tmp}/sigs")

        if disable_broadcast:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain_df = minhash_lsh_incremental(
            batch, plain, "text", "doc_id", threshold=0.6
        )
        t0 = time.perf_counter()
        n_plain = plain_df.count()
        t_plain = time.perf_counter() - t0
        plain_bytes = plan_metric(plain_df, EXCHANGE, "shuffleBytesWritten")
        bucketed_df = minhash_lsh_incremental(
            batch, s_t, "text", "doc_id", threshold=0.6,
            index_banded=b_t, index_band_counts=c_t, index_buckets=buckets,
        )
        t0 = time.perf_counter()
        n_bucketed = bucketed_df.count()
        t_bucketed = time.perf_counter() - t0
        bucketed_bytes = plan_metric(bucketed_df, EXCHANGE, "shuffleBytesWritten")
        assert n_plain == n_bucketed == n_batch
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        for t in (f"{name}_sigs", f"{name}_bands", f"{name}_bandcounts"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "index_docs": n_idx,
        "batch_docs": n_batch,
        "broadcast_disabled": bool(disable_broadcast),
        "plain_sec": round(t_plain, 2),
        "plain_shuffle_mb": round(plain_bytes / 1e6, 1),
        "bucketed_sec": round(t_bucketed, 2),
        "bucketed_shuffle_mb": round(bucketed_bytes / 1e6, 1),
    }


def run_pca_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Round-10 anchor: covariance fit + map-only projection over the
    jittered-replica embedding corpus.  Claims: fit shuffle stays flat
    (d(d+1)/2 keys x tasks, corpus-size-independent) and projection
    rows/s holds (scan -> codegen project, nothing else)."""
    from modis_aggregation_spark.operators.similarity import (
        embedding_covariance,
        pca_basis,
        pca_project,
    )

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    t0 = time.perf_counter()
    cov = embedding_covariance(corpus, "embedding", dim=64)
    wq, offs, _ = pca_basis(cov, dim=64, k=8, whiten=True)
    t_fit = time.perf_counter() - t0
    # pca_basis collected cov's OWN QueryExecution, so its per-exchange
    # SQL metrics are populated (round 11: the stage-store delta this
    # curve used through round 10 undercounts AQE queries — see
    # SCALING.md measurement-method note)
    fit_bytes = plan_metric(cov, EXCHANGE, "shuffleBytesWritten")
    proj = pca_project(corpus, wq, offs, "embedding", "vec_id")
    t0 = time.perf_counter()
    n_proj = proj.count()
    t_proj = time.perf_counter() - t0
    proj_bytes = plan_metric(proj, EXCHANGE, "shuffleBytesWritten")
    assert n_proj == n_vecs
    return {
        "vectors": n_vecs,
        "fit_sec": round(t_fit, 2),
        "fit_shuffle_mb": round(fit_bytes / 1e6, 1),
        "project_sec": round(t_proj, 2),
        "vecs_per_sec_project": int(n_vecs / t_proj),
        "project_shuffle_mb": round(proj_bytes / 1e6, 1),
    }


def run_ivf_pruned_curve(spark, sf_dir: str, replicate: int) -> dict:
    """Round-10 anchor: the materialized-IVF probe (static partition
    pruning) vs the full-corpus assigned scan, same 8 queries.  Claim:
    as the corpus grows, pruned wall-time tracks the probed FRACTION of
    the corpus (nprobe/nlist of the scan), not the corpus."""
    import shutil
    import tempfile

    from modis_aggregation_spark.operators.similarity import (
        ivf_assign,
        ivf_build,
        ivf_topk,
        ivf_topk_indexed,
        kmeans_centroids,
    )

    corpus = _jittered_embeddings(spark, sf_dir, replicate)
    n_vecs = corpus.count()
    cents = kmeans_centroids(
        corpus, nlist=16, sample_rows=2000, seed=5, order_col="vec_id"
    )
    queries = corpus.filter(F.col("vec_id") < 8).withColumnRenamed(
        "vec_id", "query_id"
    )
    tmp = tempfile.mkdtemp(prefix="ivf_curve_")
    try:
        ivf_build(corpus, cents, tmp)
        t0 = time.perf_counter()
        n_full = ivf_topk(
            ivf_assign(corpus, cents), queries, cents, k=10, nprobe=2
        ).count()
        t_full = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_pruned = ivf_topk_indexed(
            spark, tmp, queries, cents, k=10, nprobe=2
        ).count()
        t_pruned = time.perf_counter() - t0
        assert n_full == n_pruned
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "vectors": n_vecs,
        "full_sec": round(t_full, 2),
        "pruned_sec": round(t_pruned, 2),
        "speedup": round(t_full / t_pruned, 2),
    }


def run_bm25_curve(spark, sf_dir: str, replicate: int) -> dict:
    """x42 shape anchor (round 13): BM25 scoring over the cipher-
    replicated corpus in the single-tokenize shape.  Claim: docs/s holds
    as the corpus grows.  The pre-round-12 two-pass comparison is frozen
    in BASELINE.md (round 13)."""
    from modis_aggregation_spark.operators import tfidf as ops_tfidf

    docs = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = docs.count()
    terms = ["cloud", "pixel", "data", "wind"]

    def _run():
        t0 = time.perf_counter()
        row = ops_tfidf.bm25(docs, terms).agg(
            F.count(F.lit(1)).alias("n"), F.sum("score").alias("s")
        ).collect()[0]
        return time.perf_counter() - t0, int(row["n"])

    t, n = min(_run(), _run())
    assert n == n_docs
    return {
        "docs": n_docs,
        "sec": round(t, 2),
        "docs_per_sec": int(n_docs / t),
    }


def run_kneser_ney_curve(spark, sf_dir: str, replicate: int) -> dict:
    """x96 shape anchor (round 13): Kneser-Ney bigram LM over the
    cipher-replicated corpus in the materialized-count-table shape (ONE
    corpus pass).  Claim: docs/s holds as the corpus grows; the
    materialized frame stays vocabulary²-bounded.  The pre-round-12
    four-scan comparison is frozen in BASELINE.md (round 13)."""
    from modis_aggregation_spark.operators import tfidf as ops_tfidf

    docs = _permuted_corpus(spark, sf_dir, replicate)
    n_docs = docs.count()

    def _run():
        t0 = time.perf_counter()
        row = ops_tfidf.kneser_ney_lm(docs, discount=0.75).agg(
            F.count(F.lit(1)).alias("n"), F.sum("p_kn").alias("s")
        ).collect()[0]
        return time.perf_counter() - t0, int(row["n"])

    t, n = min(_run(), _run())
    return {
        "docs": n_docs,
        "bigram_rows": n,
        "sec": round(t, 2),
        "docs_per_sec": int(n_docs / t),
    }


def run_merge_upsert_curve(spark, sf_dir: str, replicate: int) -> dict:
    """r27 shape anchor (round 13): MERGE of a FIXED-SELECTIVITY daily
    source into a PARQUET target snapshot replicated ``replicate``×
    (distinct keys per replica) — the normal lake regime (source ≪
    target, both stored tables with real scan statistics; a
    localCheckpoint-backed target was measured first and REJECTED as the
    harness: LogicalRDD has no size stats, so the planner lost the
    broadcast election and the plan degenerated to a sort-merge join).
    Claim: the anti-join+union shape broadcasts the source keys, so its
    shuffle rows stay flat as the snapshot grows.  The comparison with
    the r11 full-outer form is frozen in BASELINE.md (round 13)."""
    import shutil
    import tempfile

    from modis_aggregation_spark.operators.merge import merge_upsert

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    rep = spark.range(replicate).select(F.col("id").alias("__rep"))
    tmp = tempfile.mkdtemp(prefix="merge_curve_")
    try:
        (
            orders.crossJoin(F.broadcast(rep))
            .select(
                (F.col("o_orderkey") * replicate + F.col("__rep")).alias(
                    "o_orderkey"
                ),
                "o_custkey",
                "o_totalprice",
                "o_orderstatus",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "target"))
        )
        target = spark.read.parquet(os.path.join(tmp, "target"))
        n_target = target.count()
        (
            target.where(F.col("o_orderkey") % 997 == 0)
            .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 2, 2))
            .withColumn("o_orderstatus", F.lit("U"))
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "source"))
        )
        source = spark.read.parquet(os.path.join(tmp, "source"))
        n_source = source.count()
        best, recs, n = float("inf"), 0, 0
        for _ in range(2):
            df = merge_upsert(target, source, ["o_orderkey"])
            t0 = time.perf_counter()
            n = df.count()
            best = min(best, time.perf_counter() - t0)
            recs = plan_metric(df, EXCHANGE, "shuffleRecordsWritten")
        assert n == n_target
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "target_rows": n_target,
        "source_rows": n_source,
        "sec": round(best, 2),
        "shuffle_rows": recs,
    }


def main() -> None:
    counts = [int(a) for a in sys.argv[1:]] or [4, 16, 32]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark()
    out = {
        "one_km": [run_1km(spark, n) for n in counts],
        "minhash": run_minhash(spark, sf_dir),
        "minhash_curve": [run_minhash_curve(spark, sf_dir, r) for r in (8, 32, 128)],
        "hdf4_scan": [run_hdf4_scan(spark, n) for n in (8, 32)],
        "dupspan_curve": [run_dupspan_curve(spark, sf_dir, r) for r in (8, 32, 128)],
        "screen": run_screen(spark, sf_dir),
        "pagerank": run_pagerank(spark, sf_dir),
        "ann_curve": [run_ann_curve(spark, sf_dir, r) for r in (32, 128, 512)],
        "pq_curve": [run_pq_curve(spark, sf_dir, r) for r in (32, 128, 512)],
        "editdist_curve": [run_editdist_curve(spark, sf_dir, r) for r in (4, 16, 64)],
        "pairverify_curve": [run_pairverify_curve(spark, sf_dir, r) for r in (1, 4, 8)],
        "lsh_pairs_curve": [run_lsh_pairs_curve(spark, sf_dir, r) for r in (8, 32, 128)],
        "semdedup_curve": [run_semdedup_curve(spark, sf_dir, r) for r in (1, 4, 16)],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
