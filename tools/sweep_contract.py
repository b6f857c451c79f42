"""Full-contract timing sweep — the per-round guardrail version of the
one-off round-8 audit that exposed 10-20x HOF-evaluation pathologies the
21-slot bench and the sf0.01 oracle gate never saw (docs/ROUND8.md).

Times EVERY ``__spark_entry__.queries()`` entry at one scale (default
sf0.1) with bench.py's full-materialization action (noop write — computes
everything, sinks nothing) and writes ``SWEEP_r{N}.json`` at the repo
root:

    {"sf_dir": ..., "sf": 0.1, "cpus": 32, "repeat": 1,
     "timings": {"x4_ngram_jaccard": 2.41, ...},
     "errors": {}, "total_sec": ...}

Regression gate: after timing, the sweep is diffed against the NEWEST
other committed ``SWEEP_r*.json``. A query regresses when it is BOTH
>3x slower AND >1.0 s absolutely slower (the absolute floor keeps
sub-second slots from tripping the gate on tenant noise — the bench host
shows ±15-50 % drift; a genuine pathology of the round-8 class is
10-20x on multi-second queries). Regressions print as a table and the
tool exits 1 unless ``--no-gate`` (soft mode: warn only). New queries
(no baseline entry) and removed ones are listed informationally.

Self-adjudication (round-12, VERDICT r11 item 2): any slot the gate
flags is immediately re-timed IN ISOLATION — best-of-3, same process,
cache cleared + gc'd between runs — before the verdict. Both numbers
land in the JSON (``flagged``: the dirty sweep-loop time, ``isolated``:
the best-of-3 re-time) and the gate re-evaluates against the ISOLATED
value; tenancy bursts that vanish on re-time auto-clear instead of
costing a round of prose. The baseline side does the same: when a
previous sweep carries an ``isolated`` entry for a query, that value
(not its burst-inflated loop time) is the comparison anchor.

Usage:
    python tools/sweep_contract.py --round 9                  # full sweep
    python tools/sweep_contract.py --round 9 --repeat 2       # best-of-2
    python tools/sweep_contract.py --only x4_ngram_jaccard    # spot-check
                                                              # (no file)

Single-run timings are noisier than bench's best-of-3, but the gate's
3x-AND-1s threshold sits far above the documented noise band; use
``--repeat`` when a regression needs confirming before it counts.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RATIO_GATE = 3.0
ABS_GATE_SEC = 1.0

# Slots whose FIRST invocation in a fresh environment includes a
# one-time physical artifact build (corpus-keyed /tmp cache); their
# sweep time is "build + query" unless the cache pre-exists.  Recorded
# into the JSON so readers stop re-litigating the big first-run numbers
# (round-11 VERDICT "what's wrong" item 2).
AMORTIZED_BUILD_SLOTS = {
    "x92_incremental_minhash": "signatures parquet build on first run",
    "x93_minhash_index_update": "two-day signature-artifact build + "
                                "update-writeback on first run",
    "x105_index_generations": "per-generation signature artifact builds "
                              "on first run",
    "x102_bucketed_index": "3-table bucketed index build on first run",
    "s22_stream_bucketed_index": "shares the x102 index build on first run",
    "x106_ivfpq_indexed": "IVF+PQ artifact build on first run",
    "x107_index_compaction": "physical 3-table bucketed index build + "
                             "generation compaction on first run — the "
                             "build IS the demonstrated operation",
    "x108_ivf_append": "IVF artifact build on first run",
    "x117_dhash_index_incremental": "two-generation dHash index build + "
                                    "LWW compaction on first run",
}


def _sf(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def newest_committed_sweep(exclude: str | None = None) -> tuple[str, dict] | None:
    """The highest-round SWEEP_r*.json at the repo root (skip ``exclude``)."""
    best = None
    for path in glob.glob(os.path.join(REPO, "SWEEP_r*.json")):
        if exclude and os.path.abspath(path) == os.path.abspath(exclude):
            continue
        m = re.search(r"SWEEP_r(\d+)\.json$", path)
        if not m:
            continue
        if best is None or int(m.group(1)) > best[0]:
            best = (int(m.group(1)), path)
    if best is None:
        return None
    with open(best[1]) as f:
        return best[1], json.load(f)


def effective_timings(sweep: dict) -> dict:
    """A sweep's per-query anchors: loop timings overlaid with any
    isolated best-of-3 re-times (the adjudicated truth for flagged
    slots — burst-inflated loop numbers never become baselines)."""
    t = dict(sweep.get("timings", {}))
    t.update(sweep.get("isolated", {}))
    return t


def diff_sweeps(prev: dict, cur: dict) -> dict:
    """Classify cur vs prev: regressions (gate), improvements, new, gone.

    Both sides compare on :func:`effective_timings` — isolated re-times
    override the raw loop numbers wherever they exist."""
    pt, ct = effective_timings(prev), effective_timings(cur)
    out = {"regressions": [], "improved": [], "new": sorted(set(ct) - set(pt)),
           "gone": sorted(set(pt) - set(ct))}
    for name in sorted(set(ct) & set(pt)):
        a, b = pt[name], ct[name]
        if a <= 0:
            continue
        ratio = b / a
        if ratio > RATIO_GATE and (b - a) > ABS_GATE_SEC:
            out["regressions"].append(
                {"query": name, "prev": a, "cur": b, "ratio": round(ratio, 2)}
            )
        elif ratio < 1 / RATIO_GATE and (a - b) > ABS_GATE_SEC:
            out["improved"].append(
                {"query": name, "prev": a, "cur": b, "ratio": round(ratio, 2)}
            )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--round", type=int, default=None,
                    help="write SWEEP_r{N}.json at the repo root")
    ap.add_argument("--repeat", type=int, default=1,
                    help="best-of-N per query (default 1: full sweep is "
                         "~186 queries; the gate threshold absorbs "
                         "single-run noise)")
    ap.add_argument("--only", nargs="*", default=None,
                    help="time just these queries; skips the file write "
                         "and the gate")
    ap.add_argument("--no-gate", action="store_true",
                    help="report regressions but exit 0 (soft mode)")
    ap.add_argument("--warm", action="store_true",
                    help="keep existing /tmp/spark_graft_* artifacts. "
                         "Default is COLD: artifact-building queries "
                         "(x92/x93 signature indexes, s11 archives, ...) "
                         "rebuild inside their timing, mirroring the "
                         "driver's fresh container — the reproducible "
                         "convention for round-over-round diffs")
    args = ap.parse_args()

    if not args.warm and not args.only:
        import shutil

        for p in glob.glob("/tmp/spark_graft_*"):
            shutil.rmtree(p, ignore_errors=True)
            if os.path.exists(p):
                try:
                    os.remove(p)
                except OSError:
                    pass

    import __spark_entry__ as entry
    from modis_aggregation_spark import get_spark
    from modis_aggregation_spark.session import local_cpus

    spark = get_spark("sweep-contract")
    qs = entry.queries()
    if args.only:
        missing = [q for q in args.only if q not in qs]
        if missing:
            print(f"unknown queries: {missing}", file=sys.stderr)
            return 2
        qs = {k: qs[k] for k in args.only}

    # JVM/codegen warmup on a trivial plan (same as bench.py), plus a
    # Python-worker warmup: a 32-slot mapInPandas spins up (and imports
    # pandas/numpy into) the full worker pool ONCE here, so the first
    # timed queries — by the rotation rule always the round's NEW ones —
    # stop absorbing ~3-4 s of pool startup that older slots never paid.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as _pd  # noqa: F401 — worker-side import below

    def _warm(it):
        import numpy  # noqa: F401

        for pdf in it:
            yield pdf

    (
        spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
        .mapInPandas(_warm, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # fixed no-op calibration slot (round-10 VERDICT item 8): a
    # data-independent pure-JVM codegen loop; future rounds normalize
    # tenancy multipliers against this instead of worktree A/Bs
    calib = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(256_000_000, numPartitions=32).selectExpr(
            "sum(xxhash64(id) % 1000003)"  # bounded: no ANSI long overflow
        ).collect()
        calib = min(calib, time.perf_counter() - t0)
    calibration_sec = round(calib, 3)
    print(f"calibration: {calibration_sec:.3f}s", flush=True)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    t_sweep = time.perf_counter()
    for i, (name, fn) in enumerate(qs.items(), 1):
        best = float("inf")
        try:
            for _ in range(max(1, args.repeat)):
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
            print(f"[{i:3}/{len(qs)}] {name}: {timings[name]:.3f}s",
                  flush=True)
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"[{i:3}/{len(qs)}] {name}: ERROR {errors[name]}",
                  flush=True)
        # isolate queries the way the driver does: drop every cached
        # frame and collect dropped references so the ContextCleaner
        # frees localCheckpoint blocks — without this, storage/GC
        # pressure accumulates over ~200 queries and late slots read
        # 2-4x slower than their intrinsic time (x5 measured 11.0 s in
        # a dirty session vs 2.4 s isolated)
        import gc

        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        gc.collect()
    total = round(time.perf_counter() - t_sweep, 3)

    result = {
        "sf_dir": args.sf_dir,
        "sf": _sf(args.sf_dir),
        "cpus": local_cpus(),
        "repeat": max(1, args.repeat),
        "timings": timings,
        "errors": errors,
        "total_sec": total,
        "calibration_sec": calibration_sec,
        "notes": {
            q: note
            for q, note in AMORTIZED_BUILD_SLOTS.items()
            if q in timings
        },
    }

    out_path = None
    if args.round is not None and not args.only:
        out_path = os.path.join(REPO, f"SWEEP_r{args.round:02d}.json")

    rc = 1 if errors else 0
    if not args.only:
        prev = newest_committed_sweep(exclude=out_path)
        if prev is None:
            print("no previous SWEEP_r*.json — gate skipped (first sweep)")
        else:
            prev_path, prev_data = prev
            d = diff_sweeps(prev_data, result)
            if d["regressions"]:
                # Self-adjudication: re-time each flagged slot NOW,
                # best-of-3, in the (quiet) post-sweep session. Tenancy
                # bursts and dirty-session pressure clear; genuine
                # regressions survive. Both numbers are recorded and
                # the gate re-evaluates against the isolated value.
                import gc

                flagged = {r["query"]: r["cur"] for r in d["regressions"]}
                isolated: dict[str, float] = {}
                print(f"\n{len(flagged)} flagged slot(s) — isolated "
                      f"best-of-3 re-times:")
                for name in sorted(flagged):
                    best = float("inf")
                    try:
                        for _ in range(3):
                            try:
                                spark.catalog.clearCache()
                            except Exception:
                                pass
                            gc.collect()
                            t0 = time.perf_counter()
                            qs[name](spark, args.sf_dir).write.format(
                                "noop"
                            ).mode("overwrite").save()
                            best = min(best, time.perf_counter() - t0)
                        isolated[name] = round(best, 3)
                        print(f"  {name}: sweep {flagged[name]:.3f}s -> "
                              f"isolated {isolated[name]:.3f}s", flush=True)
                    except Exception as e:  # noqa: BLE001
                        errors[name] = f"{type(e).__name__}: {e}"[:300]
                        print(f"  {name}: ERROR on re-time "
                              f"{errors[name]}", flush=True)
                result["flagged"] = flagged
                result["isolated"] = isolated
                d = diff_sweeps(prev_data, result)
            print(f"\ndiff vs {os.path.basename(prev_path)} "
                  f"(isolated-adjudicated):")
            print(f"  new: {len(d['new'])}  gone: {len(d['gone'])}  "
                  f"improved>3x: {len(d['improved'])}")
            for r in d["improved"]:
                print(f"  improved  {r['query']}: {r['prev']:.2f}s -> "
                      f"{r['cur']:.2f}s ({r['ratio']}x)")
            if d["regressions"]:
                print(f"  {len(d['regressions'])} REGRESSIONS "
                      f"(> {RATIO_GATE}x and > {ABS_GATE_SEC}s, "
                      f"surviving isolation):")
                for r in d["regressions"]:
                    print(f"    {r['query']}: {r['prev']:.2f}s -> "
                          f"{r['cur']:.2f}s ({r['ratio']}x)")
                if not args.no_gate:
                    rc = 1
            else:
                print("  no gated regressions")
    spark.stop()

    if out_path is not None:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(f"\nwrote {out_path} ({len(timings)} timings, "
              f"{len(errors)} errors, "
              f"{len(result.get('isolated', {}))} isolated re-times, "
              f"{total:.1f}s sweep wall)")

    if errors:
        print(f"\n{len(errors)} queries ERRORED: {sorted(errors)}")
        rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
