"""End-to-end L2→L3 aggregation plan builder.

This is the engine's equivalent of the reference's whole execution path —
``read_user_inputs`` → ``run_modis_aggre`` → finalize → write (reference
``MODIS_Aggregation/aggregate_functions.py:282-410,455-717``) — expressed as
ONE declarative DataFrame plan:

    catalog (broadcast) ⋈ pixels
      → day-definition nulling (P4)
      → bbox/sampling filter + cell id (P2, S9, A1)
      → stage 1, one accumulator per granule (the reference's per-granule
        buffers, ``granule_partials``, which the streaming daily grid
        shares): a NumPy function that mapInArrow applies to each Arrow
        batch of pixels, one row per (cell, granule) in the batch of
            cloudy/determined pixel counts,
            per-variable min/max/sum/count/sumsq,
            histogram + joint-histogram bucket counts,
        then groupBy(cell, granule) merges the rows of a granule that
        spans batches or partitions (fmin/fmax/+)
      → stage 2, the fmin/fmax/+ merge: groupBy(cell).agg(
            per-variable min/max/sum/count/sumsq + mean/std,  A3-A8
            cloudy/total pixel counts + CF ratio,             A11-A12
            ARRAY histograms, joint ARRAY histograms,         A9-A10
            per-granule CF min/max/std/hist,                  A13
            granule count,                                    A14
        )
      → densify to the full grid (J3)

Scale notes: the pixels are scanned (and, over granule files, decoded) once
and never shuffled. The accumulator is narrow, and the (cell, granule)
merge combines its rows map-side, so that shuffle is O(partitions ×
occupied (cell, granule) pairs), independent of pixel count. The cell
merge shuffles at most one row per (cell, granule). Nothing is joined
except the broadcast catalog and the densify, which joins a generated
dimension against the tiny aggregate. The scan and the accumulator
dominate and scale embarrassingly with granule count, which is the same
property the reference's file-level MPI/Dask partitioning exploits
(``MODIS_Aggregation_MPI.py:52-63``).

``strict_compat=True`` reproduces reference quirks where feasible:
* Q1 — the CF 1-D histogram stays all-zero (the reference never adds to it,
  ``aggregate_functions.py:259-263``); correct mode bins the per-granule
  fraction.
* Q2 — CF std is ``sqrt(ΣCLD² / ΣTOT − mean²)`` over per-granule pixel
  counts (``:251-252,711``); correct mode is the population std of
  per-granule fractions.
* Q5 — GRID_Counts counts (granule, variable-with-valid-data) pairs plus
  the CF call (``:245-247``); correct mode counts granules.
(Q6's sampling-offset mismatch is intentionally NOT reproduced — it would
pair measures with another column's geolocation; the engine documents the
single consistent offset. SURVEY §2.8.)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.functions.dayrules import day_definition_condition
from modis_aggregation_spark.functions.histogram import hist_bucket, hist_bucket_np
from modis_aggregation_spark.operators.densify import densify
from modis_aggregation_spark.operators.stats import with_cell, with_cloud_mask


def prepare_pixels(
    pixels: DataFrame,
    granules: DataFrame,
    spec: AggregationSpec,
    end_doy: int | None = None,
    spill_doy: int | None = None,
) -> DataFrame:
    """Decode + filter + cell-id stage shared by batch and streaming plans.

    ``granules`` must carry (granule_id, doy, hour); it is broadcast —
    granule catalogs are ~100k rows/year, trivially broadcastable even at
    full-mission scale.
    """
    from modis_aggregation_spark.operators.stats import validate_resolution

    measure_cols = [v.name for v in spec.physical_variables()]
    validate_resolution(pixels, measure_cols)  # S11: fail before the job
    cat = granules.select("granule_id", "doy", "hour")
    df = pixels.join(F.broadcast(cat), "granule_id")
    df = with_cloud_mask(df)
    if end_doy is not None and spill_doy is not None:
        cond = day_definition_condition(
            F.col("lon"), F.col("doy"), F.col("hour"),
            end_doy, spill_doy, spec.shift_hours,
        )
        # measures AND the decoded cloud mask are nulled (the reference
        # nulls CM for the cloud-fraction path, aggregate_functions.py:340-350)
        df = df.withColumns(
            {c: F.when(cond, F.lit(None)).otherwise(F.col(c))
             for c in measure_cols + ["cm"]}
        )
    return with_cell(df, spec)


def _finalize_moments(
    total: Column, count: Column, sumsq: Column | None = None
) -> tuple[Column, Column | None]:
    """``mean = Σv/n`` and population ``std = sqrt(Σv²/n − mean²)`` from
    merged partials — the reference's finalize
    (``aggregate_functions.py:250-254,711``). std is None without ``sumsq``.

    The count>0 guard keeps greatest() (which skips NULLs) from turning an
    empty cell's NULL std into 0.0.
    """
    n = F.nullif(count, F.lit(0))
    mean = total / n
    if sumsq is None:
        return mean, None
    return mean, F.when(count > 0, F.sqrt(F.greatest(sumsq / n - mean * mean, F.lit(0.0))))


def granule_partials(px: DataFrame, spec: AggregationSpec, keys: list[str]) -> DataFrame:
    """Stage 1, the reference's per-granule buffers: one NumPy function that
    ``mapInArrow`` applies to each Arrow batch of ``px``'s ``keys``,
    ``granule_id``, ``cm`` and physical variables (as DOUBLE). The batch
    ``daily_grid`` and the stream ``stream_daily_grid`` both call it.

    It returns one row per distinct (``keys``, granule) of a batch:
    cloudy/determined pixel counts (``g_cld``/``g_tot``), per-variable
    min/max/sum/count/Σv² and the histogram and joint-histogram bucket
    counts as flat long columns; ``_merge`` combines the rows of a granule
    that spans batches or partitions. A NULL measure (NaN here) counts
    nowhere; min, max, sum and Σv² are NULL where no value counted, as
    Spark's aggregates are. The declared schema is the function's own
    result for an empty batch: ``mapInArrow`` matches columns by position
    and does not check types, so the two must come from one place.
    """
    has_std = "Standard_Deviation" in spec.stats
    extremes = [(s, fn, start) for s, stat, fn, start in (
        ("min", "Minimum", np.minimum, np.inf), ("max", "Maximum", np.maximum, -np.inf)
    ) if stat in spec.stats]
    hists = "Histogram_Counts" in spec.stats
    joints = spec.joint_hists if "Jhisto" in spec.stats else ()

    group = [*keys, "granule_id"]

    def accumulate(batch: pa.RecordBatch) -> pa.RecordBatch:
        code = np.zeros(batch.num_rows, np.int64)
        for k in group:
            enc = batch.column(k).dictionary_encode(null_encoding="encode")
            code = code * len(enc.dictionary) + enc.indices.to_numpy()
        _, first, g = np.unique(code, return_index=True, return_inverse=True)
        ng = len(first)
        out = {k: batch.column(k).take(first) for k in group}

        def values(name: str) -> np.ndarray:
            return batch.column(name).to_numpy(zero_copy_only=False).astype(np.float64, copy=False)

        def group_hist(bucket: np.ndarray, nbins: int) -> np.ndarray:
            ok = bucket >= 0
            flat = g[ok] * nbins + bucket[ok]
            return np.bincount(flat, minlength=ng * nbins).reshape(ng, nbins)

        for v in spec.physical_variables():
            n, x = v.name, values(v.name)
            ok = ~np.isnan(x)
            gv, xv = g[ok], x[ok]
            count = np.bincount(gv, minlength=ng)
            empty = count == 0
            for s, fn, start in extremes:
                acc = np.full(ng, start)
                fn.at(acc, gv, xv)
                out[f"{n}_{s}"] = pa.array(acc, mask=empty)
            total = np.bincount(gv, weights=xv, minlength=ng).astype(np.float64)
            out[f"{n}_sum"] = pa.array(total, mask=empty)
            out[f"{n}_count"] = pa.array(count, pa.int64())
            if has_std:
                sumsq = np.bincount(gv, weights=xv * xv, minlength=ng).astype(np.float64)
                out[f"{n}_sumsq"] = pa.array(sumsq, mask=empty)
            if hists and v.bin_edges:
                counts = group_hist(hist_bucket_np(x, v.bin_edges), len(v.bin_edges) - 1)
                out.update({f"{n}_hist_{i}": pa.array(c) for i, c in enumerate(counts.T)})
        for jh in joints:
            xe, ye = spec.variable(jh.varname).bin_edges, jh.joint_edges
            bx = hist_bucket_np(values(jh.varname), xe)
            by = hist_bucket_np(values(jh.partner_var), ye)
            nby = len(ye) - 1
            pair = np.where((bx >= 0) & (by >= 0), bx * nby + by, -1)
            counts = group_hist(pair, (len(xe) - 1) * nby)
            out.update({
                f"{jh.joint_name}_jhist_{i // nby}_{i % nby}": pa.array(c)
                for i, c in enumerate(counts.T)
            })
        cm = values("cm")  # the flags of functions/bits.cloudy_flag, determined_flag
        out["g_cld"] = pa.array(np.bincount(g[(cm >= 0) & (cm <= 1)], minlength=ng))
        out["g_tot"] = pa.array(np.bincount(g[(cm >= 0) & (cm <= 3)], minlength=ng))
        return pa.RecordBatch.from_pydict(out)

    measures = [F.col(v.name).cast("double") for v in spec.physical_variables()]
    px = px.select(*group, "cm", *measures)
    partials = accumulate(pa.RecordBatch.from_pylist([], to_arrow_schema(px.schema))).schema
    return px.mapInArrow(lambda batches: map(accumulate, batches), from_arrow_schema(partials))


def _merge(name: str) -> Column:
    """The fmin/fmax/+ merge of one partial column."""
    agg = F.min if name.endswith("_min") else F.max if name.endswith("_max") else F.sum
    return agg(name).alias(name)


def _merges(spec: AggregationSpec) -> list:
    """Stage 2, per cell over the per-granule rows: merge them (fmin/fmax/+),
    finalize mean/std, and compute every per-granule CF statistic (A13,
    A14, Q1/Q2/Q5) from the same rows."""
    merges: list = []
    has_std = "Standard_Deviation" in spec.stats
    for v in spec.physical_variables():
        n = v.name
        if "Minimum" in spec.stats:
            merges.append(_merge(f"{n}_min"))
        if "Maximum" in spec.stats:
            merges.append(_merge(f"{n}_max"))
        total, count = F.sum(f"{n}_sum"), F.sum(f"{n}_count")
        sumsq = F.sum(f"{n}_sumsq") if has_std else None
        mean, std = _finalize_moments(total, count, sumsq)
        merges += [total.alias(f"{n}_sum"), count.alias(f"{n}_count")]
        if has_std:
            merges += [sumsq.alias(f"{n}_sumsq"), std.alias(f"{n}_stddev")]
        if "Mean" in spec.stats:
            merges.append(mean.alias(f"{n}_mean"))
        if "Histogram_Counts" in spec.stats and v.bin_edges:
            hist = [F.sum(f"{n}_hist_{i}") for i in range(len(v.bin_edges) - 1)]
            merges.append(F.array(*hist).alias(f"{n}_hist"))
    if "Jhisto" in spec.stats:
        for jh in spec.joint_hists:
            nbx = len(spec.variable(jh.varname).bin_edges) - 1
            rows = [
                F.array(*[
                    F.sum(f"{jh.joint_name}_jhist_{x}_{y}")
                    for y in range(len(jh.joint_edges) - 1)
                ])
                for x in range(nbx)
            ]
            merges.append(F.array(*rows).alias(f"{jh.joint_name}_jhist"))

    # cloud-fraction pixel counts (A11) + ratio-of-sums mean (A12)
    cld, tot = F.sum("g_cld"), F.sum("g_tot")
    merges += [
        cld.alias("cld_pix"),
        tot.alias("tot_pix"),
        (cld / F.nullif(tot, F.lit(0))).alias("cf_mean"),
    ]
    # per-granule CF extremes (A13); stage-1 rows are unique per granule (A14)
    gcf = F.col("g_cld") / F.nullif(F.col("g_tot"), F.lit(0))
    merges += [
        F.min(gcf).alias("cf_min"),
        F.max(gcf).alias("cf_max"),
        F.count(F.lit(1)).alias("grid_count"),
    ]
    if spec.strict_compat:
        # Q2: the serial driver finalizes ΣCLD, ΣTOT, ΣCLD² as if they were
        # Σv, n, Σv² — NULL for an all-undetermined cell (the reference
        # leaves it NaN — found by the hypothesis differential harness)
        _, std = _finalize_moments(cld, tot, F.sum(F.col("g_cld") * F.col("g_cld")))
        # Q5: +1 per (granule, variable-with-valid-data) + the CF call
        inflated = sum(
            (F.when(F.col(f"{v.name}_count") > 0, 1).otherwise(0)
             for v in spec.physical_variables()),
            F.when(gcf.isNotNull(), 1).otherwise(0),
        )
        merges += [std.alias("cf_std"), F.sum(inflated).alias("grid_count_compat")]
    else:
        merges.append(F.stddev_pop(gcf).alias("cf_std"))
        # mergeable partials of the per-granule CF so reaggregate() can
        # re-finalize cf_granule_mean/cf_granule_stddev across periods
        # (cf_std itself is not mergeable; monthly std comes from these)
        merges += [
            F.sum(gcf).alias("cf_granule_sum"),
            F.count(gcf).alias("cf_granule_count"),
            F.sum(gcf * gcf).alias("cf_granule_sumsq"),
        ]
    cf_var = next((v for v in spec.variables if v.is_virtual), None)
    if cf_var is not None and cf_var.bin_edges and "Histogram_Counts" in spec.stats:
        nbins = len(cf_var.bin_edges) - 1
        if spec.strict_compat:
            # Q1: the reference's CF histogram never accumulates — emit zeros
            counts = [F.lit(0).cast("long")] * nbins
        else:
            b = hist_bucket(gcf, cf_var.bin_edges)
            counts = [F.count(F.when(b == i, 1)) for i in range(nbins)]
        merges.append(F.array(*counts).alias("cf_hist"))
    return merges


def daily_grid(
    spark: SparkSession,
    spec: AggregationSpec,
    pixels: DataFrame,
    granules: DataFrame,
    end_doy: int | None = None,
    spill_doy: int | None = None,
    densify_output: bool = True,
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The full L3 daily product as one DataFrame.

    Columns: cell, lat_idx, lon_idx, per-variable ``{var}_{stat}``,
    ``{var}_hist`` arrays, ``{joint}_jhist`` nested arrays, cld/tot pixel
    counts, cf_mean/cf_min/cf_max/cf_std, cf_hist, grid_count.

    ``extra_group_cols`` adds period columns (e.g. ``doy`` from the
    broadcast catalog) to every grouping key, producing the staged
    per-period partials ``reaggregate()`` merges — ONE pass over the
    pixels for a whole month instead of a plan branch per day. Requires
    ``densify_output=False`` (densification is a per-cell-grid concept).
    """
    if extra_group_cols and densify_output:
        raise ValueError("extra_group_cols requires densify_output=False")
    px = prepare_pixels(pixels, granules, spec, end_doy, spill_doy)
    keys = ["cell", *extra_group_cols]
    partials = granule_partials(px, spec, keys)
    # re-merge a granule's rows so stage 2 sees one row per (cell, granule)
    agg = (
        partials.groupBy(*keys, "granule_id")
        .agg(*[_merge(c) for c in partials.columns[len(keys) + 1:]])
        .groupBy(*keys)
        .agg(*_merges(spec))
    )
    if not densify_output:
        return agg
    zero_cols = [c for c in agg.columns if c.endswith(("_count", "_pix"))]
    zero_cols += [
        c
        for c in ("grid_count", "grid_count_compat")
        if c in agg.columns and c not in zero_cols
    ]
    return densify(agg, spec.nlat, spec.nlon, zero_fill_cols=zero_cols)


def reaggregate(staged: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Monthly (or any period) L3 from staged daily partials (A15/A16).

    Input: the UNdensified per-cell daily frame (``densify_output=False``)
    with an extra period column (e.g. ``date``). Mergeable partials re-add
    (sum/count/sumsq/hists/pixel counts), extremes re-extremize, and
    mean/std/cf are re-finalized from the merged partials — the exact
    fmin/fmax/+ merge semantics of the distributed drivers
    (``MODIS_Aggregation_DASK.py:127-134``).

    Array histograms merge with element-wise sums via ``zip_with`` chained
    through ``reduce``-style aggregation (JVM-side, no UDF).

    Finalized-only columns (daily ``cf_std``, ``cf_mean`` …) are dropped
    and recomputed from merged partials where those exist: cf_mean from
    cld/tot sums; cf_granule_mean/cf_granule_stddev from the
    cf_granule_{sum,count,sumsq} partials emitted by ``daily_grid``.
    (strict_compat's Q2 cf_std is intentionally daily-only — the reference
    drivers themselves disagree on its monthly form, SURVEY Q2.)
    """
    group_cols = group_cols or ["cell"]
    aggs = []
    for fname, dtype in staged.dtypes:
        if fname in group_cols or fname in ("lat_idx", "lon_idx", "granule_id", "date"):
            continue
        if fname.endswith(("_min", "_max", "_sum", "_sumsq", "_count", "_pix")) or fname in (
            "grid_count", "grid_count_compat"
        ):
            aggs.append(_merge(fname))
        elif fname.endswith(("_hist", "_jhist")):
            # element-wise array sum: aggregate over the group with zip_with
            depth2 = dtype.startswith("array<array")
            if depth2:
                merge = lambda a, b: F.zip_with(  # noqa: E731
                    a, b, lambda x, y: F.zip_with(x, y, lambda p, q: p + q)
                )
            else:
                merge = lambda a, b: F.zip_with(a, b, lambda x, y: x + y)  # noqa: E731
            lst = F.collect_list(fname)
            rest = F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0)))
            aggs.append(
                F.aggregate(rest, F.element_at(lst, 1), merge).alias(fname)
            )
        # finalized columns (mean/std/cf_mean/...) are recomputed below
    merged = staged.groupBy(*group_cols).agg(*aggs)

    # re-finalize from merged partials
    out_cols: dict[str, F.Column] = {}
    names = set(merged.columns)
    for n in names:
        base = n[:-4]
        if n.endswith("_sum") and f"{base}_count" in names:
            ss = f"{base}_sumsq"
            mean, std = _finalize_moments(
                F.col(n), F.col(f"{base}_count"), F.col(ss) if ss in names else None
            )
            out_cols[f"{base}_mean"] = mean
            if std is not None:
                out_cols[f"{base}_stddev"] = std
    if {"cld_pix", "tot_pix"} <= names:
        out_cols["cf_mean"] = F.col("cld_pix") / F.nullif(F.col("tot_pix"), F.lit(0))
    return merged.withColumns(out_cols)
