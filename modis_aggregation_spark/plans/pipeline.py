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
            histogram + joint-histogram bucket counts
      → stage 2, the fmin/fmax/+ merge (``cell_merge``): repartition(cell),
        then a NumPy function that mapInArrow applies to each partition,
        one row per cell of
            per-variable min/max/sum/count/sumsq + mean/std,  A3-A8
            cloudy/total pixel counts + CF ratio,             A11-A12
            ARRAY histograms, joint ARRAY histograms,         A9-A10
            per-granule CF min/max/std/hist,                  A13
            granule count,                                    A14
      → densify to the full grid (J3)

Scale notes: the pixels are scanned (and, over granule files, decoded) once
and never shuffled. The accumulator is narrow; its rows, at most one per
(cell, granule) per Arrow batch (``arrow.maxRecordsPerBatch`` pixels),
are the one hash exchange, independent of pixel count. No Catalyst
aggregate runs: the cell merge holds one shuffle partition's
share of those rows. Nothing is joined
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.functions.dayrules import day_definition_condition
from modis_aggregation_spark.functions.histogram import hist_bucket_np
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


def _groups(columns: list[pa.Array]) -> tuple[np.ndarray, np.ndarray]:
    """Rows grouped by equal values of ``columns``: each group's first row
    and every row's group, from the columns' dictionary codes and
    ``np.unique``'s inverse. NULL is a value of its own."""
    code = np.zeros(len(columns[0]), np.int64)
    for col in columns:
        enc = col.dictionary_encode(null_encoding="encode")
        if code.max(initial=0) >= 2**62 // max(len(enc.dictionary), 1):  # renumber densely
            code = np.unique(code, return_inverse=True)[1]
        code = code * len(enc.dictionary) + enc.indices.to_numpy()
    _, first, g = np.unique(code, return_index=True, return_inverse=True)
    return first, g


def _group_hist(g: np.ndarray, ng: int, bucket: np.ndarray, nbins: int) -> np.ndarray:
    """(groups, bins) counts of the rows' 0-based ``bucket`` (-1: none)."""
    ok = bucket >= 0
    return np.bincount(g[ok] * nbins + bucket[ok], minlength=ng * nbins).reshape(ng, nbins)


def granule_partials(px: DataFrame, spec: AggregationSpec, keys: list[str]) -> DataFrame:
    """Stage 1, the reference's per-granule buffers: one NumPy function that
    ``mapInArrow`` applies to each Arrow batch of ``px``'s ``keys``,
    ``granule_id``, ``cm`` and physical variables (as DOUBLE). The batch
    ``daily_grid`` and the stream ``stream_daily_grid`` both call it.

    It returns one row per distinct (``keys``, granule) of a batch:
    cloudy/determined pixel counts (``g_cld``/``g_tot``), per-variable
    min/max/sum/count/Σv² and the histogram and joint-histogram bucket
    counts as flat long columns; ``cell_merge`` (batch) and the stream's
    ``_merge`` combine the rows of a granule that spans batches or
    partitions. A NULL measure (NaN here) counts
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
        first, g = _groups([batch.column(k) for k in group])
        ng = len(first)
        out = {k: batch.column(k).take(first) for k in group}

        def values(name: str) -> np.ndarray:
            return batch.column(name).to_numpy(zero_copy_only=False).astype(np.float64, copy=False)

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
                counts = _group_hist(g, ng, hist_bucket_np(x, v.bin_edges), len(v.bin_edges) - 1)
                out.update({f"{n}_hist_{i}": pa.array(c) for i, c in enumerate(counts.T)})
        for jh in joints:
            xe, ye = spec.variable(jh.varname).bin_edges, jh.joint_edges
            bx = hist_bucket_np(values(jh.varname), xe)
            by = hist_bucket_np(values(jh.partner_var), ye)
            nby = len(ye) - 1
            pair = np.where((bx >= 0) & (by >= 0), bx * nby + by, -1)
            counts = _group_hist(g, ng, pair, (len(xe) - 1) * nby)
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


def _merge_np(name: str, x: pa.Array | np.ndarray, g: np.ndarray, ng: int) -> np.ndarray:
    """The reference's merge: fmin of a ``_min`` column, fmax of a ``_max``
    one, + of any other (rows, or rows × bins), over the groups ``g``. A
    NULL reads as the identity (+inf, -inf, 0), and so does a group
    without values, which its count masks."""
    fn, start = (np.minimum, np.inf) if name.endswith("_min") else (
        (np.maximum, -np.inf) if name.endswith("_max") else (np.add, 0))
    if isinstance(x, pa.Array):
        x = x.fill_null(start).to_numpy()
    out = np.full((ng, *x.shape[1:]), start, x.dtype)
    fn.at(out, g, x)
    return out


def _moments_np(
    total: np.ndarray, count: np.ndarray, sumsq: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray | None]:
    """``mean = Σv/n`` and population ``std = sqrt(Σv²/n − mean²)``, the
    reference's finalize (``aggregate_functions.py:250-254,711``); std is
    None without ``sumsq``. A count of 0 reads NaN, which the caller masks."""
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = total / count
        if sumsq is None:
            return mean, None
        return mean, np.sqrt(np.maximum(sumsq / count - mean * mean, 0.0))


def _lists(counts: np.ndarray, type_: pa.DataType) -> pa.Array:
    """A (groups, bins[, bins]) count array as an Arrow list column."""
    if counts.ndim == 1:
        return pa.array(counts, type_)
    inner = _lists(counts.reshape(-1, *counts.shape[2:]), type_.value_type)
    offsets = np.arange(len(counts) + 1, dtype=np.int32) * counts.shape[1]
    return pa.ListArray.from_arrays(pa.array(offsets), inner, type=type_)


def _counts(col: pa.Array) -> np.ndarray:
    """``_lists``' inverse: equal-length list rows as a (rows, bins[, bins]) array."""
    if not pa.types.is_list(col.type):
        return col.to_numpy(zero_copy_only=False)
    inner = _counts(col.flatten())
    return inner.reshape(len(col), -1, *inner.shape[1:])


def cell_merge(partials: DataFrame, spec: AggregationSpec, keys: list[str]) -> DataFrame:
    """Stage 2, the reference's fmin/fmax/+ merge and finalize
    (``MODIS_Aggregation_DASK.py:127-134``): ``partials`` (stage 1's rows)
    are hash-partitioned by ``keys`` and one NumPy function per partition
    concatenates its Arrow batches (a cell's rows, and a granule's, can
    span batches) and returns one row per distinct ``keys``.

    Per cell it merges the per-variable min/max/sum/count/Σv² (A3-A8) and
    finalizes mean and std, sums the histograms and joint histograms
    (A9-A10) and the cloudy/determined pixel counts (A11-A12). Per (cell,
    granule) it forms the granule's cloud fraction, and per cell the
    statistics over those: min, max, std, histogram and the mergeable
    sum/count/Σ (A13), the granule count (A14) and, under
    ``strict_compat``, Q1/Q2/Q5. The schema is declared, not derived
    from an empty batch, because it carries NOT NULL columns and list
    items that ``mapInArrow`` cannot infer from the data.
    """
    has_std = "Standard_Deviation" in spec.stats
    hists = "Histogram_Counts" in spec.stats
    joints = spec.joint_hists if "Jhisto" in spec.stats else ()
    cf_var = next((v for v in spec.variables if v.is_virtual), None)
    cf_edges = cf_var.bin_edges if cf_var is not None and hists else ()

    long_list = pa.list_(pa.int64())
    fields = [to_arrow_schema(partials.schema).field(k) for k in keys]
    for v in spec.physical_variables():
        n = v.name
        fields += [pa.field(f"{n}_{s}", pa.float64()) for s, stat in (
            ("min", "Minimum"), ("max", "Maximum")) if stat in spec.stats]
        fields += [pa.field(f"{n}_sum", pa.float64()), pa.field(f"{n}_count", pa.int64())]
        if has_std:
            fields += [pa.field(f"{n}_sumsq", pa.float64()), pa.field(f"{n}_stddev", pa.float64())]
        if "Mean" in spec.stats:
            fields.append(pa.field(f"{n}_mean", pa.float64()))
        if hists and v.bin_edges:
            fields.append(pa.field(f"{n}_hist", long_list, nullable=False))
    fields += [
        pa.field(f"{jh.joint_name}_jhist", pa.list_(pa.field("element", long_list, nullable=False)),
                 nullable=False)
        for jh in joints
    ]
    fields += [pa.field(c, pa.int64()) for c in ("cld_pix", "tot_pix")]
    fields += [pa.field(c, pa.float64()) for c in ("cf_mean", "cf_min", "cf_max")]
    fields += [pa.field("grid_count", pa.int64(), nullable=False), pa.field("cf_std", pa.float64())]
    if spec.strict_compat:
        fields.append(pa.field("grid_count_compat", pa.int64()))
    else:
        fields += [
            pa.field("cf_granule_sum", pa.float64()),
            pa.field("cf_granule_count", pa.int64(), nullable=False),
            pa.field("cf_granule_sumsq", pa.float64()),
        ]
    if cf_edges:
        fields.append(pa.field(
            "cf_hist", pa.list_(pa.field("element", pa.int64(), nullable=False)), nullable=False
        ))
    schema = pa.schema(fields)
    measures = partials.columns[len(keys) + 1:]

    def merge(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        rows = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
        # the per-granule buffers, one per (cell, granule), then the cells
        first, g = _groups([rows.column(k) for k in (*keys, "granule_id")])
        cells, cell_of = _groups([rows.column(k).take(first) for k in keys])
        nc = len(cells)
        gran = {n: _merge_np(n, rows.column(n), g, len(first)) for n in measures}
        cell = {n: _merge_np(n, x, cell_of, nc) for n, x in gran.items()}
        out = {k: rows.column(k).take(first[cells]) for k in keys}

        def stack(names: list[str]) -> np.ndarray:
            return np.stack([cell[n] for n in names], axis=1)

        for v in spec.physical_variables():
            n = v.name
            count = cell[f"{n}_count"]
            cell[f"{n}_mean"], cell[f"{n}_stddev"] = _moments_np(
                cell[f"{n}_sum"], count, cell.get(f"{n}_sumsq"))
            for s in ("min", "max", "sum", "sumsq", "stddev", "mean"):
                if f"{n}_{s}" in schema.names:
                    out[f"{n}_{s}"] = pa.array(cell[f"{n}_{s}"], mask=count == 0)
            out[f"{n}_count"] = pa.array(count)
            if hists and v.bin_edges:
                out[f"{n}_hist"] = stack([f"{n}_hist_{i}" for i in range(len(v.bin_edges) - 1)])
        for jh in joints:
            nbx = len(spec.variable(jh.varname).bin_edges) - 1
            nby = len(jh.joint_edges) - 1
            out[f"{jh.joint_name}_jhist"] = stack(
                [f"{jh.joint_name}_jhist_{x}_{y}" for x in range(nbx) for y in range(nby)]
            ).reshape(nc, nbx, nby)

        # cloud fraction: the pixel counts (A11, A12), then each granule's
        # fraction and the statistics over a cell's granules (A13, A14)
        cld_pix, tot_pix = cell["g_cld"], cell["g_tot"]
        cld, tot = gran["g_cld"], gran["g_tot"]
        seen = tot > 0
        gcf = np.where(seen, cld / np.maximum(tot, 1), np.nan)
        cs, fs = cell_of[seen], gcf[seen]
        n_seen = np.bincount(cs, minlength=nc)
        none = n_seen == 0
        out["cld_pix"], out["tot_pix"] = pa.array(cld_pix), pa.array(tot_pix)
        out["cf_mean"] = pa.array(_moments_np(cld_pix, tot_pix)[0], mask=tot_pix == 0)
        out["cf_min"] = pa.array(_merge_np("_min", fs, cs, nc), mask=none)
        out["cf_max"] = pa.array(_merge_np("_max", fs, cs, nc), mask=none)
        out["grid_count"] = pa.array(np.bincount(cell_of, minlength=nc))
        if spec.strict_compat:
            # Q2: the serial driver finalizes ΣCLD, ΣTOT, ΣCLD² as if they
            # were Σv, n, Σv² — NULL for an all-undetermined cell (the
            # reference leaves it NaN — found by the hypothesis
            # differential harness)
            cld2 = _merge_np("_sum", cld * cld, cell_of, nc)
            out["cf_std"] = pa.array(_moments_np(cld_pix, tot_pix, cld2)[1], mask=tot_pix == 0)
            # Q5: +1 per (granule, variable-with-valid-data) + the CF call
            calls = sum((gran[f"{v.name}_count"] > 0 for v in spec.physical_variables()),
                        seen.astype(np.int64))
            out["grid_count_compat"] = pa.array(_merge_np("_sum", calls, cell_of, nc))
        else:
            total = _merge_np("_sum", fs, cs, nc)
            mean, _ = _moments_np(total, n_seen)
            dev = fs - mean[cs]  # population std, two-pass
            m2 = _merge_np("_sum", dev * dev, cs, nc)
            out["cf_std"] = pa.array(np.sqrt(m2 / np.maximum(n_seen, 1)), mask=none)
            # mergeable partials of the per-granule CF so reaggregate() can
            # re-finalize cf_granule_mean/cf_granule_stddev across periods
            # (cf_std itself is not mergeable; monthly std comes from these)
            out["cf_granule_sum"] = pa.array(total, mask=none)
            out["cf_granule_count"] = pa.array(n_seen)
            out["cf_granule_sumsq"] = pa.array(_merge_np("_sum", fs * fs, cs, nc), mask=none)
        if cf_edges:
            nbins = len(cf_edges) - 1
            if spec.strict_compat:  # Q1: the reference's CF histogram never accumulates
                out["cf_hist"] = np.zeros((nc, nbins), np.int64)
            else:
                out["cf_hist"] = _group_hist(cell_of, nc, hist_bucket_np(gcf, cf_edges), nbins)
        yield pa.RecordBatch.from_arrays(  # NumPy counts become the list columns
            [_lists(out[f.name], f.type) if isinstance(out[f.name], np.ndarray)
             else out[f.name] for f in schema],
            schema=schema,
        )

    return partials.repartition(*keys).mapInArrow(merge, from_arrow_schema(schema))


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
    agg = cell_merge(granule_partials(px, spec, keys), spec, keys)
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
    """Monthly (or any period) L3 from staged partials (A15/A16): the
    undensified per-cell frame (``densify_output=False``) with a period
    column (e.g. ``date``), or the stream's day partials.

    The rows are hash-partitioned by ``group_cols`` and one NumPy function
    per partition merges them by ``_merge_np``'s fmin/fmax/+ rule
    (``MODIS_Aggregation_DASK.py:127-134``): the scalar partials
    (``_min/_max/_sum/_sumsq/_count/_pix``, ``grid_count[_compat]``), NULL
    where every row of the group is, and the ``_hist``/``_jhist`` arrays
    element by element. ``{base}_mean``/``{base}_stddev`` (wherever
    ``{base}_sum`` and ``{base}_count`` exist, ``cf_granule_*`` included;
    std needs ``_sumsq``) and ``cf_mean`` are computed again, NULL where
    the count is 0; other columns (daily ``cf_std``, ``lat_idx`` …) are
    dropped. strict_compat's Q2 cf_std is daily-only: the reference
    drivers disagree on its monthly form (SURVEY Q2). Columns keep the
    staged order; computed columns it lacks come last.
    """
    group_cols = group_cols or ["cell"]
    scalars = [c for c in staged.columns if c not in group_cols and (
        c.endswith(("_min", "_max", "_sum", "_sumsq", "_count", "_pix"))
        or c in ("grid_count", "grid_count_compat"))]
    hists = [c for c in staged.columns
             if c not in group_cols and c.endswith(("_hist", "_jhist"))]
    moments = {}  # computed column -> its (sum, count, sumsq or None) partials
    for c in scalars:
        base = c[:-4]
        if c.endswith("_sum") and f"{base}_count" in scalars:
            moments[f"{base}_mean"] = (c, f"{base}_count", None)
            if f"{base}_sumsq" in scalars:
                moments[f"{base}_stddev"] = (c, f"{base}_count", f"{base}_sumsq")
    if {"cld_pix", "tot_pix"} <= set(scalars):
        moments["cf_mean"] = ("cld_pix", "tot_pix", None)

    rows_in = staged.select(*[c for c in staged.columns
                              if c in group_cols or c in scalars or c in hists])
    kept = to_arrow_schema(rows_in.schema)
    names = [c for c in staged.columns if c in kept.names or c in moments]
    names += [c for c in moments if c not in names]
    schema = pa.schema([kept.field(c) if c in kept.names else pa.field(c, pa.float64())
                        for c in names])

    def merge(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        rows = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
        first, g = _groups([rows.column(k) for k in group_cols])
        ng = len(first)
        out = {k: rows.column(k).take(first) for k in group_cols}
        merged = {}
        for c in scalars:
            x = rows.column(c)
            merged[c] = _merge_np(c, x, g, ng)
            valid = np.bincount(g[x.is_valid().to_numpy(zero_copy_only=False)], minlength=ng)
            out[c] = pa.array(merged[c], schema.field(c).type, mask=valid == 0)
        for c in hists:
            out[c] = _lists(_merge_np(c, _counts(rows.column(c)), g, ng), schema.field(c).type)
        for c, (total, count, sumsq) in moments.items():
            mean, std = _moments_np(merged[total], merged[count],
                                    None if sumsq is None else merged[sumsq])
            out[c] = pa.array(mean if sumsq is None else std, mask=merged[count] == 0)
        yield pa.RecordBatch.from_arrays([out[f.name] for f in schema], schema=schema)

    return rows_in.repartition(*group_cols).mapInArrow(merge, from_arrow_schema(schema))
