"""Independent NumPy oracle for the benchmark's outputs.

The oracle recomputes every per-cell value of a daily product from the
granule content (``synth_granule``) with plain NumPy: no Spark, no code of
the engine's plans, operators or sinks. The szip layout stores the
science variables as int16 with scale 0.1, so the oracle applies the
same quantization before aggregating.

Comparison rules:

* counts, pixel counts and histograms must match exactly;
* packed statistics (``int(v / scale + offset)``, truncated) may differ by
  one unit in the last place, because the engine sums in another order;
* cloud-fraction datasets are stored scaled by 1e4 without truncation and
  may differ by one scaled unit;
* a statistic whose packed value does not fit in int32 is counted as
  overflowed, not compared. This is a known defect of the sink's packing
  (see NOTES.md); the count is reported as ``sinks.overflowed_values``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.sources.granule_datasource import synth_granule
from perfbench.workloads import VARIABLES, Granule

CF_SCALE, CF_FILL = 1e-4, -9999
INT32_LIMIT = 2.0**31


def decoded_pixels(gid: int, layout: str) -> dict[str, np.ndarray]:
    """The pixels of one granule as the HDF4 decoder returns them."""
    d = synth_granule(gid, VARIABLES)
    out = {k: d[k] for k in ("lat", "lon", "cm_raw")}
    for v in VARIABLES:
        x = d[v]
        if layout == "szip":
            raw = np.where(np.isnan(x), -9999, np.round(x * 10.0)).astype(np.int16)
            x = np.where(raw == -9999, np.nan, raw.astype(np.float64) * 0.1)
        out[v] = x
    return out


def _bucket(v: np.ndarray, edges) -> np.ndarray:
    """np.histogram's bin of each value: half-open bins, the last one
    closed; -1 for NaN and values outside the edges."""
    e = np.asarray(edges, dtype=np.float64)
    b = np.searchsorted(e, v, side="right") - 1
    b = np.where(v == e[-1], len(e) - 2, b)
    return np.where((v >= e[0]) & (v <= e[-1]), b, -1)


def _counts(key: np.ndarray, n: int) -> np.ndarray:
    return np.bincount(key, minlength=n).astype(np.int64)


def _moments(cell: np.ndarray, x: np.ndarray, n: int) -> dict[str, np.ndarray]:
    """sum/count/sumsq/min/max/mean/population std per cell, NaN skipped."""
    ok = ~np.isnan(x)
    c, v = cell[ok], x[ok]
    count = _counts(c, n)
    has = count > 0
    total = np.bincount(c, weights=v, minlength=n)
    mean = np.where(has, total / np.maximum(count, 1), np.nan)
    dev = v - mean[c]
    var = np.bincount(c, weights=dev * dev, minlength=n) / np.maximum(count, 1)
    lo = np.full(n, np.inf)
    hi = np.full(n, -np.inf)
    np.minimum.at(lo, c, v)
    np.maximum.at(hi, c, v)
    nan = np.nan
    return {
        "sum": np.where(has, total, nan),
        "count": count,
        "sumsq": np.where(has, np.bincount(c, weights=v * v, minlength=n), nan),
        "min": np.where(has, lo, nan),
        "max": np.where(has, hi, nan),
        "mean": mean,
        "stddev": np.where(has, np.sqrt(var), nan),
    }


def _pixels(granules: list[Granule], layout: str, spec: AggregationSpec,
            day_rule: tuple[int, int] | None) -> dict[str, np.ndarray]:
    """Kept pixels of all granules with their cell, granule index and
    decoded cloud-mask flag (-2 where the day rule nulled it)."""
    lat0, lat1 = spec.lat_bounds
    lon0, lon1 = spec.lon_bounds
    parts = []
    for gi, g in enumerate(granules):
        p = decoded_pixels(g.granule_id, layout)
        lat, lon, raw = p["lat"], p["lon"], p["cm_raw"].astype(np.int64)
        cm = np.where((raw & 1) == 0, -1, (raw >> 1) & 3)
        measures = {v: p[v].copy() for v in VARIABLES}
        if day_rule is not None and g.hour < spec.shift_hours:
            end_doy, spill_doy = day_rule
            if g.doy == end_doy:
                nulled = ((lon >= -180) & (lon <= -90)) | ((lon >= 0) & (lon <= 90))
            elif g.doy == spill_doy:
                nulled = ((lon >= 90) & (lon <= 180)) | ((lon >= -90) & (lon <= 0))
            else:
                nulled = np.zeros(lon.shape, bool)
            cm = np.where(nulled, -2, cm)
            for x in measures.values():
                x[nulled] = np.nan
        keep = (lat > lat0) & (lat < lat1) & (lon > lon0) & (lon < lon1)
        cell = (
            np.floor((lat[keep] - lat0) / spec.grid[0]).astype(np.int64) * spec.nlon
            + np.floor((lon[keep] - lon0) / spec.grid[1]).astype(np.int64)
        )
        inside = (cell >= 0) & (cell < spec.ncells)
        part = {"cell": cell[inside], "cm": cm[keep][inside]}
        part["granule"] = np.full(part["cell"].size, gi, dtype=np.int64)
        part["day"] = np.full(part["cell"].size, g.doy, dtype=np.int64)
        for v, x in measures.items():
            part[v] = x[keep][inside]
        parts.append(part)
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def daily_product(granules: list[Granule], layout: str, spec: AggregationSpec,
                  end_doy: int, spill_doy: int) -> dict[str, np.ndarray]:
    """Every dataset of the densified daily grid, unpacked, shaped like
    ``writers.grid_to_arrays`` output."""
    px = _pixels(granules, layout, spec, (end_doy, spill_doy))
    n, cell = spec.ncells, px["cell"]
    out: dict[str, np.ndarray] = {}
    for v in spec.physical_variables():
        for stat, arr in _moments(cell, px[v.name], n).items():
            out[f"{v.name}_{stat}"] = arr
        if v.bin_edges:
            nb = len(v.bin_edges) - 1
            b = _bucket(px[v.name], v.bin_edges)
            ok = b >= 0
            out[f"{v.name}_hist"] = _counts(cell[ok] * nb + b[ok], n * nb).reshape(n, nb)
    for jh in spec.joint_hists:
        xe = spec.variable(jh.varname).bin_edges
        nbx, nby = len(xe) - 1, len(jh.joint_edges) - 1
        bx = _bucket(px[jh.varname], xe)
        by = _bucket(px[jh.partner_var], jh.joint_edges)
        ok = (bx >= 0) & (by >= 0)
        key = (cell[ok] * nbx + bx[ok]) * nby + by[ok]
        out[f"{jh.joint_name}_jhist"] = _counts(key, n * nbx * nby).reshape(n, nbx, nby)
    cm = px["cm"]
    cld = (cm >= 0) & (cm <= 1)
    tot = (cm >= 0) & (cm <= 3)
    out["cld_pix"] = _counts(cell[cld], n)
    out["tot_pix"] = _counts(cell[tot], n)
    with np.errstate(invalid="ignore", divide="ignore"):
        out["cf_mean"] = np.where(out["tot_pix"] > 0, out["cld_pix"] / out["tot_pix"], np.nan)

    # per-granule cloud fraction of every (cell, granule) pair with pixels
    ng = int(px["granule"].max()) + 1
    pairs, inv = np.unique(cell * ng + px["granule"], return_inverse=True)
    g_cld = np.bincount(inv, weights=cld, minlength=pairs.size)
    g_tot = np.bincount(inv, weights=tot, minlength=pairs.size)
    pair_cell = pairs // ng
    out["grid_count"] = _counts(pair_cell, n)
    with np.errstate(invalid="ignore", divide="ignore"):
        gcf = np.where(g_tot > 0, g_cld / g_tot, np.nan)
    m = _moments(pair_cell, gcf, n)
    out.update(cf_min=m["min"], cf_max=m["max"], cf_std=m["stddev"],
               cf_granule_sum=m["sum"], cf_granule_count=m["count"],
               cf_granule_sumsq=m["sumsq"])
    cf_var = next(v for v in spec.variables if v.is_virtual)
    nb = len(cf_var.bin_edges) - 1
    b = _bucket(gcf, cf_var.bin_edges)
    ok = b >= 0
    out["cf_hist"] = _counts(pair_cell[ok] * nb + b[ok], n * nb).reshape(n, nb)
    shape = (spec.nlat, spec.nlon)
    return {k: a.reshape(shape + a.shape[1:]) for k, a in out.items()}


def daily_partials(granules: list[Granule], layout: str,
                   spec: AggregationSpec) -> dict[str, np.ndarray]:
    """The streamed per-(day, cell) partials, one entry per occupied key,
    sorted by (day, cell). ``day`` is the day of year of the window."""
    px = _pixels(granules, layout, spec, None)
    keys, inv = np.unique(px["day"] * spec.ncells + px["cell"], return_inverse=True)
    n = keys.size
    out = {"day": keys // spec.ncells, "cell": keys % spec.ncells}
    cm = px["cm"]
    out["cld_pix"] = _counts(inv[(cm >= 0) & (cm <= 1)], n)
    out["tot_pix"] = _counts(inv[(cm >= 0) & (cm <= 3)], n)
    for v in VARIABLES:
        m = _moments(inv, px[v], n)
        for stat in ("sum", "count", "sumsq", "min", "max"):
            out[f"{v}_{stat}"] = m[stat]
    with np.errstate(invalid="ignore", divide="ignore"):
        out["cf_mean"] = np.where(out["tot_pix"] > 0, out["cld_pix"] / out["tot_pix"], np.nan)
    return out


@dataclass
class Check:
    mismatches: int = 0
    overflowed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, name: str, count: int, what: str) -> None:
        if count:
            self.mismatches += count
            self.problems.append(f"{name}: {count} {what}")


def _is_count(name: str) -> bool:
    return name.endswith(("_count", "_pix", "_hist", "_jhist")) or name == "grid_count"


def _close(got: np.ndarray, want: np.ndarray, tol: float, fill: float) -> np.ndarray:
    """Elementwise agreement: both fill where ``want`` is NaN, else within tol."""
    missing = np.isnan(want)
    near = np.abs(got - np.where(missing, 0.0, want)) <= tol
    return np.where(missing, got == fill, near & (got != fill))


def check_product(datasets: dict, expected: dict[str, np.ndarray],
                  spec: AggregationSpec) -> Check:
    """Compare an HDF5 product read back with ``hdf5lite.read_hdf5``."""
    out = Check()
    want_names = set(expected) | {"lat_bnd", "lon_bnd"}
    out.fail("datasets", len(want_names ^ set(datasets)), "missing or unexpected")
    lat_bnd = np.linspace(*spec.lat_bounds, spec.nlat + 1)
    lon_bnd = np.linspace(*spec.lon_bounds, spec.nlon + 1)
    for name, bnd in (("lat_bnd", lat_bnd), ("lon_bnd", lon_bnd)):
        if name in datasets:
            out.fail(name, int(not np.allclose(datasets[name].data, bnd)), "wrong bounds")
    for name, want in expected.items():
        if name not in datasets:
            continue
        got = np.asarray(datasets[name].data)
        if got.shape != want.shape:
            out.fail(name, 1, f"shape {got.shape} != {want.shape}")
            continue
        if _is_count(name):
            out.fail(name, int(np.count_nonzero(got.astype(np.int64) != want)), "counts differ")
            continue
        if name.startswith("cf_"):
            ok = _close(got.astype(np.float64), want / CF_SCALE, 1.0, CF_FILL)
            out.fail(name, int(np.count_nonzero(~ok)), "values differ by more than 1 LSB")
            continue
        var = spec.variable(name.rsplit("_", 1)[0])
        q = want / var.scale_factor + var.add_offset
        over = np.abs(np.nan_to_num(q)) >= INT32_LIMIT
        out.overflowed += int(np.count_nonzero(over))
        ok = _close(got.astype(np.float64), np.trunc(q), 1.0, int(var.fill_value)) | over
        out.fail(name, int(np.count_nonzero(~ok)), "values differ by more than 1 LSB")
    return out


def check_partials(got: dict[str, np.ndarray], expected: dict[str, np.ndarray],
                   spec: AggregationSpec) -> Check:
    """Compare streamed partials (sorted by day, cell) with the oracle.
    Float partials may differ by one unit of their variable's packing
    scale; the cloud fraction by one unit of 1e-4."""
    out = Check()
    out.fail("columns", len(set(expected) ^ set(got)), "missing or unexpected")
    if got["day"].size != expected["day"].size or np.any(got["day"] != expected["day"]) \
            or np.any(got["cell"] != expected["cell"]):
        out.fail("keys", max(1, abs(got["day"].size - expected["day"].size)),
                 "(day, cell) keys differ")
        return out
    for name, want in expected.items():
        if name in ("day", "cell") or name not in got:
            continue
        g = got[name]
        if name.endswith(("_count", "_pix")):
            out.fail(name, int(np.count_nonzero(g != want)), "counts differ")
            continue
        tol = CF_SCALE if name == "cf_mean" else spec.variable(name.split("_")[0]).scale_factor
        missing = np.isnan(want)
        ok = np.where(missing, np.isnan(g),
                      np.abs(np.nan_to_num(g) - np.nan_to_num(want)) <= tol)
        out.fail(name, int(np.count_nonzero(~ok)), "values differ by more than 1 LSB")
    return out
