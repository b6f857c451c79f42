"""Property-based differential harness: random AggregationSpecs vs a NumPy
emulator of the reference's ``run_modis_aggre`` semantics.

Each hypothesis example draws a full spec — region, grid geometry,
systematic sampling (stride + offsets), statistic switches, 1-D histogram
bin edges, strict_compat on/off — runs the engine's ``daily_grid`` plan on
a fixed pixel subset, and compares every occupied cell against a NumPy
reimplementation of the reference scheme (per-granule accumulate,
fmin/fmax/+ merge, Σv²-based std finalize; reference
``aggregate_functions.py:225-410``), including the strict-compat quirks:

* Q1 — CF histogram stays all-zero in strict mode;
* Q2 — strict CF std is ``sqrt(ΣCLD²/ΣTOT − (ΣCLD/ΣTOT)²)`` over
  per-granule pixel counts;
* Q5 — strict GRID_Counts adds one per (granule, variable-with-valid-data)
  plus one per granule with any determined CM pixel.

The emulator is written from SURVEY §2.4's documented formulas — no
reference code is copied.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from modis_aggregation_spark.config import ALL_STATS, AggregationSpec, VariableSpec
from modis_aggregation_spark.plans.pipeline import daily_grid

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)

# fixture pixels cover lat [-20, 20] × lon [0, 35]
_N_GRANULES = 60  # subset: ~11k pixels keeps each Spark round sub-second


@st.composite
def spec_params(draw):
    d_lat = draw(st.sampled_from([0.5, 1.0, 2.0, 2.5, 5.0]))
    d_lon = draw(st.sampled_from([0.5, 1.0, 1.25, 2.0, 5.0]))
    nlat = draw(st.integers(2, 10))
    nlon = draw(st.integers(2, 10))
    # anchor the region so it overlaps the fixture's lat/lon extent
    lat0 = draw(st.integers(-24, 4)) * 1.0
    lon0 = draw(st.integers(-4, 24)) * 1.0
    sampling = draw(st.sampled_from([1, 2, 3, 5]))
    off_i = draw(st.integers(0, sampling - 1)) if sampling > 1 else 0
    off_j = draw(st.integers(0, sampling - 1)) if sampling > 1 else 0
    # statistic switches: sum/count always on; draw the optional ones
    stats = ["Mean", "Pixel_Counts"]
    for s in ("Minimum", "Maximum", "Standard_Deviation", "Histogram_Counts"):
        if draw(st.booleans()):
            stats.append(s)
    # 1-D histogram edges: sorted distinct values within the data range
    n_edges = draw(st.integers(3, 6))
    raw = draw(
        st.lists(
            st.integers(0, 120), min_size=n_edges, max_size=n_edges, unique=True
        )
    )
    edges = tuple(sorted(10.0 * e for e in raw))
    cf_edges = (0.0, 0.25, 0.5, 0.75, 1.0)
    strict = draw(st.booleans())
    return {
        "lat_bounds": (lat0, lat0 + nlat * d_lat),
        "lon_bounds": (lon0, lon0 + nlon * d_lon),
        "grid": (d_lat, d_lon),
        "sampling": sampling,
        "sampling_offset": (off_i, off_j),
        "stats": tuple(stats),
        "edges": edges,
        "cf_edges": cf_edges,
        "strict": strict,
    }


def _np_hist(vals, edges):
    valid = vals[~np.isnan(vals)]
    h, _ = np.histogram(valid, bins=np.asarray(edges))
    return h


def _emulate(pdf, p):
    """Reference-semantics emulator for one spec over the pixel subset.

    Returns {cell: {stat: value}} for every cell touched by any pixel.
    """
    (lat0, lat1), (lon0, lon1) = p["lat_bounds"], p["lon_bounds"]
    d_lat, d_lon = p["grid"]
    nlon = round((lon1 - lon0) / d_lon)
    ncells = round((lat1 - lat0) / d_lat) * nlon
    n, (oi, oj) = p["sampling"], p["sampling_offset"]

    cells: dict[int, dict] = {}

    def cell_acc(z):
        if z not in cells:
            cells[z] = {
                "min": np.inf, "max": -np.inf, "sum": 0.0, "count": 0,
                "sumsq": 0.0, "hist": np.zeros(len(p["edges"]) - 1, dtype=int),
                "cld": 0, "tot": 0, "granule_cfs": [], "g_cld2": 0.0,
                "g_tot": 0.0, "g_cld": 0.0, "granules": set(), "inflated": 0,
            }
        return cells[z]

    for gid, g in pdf.groupby("granule_id"):
        lat = g["lat"].to_numpy()
        lon = g["lon"].to_numpy()
        keep = (lat > lat0) & (lat < lat1) & (lon > lon0) & (lon < lon1)
        if n > 1:
            i, j = g["i"].to_numpy(), g["j"].to_numpy()
            keep &= (i >= oi) & (j >= oj) & ((i - oi) % n == 0) & ((j - oj) % n == 0)
        g = g[keep]
        if not len(g):
            continue
        lat, lon = g["lat"].to_numpy(), g["lon"].to_numpy()
        zz = (
            np.floor((lat - lat0) / d_lat).astype(np.int64) * nlon
            + np.floor((lon - lon0) / d_lon).astype(np.int64)
        )
        ctp = g["ctp"].to_numpy(dtype=np.float64)
        cm_raw = g["cm_raw"].to_numpy()
        cm = np.where(cm_raw & 1 == 0, -1, (cm_raw & 7) >> 1)
        for z in np.unique(zz):
            if not (0 <= z < ncells):
                continue
            m = zz == z
            a = cell_acc(int(z))
            a["granules"].add(gid)
            vals = ctp[m]
            has_valid = bool(np.any(~np.isnan(vals)))
            if has_valid:
                a["min"] = np.fmin(a["min"], np.nanmin(vals))
                a["max"] = np.fmax(a["max"], np.nanmax(vals))
            a["sum"] += np.nansum(vals)
            a["count"] += int(np.count_nonzero(~np.isnan(vals)))
            a["sumsq"] += np.nansum(vals**2)
            a["hist"] += _np_hist(vals, p["edges"])
            cmm = cm[m]
            g_cld = int(np.count_nonzero((cmm >= 0) & (cmm <= 1)))
            g_tot = int(np.count_nonzero((cmm >= 0) & (cmm <= 3)))
            a["cld"] += g_cld
            a["tot"] += g_tot
            if g_tot > 0:
                a["granule_cfs"].append(g_cld / g_tot)
            a["g_cld"] += g_cld
            a["g_tot"] += g_tot
            a["g_cld2"] += float(g_cld) ** 2
            # Q5: +1 per variable with valid data, +1 for the CF call
            a["inflated"] += int(has_valid) + int(g_tot > 0)
    return cells


@pytest.fixture(scope="module")
def subset(spark):
    from pyspark.sql import functions as F

    px = (
        spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
        .filter(F.col("granule_id") < _N_GRANULES)
        .persist()
    )
    px.count()
    gr = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet")).filter(
        F.col("granule_id") < _N_GRANULES
    )
    pdf = px.select("granule_id", "i", "j", "lat", "lon", "ctp", "cm_raw").toPandas()
    yield px, gr, pdf
    px.unpersist()


@settings(
    max_examples=100,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(p=spec_params())
def test_random_spec_matches_reference_emulator(spark, subset, p):
    px, gr, pdf = subset
    spec = AggregationSpec(
        lat_bounds=p["lat_bounds"],
        lon_bounds=p["lon_bounds"],
        grid=p["grid"],
        sampling=p["sampling"],
        sampling_offset=p["sampling_offset"],
        stats=p["stats"],
        variables=(
            VariableSpec(name="ctp", bin_edges=p["edges"]),
            VariableSpec(name="cloud_fraction_CM", bin_edges=p["cf_edges"]),
        ),
        strict_compat=p["strict"],
    )
    got = {
        r["cell"]: r
        for r in daily_grid(spark, spec, px, gr, densify_output=False).collect()
    }
    want = _emulate(pdf, p)

    assert set(got) == set(want)
    approx = lambda v: pytest.approx(v, rel=1e-9, abs=1e-9)  # noqa: E731
    for z, a in want.items():
        r = got[z]
        if a["count"] > 0:
            if "Minimum" in p["stats"]:
                assert r["ctp_min"] == approx(a["min"]), z
            if "Maximum" in p["stats"]:
                assert r["ctp_max"] == approx(a["max"]), z
            assert r["ctp_sum"] == approx(a["sum"]), z
            assert r["ctp_count"] == a["count"], z
            assert r["ctp_mean"] == approx(a["sum"] / a["count"]), z
            if "Standard_Deviation" in p["stats"]:
                ref_var = max(
                    a["sumsq"] / a["count"] - (a["sum"] / a["count"]) ** 2, 0.0
                )
                # The Σv² finalize (the reference's own formula, used by both
                # the emulator and the engine) has a float64 cancellation
                # floor of ~eps·E[v²]; the two sides sum in different orders,
                # so when the true variance sits below that floor they
                # legitimately disagree by noise. Compare variances with the
                # floor as abs tolerance.
                noise = 64 * np.finfo(np.float64).eps * (a["sumsq"] / a["count"])
                assert r["ctp_stddev"] ** 2 == pytest.approx(
                    ref_var, rel=1e-6, abs=noise
                ), z
        else:
            assert r["ctp_count"] == 0, z
        if "Histogram_Counts" in p["stats"]:
            assert list(r["ctp_hist"]) == a["hist"].tolist(), z
        assert r["cld_pix"] == a["cld"], z
        assert r["tot_pix"] == a["tot"], z
        if a["tot"] > 0:
            assert r["cf_mean"] == approx(a["cld"] / a["tot"]), z
        else:
            assert r["cf_mean"] is None, z
        # two-level CF stats (A13)
        cfs = np.asarray(a["granule_cfs"])
        if len(cfs):
            assert r["cf_min"] == approx(cfs.min()), z
            assert r["cf_max"] == approx(cfs.max()), z
        else:
            assert r["cf_min"] is None and r["cf_max"] is None, z
        # grid counts: clean = distinct granules; strict adds Q5 inflation
        assert r["grid_count"] == len(a["granules"]), z
        if p["strict"]:
            assert r["grid_count_compat"] == a["inflated"], z
            # Q2: staged ΣCLD² std over per-granule pixel counts
            if a["g_tot"] > 0:
                mean = a["g_cld"] / a["g_tot"]
                var = max(a["g_cld2"] / a["g_tot"] - mean * mean, 0.0)
                assert r["cf_std"] == pytest.approx(np.sqrt(var), abs=1e-9), z
            else:
                assert r["cf_std"] is None, z
            # Q1: the strict CF histogram never accumulates
            if "Histogram_Counts" in p["stats"]:
                assert all(v == 0 for v in r["cf_hist"]), z
        else:
            if len(cfs):
                assert r["cf_std"] == pytest.approx(cfs.std(), abs=1e-9), z
            if "Histogram_Counts" in p["stats"]:
                assert list(r["cf_hist"]) == _np_hist(cfs, p["cf_edges"]).tolist(), z
