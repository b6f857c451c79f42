"""Differential test against a NumPy emulation of the REFERENCE semantics.

This reimplements (from SURVEY §2.4's documented formulas — no reference
code) the per-granule accumulate / fmin-fmax-plus merge / finalize scheme
of ``run_modis_aggre`` + the Dask merge loop, and checks the engine's
strict-compat daily grid against it cell by cell. This is the "matches the
reference's results" proof at formula level, independent of the DuckDB
oracle.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from modis_aggregation_spark.config import AggregationSpec, VariableSpec
from modis_aggregation_spark.plans.pipeline import daily_grid

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)

EDGES = np.array([0.0, 300.0, 600.0, 900.0, 1100.0])

# (lat0, lat1, lon0, lon1, d_lat, d_lon) — several regions/grids so the
# differential is not tuned to one geometry
SPECS = [
    (-20.0, 20.0, 0.0, 35.0, 1.0, 1.0),
    (-60.0, 60.0, -120.0, 120.0, 2.0, 2.0),
    (10.0, 30.0, -50.0, -25.0, 0.5, 0.625),
]


def _emulate_reference(pdf, LAT0, LAT1, LON0, LON1, D_LAT, D_LON):
    NLON = round((LON1 - LON0) / D_LON)
    NCELLS = round((LAT1 - LAT0) / D_LAT) * NLON
    """Per-granule accumulation with NaN-skipping stats, merged with
    fmin/fmax/+ — the reference's scheme per SURVEY §2.4 (A2-A15)."""
    acc = {
        "min": np.full(NCELLS, np.inf),
        "max": np.full(NCELLS, -np.inf),
        "sum": np.zeros(NCELLS),
        "count": np.zeros(NCELLS),
        "sumsq": np.zeros(NCELLS),
        "hist": np.zeros((NCELLS, len(EDGES) - 1)),
        "cld": np.zeros(NCELLS),
        "tot": np.zeros(NCELLS),
    }
    for _, g in pdf.groupby("granule_id"):
        lat, lon = g["lat"].to_numpy(), g["lon"].to_numpy()
        keep = (lat > LAT0) & (lat < LAT1) & (lon > LON0) & (lon < LON1)
        g = g[keep]
        if not len(g):
            continue
        lat, lon = g["lat"].to_numpy(), g["lon"].to_numpy()
        cells = (
            np.floor((lat - LAT0) / D_LAT).astype(np.int64) * NLON
            + np.floor((lon - LON0) / D_LON).astype(np.int64)
        )
        ctp = g["ctp"].to_numpy(dtype=np.float64)
        cm_raw = g["cm_raw"].to_numpy()
        status = cm_raw & 1
        flag = (cm_raw & 7) >> 1
        cm = np.where(status == 0, -1, flag)
        for z in np.unique(cells):
            if not (0 <= z < NCELLS):
                continue
            m = cells == z
            vals = ctp[m]
            # per-granule nan-stats merged with fmin/fmax/+
            if np.any(~np.isnan(vals)):
                acc["min"][z] = np.fmin(acc["min"][z], np.nanmin(vals))
                acc["max"][z] = np.fmax(acc["max"][z], np.nanmax(vals))
            acc["sum"][z] += np.nansum(vals)
            acc["count"][z] += np.count_nonzero(~np.isnan(vals))
            acc["sumsq"][z] += np.nansum(vals**2)
            valid = vals[~np.isnan(vals)]
            h, _ = np.histogram(valid, bins=EDGES)
            acc["hist"][z] += h
            cmm = cm[m]
            acc["cld"][z] += np.count_nonzero((cmm >= 0) & (cmm <= 1))
            acc["tot"][z] += np.count_nonzero((cmm >= 0) & (cmm <= 3))
    # finalize: mean = Σv/count, std = sqrt(Σv²/count − mean²)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = acc["sum"] / acc["count"]
        std = np.sqrt(np.maximum(acc["sumsq"] / acc["count"] - mean**2, 0.0))
        cf = acc["cld"] / np.where(acc["tot"] == 0, np.nan, acc["tot"])
    return acc, mean, std, cf


@pytest.mark.parametrize("geom", SPECS)
def test_engine_matches_reference_formulas(spark, geom):
    LAT0, LAT1, LON0, LON1, D_LAT, D_LON = geom
    NCELLS = round((LAT1 - LAT0) / D_LAT) * round((LON1 - LON0) / D_LON)
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    spec = AggregationSpec(
        lat_bounds=(LAT0, LAT1),
        lon_bounds=(LON0, LON1),
        grid=(D_LAT, D_LON),
        variables=(VariableSpec(name="ctp", bin_edges=tuple(EDGES)),),
    )
    grid = {
        r["cell"]: r
        for r in daily_grid(
            spark, spec, pixels, granules, densify_output=False
        ).collect()
    }

    pdf = pixels.select("granule_id", "lat", "lon", "ctp", "cm_raw").toPandas()
    acc, mean, std, cf = _emulate_reference(pdf, LAT0, LAT1, LON0, LON1, D_LAT, D_LON)

    occupied = [z for z in range(NCELLS) if acc["tot"][z] > 0 or acc["count"][z] > 0]
    assert len(occupied) > 100
    for z in occupied:
        r = grid[z]
        if acc["count"][z] > 0:
            assert r["ctp_min"] == pytest.approx(acc["min"][z], abs=1e-9), z
            assert r["ctp_max"] == pytest.approx(acc["max"][z], abs=1e-9), z
            assert r["ctp_sum"] == pytest.approx(acc["sum"][z], rel=1e-12), z
            assert r["ctp_count"] == acc["count"][z], z
            assert r["ctp_mean"] == pytest.approx(mean[z], rel=1e-12), z
            # engine and reference both finalize with the Σv² formula, summed
            # in different orders: equal up to its cancellation error
            assert r["ctp_stddev"] == pytest.approx(std[z], abs=1e-6), z
        assert list(r["ctp_hist"]) == acc["hist"][z].astype(int).tolist(), z
        assert r["cld_pix"] == acc["cld"][z], z
        assert r["tot_pix"] == acc["tot"][z], z
        if acc["tot"][z] > 0:
            assert r["cf_mean"] == pytest.approx(cf[z], rel=1e-12), z
        else:
            assert r["cf_mean"] is None, z
