"""Histogram operators (1-D + joint, long format) and densification."""

import numpy as np
from pyspark.sql import functions as F

from modis_aggregation_spark.config import default_spec
from modis_aggregation_spark.operators import hist as ops_hist
from modis_aggregation_spark.operators.densify import cell_dimension, densify


def _df(spark, rows, schema="cell long, x double, y double"):
    return spark.createDataFrame(rows, schema)


def test_hist_1d_long_format(spark):
    edges = [0.0, 1.0, 2.0, 3.0]
    rows = [(0, 0.5, 0.0), (0, 0.5, 0.0), (0, 2.5, 0.0), (0, None, 0.0), (1, 3.0, 0.0)]
    df = _df(spark, rows)
    long = {
        (r.cell, r.bucket): r.cnt
        for r in ops_hist.hist_1d(df, "x", edges).collect()
    }
    assert long == {(0, 0): 2, (0, 2): 1, (1, 2): 1}  # 3.0 in closed last bin


def test_hist_2d_rowwise_pairing(spark):
    ex, ey = [0.0, 1.0, 2.0], [0.0, 10.0, 20.0]
    rows = [
        (0, 0.5, 5.0),    # (0,0)
        (0, 0.5, None),   # dropped: y null
        (0, None, 5.0),   # dropped: x null
        (0, 1.5, 15.0),   # (1,1)
        (0, 1.5, 25.0),   # dropped: y out of range
    ]
    df = _df(spark, rows)
    got = {
        (r.cell, r.bucket_x, r.bucket_y): r.cnt
        for r in ops_hist.hist_2d(df, "x", "y", ex, ey).collect()
    }
    assert got == {(0, 0, 0): 1, (0, 1, 1): 1}


def test_hist_2d_matches_numpy_histogram2d(spark):
    rng = np.random.default_rng(11)
    ex = [0.0, 0.5, 1.0, 2.0]
    ey = [0.0, 3.0, 9.0]
    x = rng.uniform(-0.5, 2.5, 400)
    y = rng.uniform(-1.0, 10.0, 400)
    df = _df(spark, [(0, float(a), float(b)) for a, b in zip(x, y)])
    h_np, _, _ = np.histogram2d(x, y, bins=(ex, ey))
    # np.histogram2d pairs row-wise with both-valid (no NaNs here) — same rule
    got = np.zeros_like(h_np, dtype=int)
    for r in ops_hist.hist_2d(df, "x", "y", ex, ey).collect():
        got[r.bucket_x, r.bucket_y] = r.cnt
    assert (got == h_np.astype(int)).all()


def test_densify_full_grid(spark):
    spec = default_spec(lat_bounds=(0.0, 2.0), lon_bounds=(0.0, 3.0))  # 2x3 grid
    agg = spark.createDataFrame([(0, 5), (4, 7)], "cell long, n long")
    out = densify(agg, spec.nlat, spec.nlon, zero_fill_cols=["n"])
    rows = {r.cell: (r.lat_idx, r.lon_idx, r.n) for r in out.collect()}
    assert len(rows) == 6
    assert rows[0] == (0, 0, 5)
    assert rows[4] == (1, 1, 7)
    assert rows[1] == (0, 1, 0)  # empty cell zero-filled
    assert rows[5] == (1, 2, 0)


def test_cell_dimension_shape(spark):
    dim = cell_dimension(spark, 3, 4)
    assert dim.count() == 12
    r = dim.filter(F.col("cell") == 7).first()
    assert (r.lat_idx, r.lon_idx) == (1, 3)
