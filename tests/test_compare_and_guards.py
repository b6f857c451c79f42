"""J4 grid comparison, S8 cross-track trim, S11 resolution validation,
S14 gated netCDF export."""

import os

import pytest
from pyspark.sql import functions as F

from modis_aggregation_spark.config import AggregationSpec, VariableSpec
from modis_aggregation_spark.operators import stats as ops_stats
from modis_aggregation_spark.operators.compare import compare_grids, max_abs_diff
from modis_aggregation_spark.sinks import writers

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)


def test_compare_grids_identical_and_perturbed(spark):
    a = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 2.0), (1, 0, None)],
        "lat_idx int, lon_idx int, cf_mean double",
    )
    same = compare_grids(a, a, ["cf_mean"])
    assert max_abs_diff(same, ["cf_mean"]) == {"cf_mean": 0.0}

    b = spark.createDataFrame(
        [(0, 0, 1.5), (0, 1, 2.0), (2, 2, 9.0)],
        "lat_idx int, lon_idx int, cf_mean double",
    )
    cmpdf = compare_grids(a, b, ["cf_mean"])
    rows = {(r["lat_idx"], r["lon_idx"]): r for r in cmpdf.collect()}
    assert rows[(0, 0)]["cf_mean_absdiff"] == pytest.approx(0.5)
    assert rows[(0, 0)]["cf_mean_ratio"] == pytest.approx(1.0 / 1.5)
    # full outer: one-sided cells survive with NULLs
    assert rows[(2, 2)]["cf_mean_l"] is None
    assert rows[(1, 0)]["cf_mean_absdiff"] is None


def test_compare_products_cli_diff_grid_and_png(spark, tmp_path):
    """The compare verb end-to-end (notebook-parity closure): two REAL
    export_hdf5 product files → load/unpack both → diff grid parquet +
    per-variable absdiff PNGs + printed max|diff| summary."""
    import numpy as np

    from modis_aggregation_spark.cli import main
    from modis_aggregation_spark.plans.pipeline import daily_grid
    from modis_aggregation_spark.sinks.pnglite import read_png

    spec = AggregationSpec(
        lat_bounds=(-20.0, 20.0),
        lon_bounds=(0.0, 35.0),
        variables=(VariableSpec(name="ctp"),),
    )
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    grid = daily_grid(spark, spec, pixels, granules).cache()
    a = str(tmp_path / "a.h5")
    b = str(tmp_path / "b.h5")
    writers.export_hdf5(grid, spec, a)
    # +2 hPa on ctp_mean only: survives int packing exactly (positive
    # values truncate the same direction on both sides)
    writers.export_hdf5(
        grid.withColumn(
            "ctp_mean",
            F.when(F.col("ctp_mean").isNotNull(), F.col("ctp_mean") + 2.0),
        ),
        spec,
        b,
    )
    out = str(tmp_path / "diff.parquet")
    prefix = str(tmp_path / "cmp_")
    rc = main([
        "compare", "--left", a, "--right", b,
        "--vars", "ctp_mean", "cf_mean",
        "--output", out, "--png-prefix", prefix,
    ])
    assert rc == 0
    diff = spark.read.parquet(out)
    assert diff.count() == spec.ncells
    vals = diff.agg(
        F.max("ctp_mean_absdiff").alias("ctp"), F.max("cf_mean_absdiff").alias("cf")
    ).first()
    assert vals["ctp"] == pytest.approx(2.0)
    assert vals["cf"] == pytest.approx(0.0, abs=1e-9)
    # PNGs exist and decode; the ctp diff plane has at least one opaque px
    img = read_png(prefix + "ctp_mean_absdiff.png")
    assert img.shape == (spec.nlat, spec.nlon, 4)
    assert (img[:, :, 3] == 255).any()
    img_cf = read_png(prefix + "cf_mean_absdiff.png")
    assert img_cf.shape == (spec.nlat, spec.nlon, 4)
    # S13 guard applies to the verb's outputs too
    with pytest.raises(Exception, match="png|exists|Exists"):
        main([
            "compare", "--left", a, "--right", b, "--vars", "ctp_mean",
            "--png-prefix", prefix,
        ])


def test_compare_round4_matches_notebook_semantics(spark):
    # diffs below 1e-4 vanish after the notebook's round(4)
    a = spark.createDataFrame([(0, 0, 0.123411)], "lat_idx int, lon_idx int, v double")
    b = spark.createDataFrame([(0, 0, 0.123419)], "lat_idx int, lon_idx int, v double")
    out = compare_grids(a, b, ["v"]).first()
    assert out["v_absdiff"] == pytest.approx(0.0, abs=1e-12)


def test_trim_cross_track(spark):
    px = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    jmax = px.agg(F.max("j")).first()[0]
    trimmed = ops_stats.trim_cross_track(px, keep_cols=jmax)
    assert trimmed.agg(F.max("j")).first()[0] == jmax - 1
    assert trimmed.count() < px.count()


def test_validate_resolution(spark):
    px = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    ops_stats.validate_resolution(px, ["ctp", "cee"])  # ok
    with pytest.raises(ValueError, match="not found"):
        ops_stats.validate_resolution(px, ["nope"])
    bad = px.withColumn("s", F.lit("x"))
    with pytest.raises(ValueError, match="non-numeric"):
        ops_stats.validate_resolution(bad, ["s"])
    with pytest.raises(ValueError, match="missing required"):
        ops_stats.validate_resolution(px.drop("lat"), ["ctp"])


def test_pipeline_validates_before_job(spark):
    from modis_aggregation_spark.plans.pipeline import daily_grid

    px = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    gr = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    spec = AggregationSpec(
        lat_bounds=(-20.0, 20.0),
        lon_bounds=(0.0, 35.0),
        variables=(VariableSpec(name="does_not_exist"),),
    )
    with pytest.raises(ValueError, match="not found"):
        daily_grid(spark, spec, px, gr)


def test_export_netcdf_writes_hdf5_fallback(spark, tmp_path):
    """The cfa sink writes the sample product's HDF5-inside structure
    (data variable + DIMENSION_SCALE coords) via hdf5lite, whichever
    packages are installed."""
    from modis_aggregation_spark.sinks.hdf5lite import read_hdf5

    df = spark.createDataFrame(
        [(0, 0, 0, 0.5)], "cell long, lat_idx int, lon_idx int, cf_mean double"
    )
    spec = AggregationSpec(lat_bounds=(-0.5, 0.5), lon_bounds=(-0.5, 0.5))
    out = writers.export_netcdf_cfa(df, spec, str(tmp_path / "cf.nc"))
    back = read_hdf5(out)
    assert back["cf_mean"].data.shape == (1, 1)
    assert back["cf_mean"].data[0, 0] == 0.5
    assert back["lat"].attrs["CLASS"] == "DIMENSION_SCALE"
    assert back["lat"].data[0] == 0.0 and back["lon"].data[0] == 0.0


def test_salted_agg_matches_plain(spark):
    from modis_aggregation_spark.operators.skew import salted_agg

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plain = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("l_quantity_sum"),
            F.count("l_quantity").alias("l_quantity_count"),
            F.min("l_quantity").alias("l_quantity_min"),
            F.max("l_quantity").alias("l_quantity_max"),
            F.avg("l_quantity").alias("l_quantity_avg"),
        )
        .collect()
    }
    salted = {
        r["l_returnflag"]: r
        for r in salted_agg(
            li, ["l_returnflag"], "l_quantity",
            stats=("sum", "count", "min", "max", "avg", "stddev_pop"),
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        for s in ("sum", "count", "min", "max"):
            assert salted[k][f"l_quantity_{s}"] == pytest.approx(
                plain[k][f"l_quantity_{s}"], rel=1e-12
            ), (k, s)
        assert salted[k]["l_quantity_avg"] == pytest.approx(
            plain[k]["l_quantity_avg"], rel=1e-12
        )
    with pytest.raises(ValueError, match="unsupported"):
        salted_agg(li, ["l_returnflag"], "l_quantity", stats=("median",))


def test_grid_to_arrays_null_first_cell(spark):
    """Regression: hist columns must be detected from the column type —
    cell 0 of a densified grid, or every cell, can be empty (NULL array)."""
    import numpy as np

    from modis_aggregation_spark.config import VariableSpec
    from modis_aggregation_spark.sinks.writers import grid_to_arrays

    spec = AggregationSpec(
        lat_bounds=(0.0, 1.0),
        lon_bounds=(0.0, 2.0),
        variables=(VariableSpec(name="v", bin_edges=(0.0, 1.0, 2.0)),),
    )
    df = spark.createDataFrame(
        [(0, 0, 0, None, None), (1, 0, 1, 3.0, [1, 2])],
        "cell long, lat_idx int, lon_idx int, v_mean double, v_hist array<bigint>",
    )
    arrays = grid_to_arrays(df, spec)
    assert arrays["v_hist"].shape == (1, 2, 2)
    assert np.all(arrays["v_hist"][0, 0] == 0)  # NULL cell -> zeros
    assert arrays["v_hist"][0, 1].tolist() == [1.0, 2.0]
    assert np.isnan(arrays["v_mean"][0, 0])
    # an empty product (no occupied cell) keeps the histogram shape: the
    # bin count comes from the spec, not from a non-NULL value
    empty = spark.createDataFrame(
        [(0, 0, 0, None, None), (1, 0, 1, None, None)], df.schema
    )
    arrays = grid_to_arrays(empty, spec)
    assert arrays["v_hist"].shape == (1, 2, 2)
    assert np.all(arrays["v_hist"] == 0)


def test_grid_to_arrays_null_hist_count_and_jhist(spark):
    """Arrow-collected sink edge cases on a densified 2x2 grid: a NULL
    histogram in a middle cell reads as zeros, a NULL in a nullable long
    count column reads as NaN and packs to 0, and a 2-D joint histogram
    keeps its (x bins, partner bins) shape per cell."""
    import numpy as np

    from modis_aggregation_spark.config import JointHistSpec, VariableSpec
    from modis_aggregation_spark.sinks.writers import grid_to_arrays, pack_grid

    spec = AggregationSpec(
        lat_bounds=(0.0, 2.0),
        lon_bounds=(0.0, 2.0),
        variables=(
            VariableSpec(name="v", bin_edges=(0.0, 1.0, 2.0, 3.0)),
            VariableSpec(name="w", bin_edges=(0.0, 1.0, 2.0)),
        ),
        joint_hists=(JointHistSpec("v", "vw", "w", (0.0, 1.0, 2.0)),),
    )
    df = spark.createDataFrame(
        [
            (0, 0, 0, 1.5, 4, [1, 2, 1], [[1, 0], [2, 0], [0, 1]]),
            (1, 0, 1, 2.5, None, None, None),
            (2, 1, 0, None, 7, [0, 0, 7], [[0, 0], [0, 3], [4, 0]]),
            (3, 1, 1, 0.5, 2, [2, 0, 0], [[2, 0], [0, 0], [0, 0]]),
        ],
        "cell long, lat_idx int, lon_idx int, v_mean double, v_count bigint, "
        "v_hist array<bigint>, vw_jhist array<array<bigint>>",
    )
    arrays = grid_to_arrays(df.repartition(3), spec)
    assert set(arrays) == {"v_mean", "v_count", "v_hist", "vw_jhist"}
    assert np.array_equal(
        arrays["v_mean"], [[1.5, 2.5], [np.nan, 0.5]], equal_nan=True)
    assert np.array_equal(
        arrays["v_count"], [[4, np.nan], [7, 2]], equal_nan=True)
    assert arrays["v_hist"].shape == (2, 2, 3)
    assert arrays["v_hist"].tolist() == [
        [[1, 2, 1], [0, 0, 0]], [[0, 0, 7], [2, 0, 0]]]
    assert arrays["vw_jhist"].shape == (2, 2, 3, 2)
    assert arrays["vw_jhist"].tolist() == [
        [[[1, 0], [2, 0], [0, 1]], [[0, 0], [0, 0], [0, 0]]],
        [[[0, 0], [0, 3], [4, 0]], [[2, 0], [0, 0], [0, 0]]],
    ]
    packed, attrs = pack_grid(arrays, spec)["v_count"]
    assert packed.dtype == np.int64 and packed.tolist() == [[4, 0], [7, 2]]
    assert attrs["_FillValue"] == 0


def test_salted_agg_stddev_matches_plain(spark):
    from modis_aggregation_spark.operators.skew import salted_agg

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plain = {
        r["l_returnflag"]: r["sd"]
        for r in li.groupBy("l_returnflag")
        .agg(F.stddev_pop("l_quantity").alias("sd"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: r["l_quantity_stddev_pop"]
        for r in salted_agg(
            li, ["l_returnflag"], "l_quantity", stats=("stddev_pop",)
        ).collect()
    }
    for k in plain:
        assert salted[k] == pytest.approx(plain[k], abs=1e-6), k


def test_register_grid_view(spark):
    from modis_aggregation_spark.sql import register_grid

    df = spark.createDataFrame([(0, 0.5)], "cell long, cf_mean double")
    name = register_grid(spark, df, "t_grid_view")
    assert spark.sql(f"select cf_mean from {name}").first()[0] == 0.5
