"""End-to-end plan tests: daily_grid, monthly reaggregation equivalence,
strict-compat quirks (Q1/Q2/Q5), packing rules (Q10), CLI."""

import math
import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from modis_aggregation_spark.config import AggregationSpec, VariableSpec, JointHistSpec
from modis_aggregation_spark.operators import hist as ops_hist
from modis_aggregation_spark.operators import stats as ops_stats
from modis_aggregation_spark.plans.pipeline import daily_grid, reaggregate
from modis_aggregation_spark.sinks import writers

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

SPEC = AggregationSpec(
    lat_bounds=(-20.0, 20.0),
    lon_bounds=(0.0, 35.0),
    variables=(
        VariableSpec(name="ctp", bin_edges=(0.0, 300.0, 600.0, 900.0, 1100.0)),
        VariableSpec(name="cee", bin_edges=(0.0, 0.5, 1.0)),
        VariableSpec(name="cloud_fraction_CM", bin_edges=(0.0, 0.2, 0.4, 0.6, 0.8, 1.0)),
    ),
    joint_hists=(
        JointHistSpec(
            varname="ctp",
            joint_name="ctp_cee",
            partner_var="cee",
            joint_edges=(0.0, 0.5, 1.0),
        ),
    ),
)


@pytest.fixture(scope="module")
def grid(spark):
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    return daily_grid(spark, SPEC, pixels, granules).cache()


def test_daily_grid_shape_and_columns(grid):
    assert grid.count() == SPEC.ncells
    cols = set(grid.columns)
    for want in (
        "cell", "lat_idx", "lon_idx",
        "ctp_min", "ctp_max", "ctp_sum", "ctp_count", "ctp_mean", "ctp_stddev",
        "ctp_hist", "ctp_cee_jhist",
        "cld_pix", "tot_pix", "cf_mean", "cf_min", "cf_max", "cf_std",
        "cf_hist", "grid_count",
    ):
        assert want in cols, want


def test_daily_grid_matches_component_operators(spark, grid):
    """The fused single-pass plan must agree with the individually
    oracle-checked component operators."""
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    px = ops_stats.with_cloud_mask(ops_stats.with_cell(pixels, SPEC))
    ref_stats = {
        r["cell"]: r
        for r in ops_stats.cell_stats(px, ["ctp"]).collect()
        if r["ctp_count"] > 0
    }
    ref_cf = {r["cell"]: r for r in ops_stats.cloud_fraction(px).collect()}
    got = {r["cell"]: r for r in grid.filter(F.col("ctp_count") > 0).collect()}
    assert set(got) == set(ref_stats)
    edges = SPEC.variable("ctp").bin_edges
    ref_hist = {c: np.zeros(len(edges) - 1, int) for c in got}
    for h in ops_hist.hist_1d(px, "ctp", edges).collect():
        ref_hist[h["cell"]][h["bucket"]] = h["cnt"]
    ref_jhist = {}
    for jh in SPEC.joint_hists:
        xe = SPEC.variable(jh.varname).bin_edges
        ref = {c: np.zeros((len(xe) - 1, len(jh.joint_edges) - 1), int) for c in got}
        for h in ops_hist.hist_2d(px, jh.varname, jh.partner_var, xe, jh.joint_edges).collect():
            ref[h["cell"]][h["bucket_x"], h["bucket_y"]] = h["cnt"]
        ref_jhist[f"{jh.joint_name}_jhist"] = ref
    for cell, r in got.items():
        e = ref_stats[cell]
        for stat in ("min", "max", "sum", "count", "mean"):
            assert r[f"ctp_{stat}"] == pytest.approx(e[f"ctp_{stat}"]), (cell, stat)
        assert r["cld_pix"] == ref_cf[cell]["cld_pix"]
        assert r["tot_pix"] == ref_cf[cell]["tot_pix"]
        assert r["ctp_hist"] == ref_hist[cell].tolist(), cell
        for name, ref in ref_jhist.items():
            assert r[name] == ref[cell].tolist(), (cell, name)


def test_histogram_total_equals_inrange_count(grid):
    rows = grid.filter(F.col("ctp_count") > 0).select("ctp_hist", "ctp_count").collect()
    for r in rows:
        # every in-range value lands in exactly one bucket
        assert sum(r["ctp_hist"]) <= r["ctp_count"]
    assert any(sum(r["ctp_hist"]) > 0 for r in rows)


def test_reaggregate_equals_direct(spark):
    """Partial/final equivalence (SURVEY §5.2.3): per-granule-group staged
    dailies re-merged == one-shot aggregation over everything, for every
    column of the merged frame, under ``SPEC`` and its ``strict_compat``
    copy. The pixels of lat [0, 1) × lon [10, 11) have no ctp in any
    period: that cell's ctp stays NULL with a count of 0."""
    from dataclasses import replace
    from functools import reduce

    pixels, granules = _fixture_inputs(spark)
    no_ctp = (F.floor("lat") == 0) & (F.floor("lon") == 10)
    pixels = pixels.withColumn("ctp", F.when(no_ctp, None).otherwise(F.col("ctp")))
    days = [r["doy"] for r in granules.select("doy").distinct().collect()]
    for spec in (SPEC, replace(SPEC, strict_compat=True)):
        direct = daily_grid(spark, spec, pixels, granules, densify_output=False)
        # stage per "day" (split granules by doy), then merge
        staged = []
        for doy in days:
            ids = granules.filter(F.col("doy") == doy).select("granule_id")
            sub = pixels.join(ids, "granule_id", "left_semi")
            staged.append(
                daily_grid(spark, spec, sub, granules, densify_output=False)
                .withColumn("date", F.lit(str(doy)))
            )
        merged = reaggregate(reduce(lambda a, b: a.unionByName(b), staged))

        d = {r["cell"]: r.asDict(recursive=True) for r in direct.collect()}
        m = {r["cell"]: r.asDict(recursive=True) for r in merged.collect()}
        refinalized = ("cf_granule_mean", "cf_granule_stddev")
        cols = [c for c in merged.columns if c not in refinalized]
        assert {"cf_min", "cf_max", "grid_count", "ctp_cee_jhist", "cf_hist"} <= set(cols)
        assert ("grid_count_compat" in cols) == spec.strict_compat
        assert ("cf_granule_count" in cols) != spec.strict_compat
        _same_rows({cell: {c: r[c] for c in cols} for cell, r in d.items()},
                   {cell: {c: r[c] for c in cols} for cell, r in m.items()})

        r = m[20 * SPEC.nlon + 10]  # lat_idx 20 (lat 0), lon_idx 10
        assert r["tot_pix"] > 0 and r["ctp_count"] == 0
        assert r["ctp_min"] is r["ctp_mean"] is r["ctp_stddev"] is None

        if spec.strict_compat:
            assert not set(refinalized) & set(merged.columns)
            continue
        # the merged per-granule CF mean and std (re-finalized from the
        # cf_granule_* partials) equal the mean and stddev_pop of the
        # direct grid's per-granule fractions
        for cell, r in d.items():
            mean, std = m[cell]["cf_granule_mean"], m[cell]["cf_granule_stddev"]
            if r["cf_granule_count"] == 0:
                assert mean is std is r["cf_std"] is None, cell
                continue
            assert math.isclose(mean, r["cf_granule_sum"] / r["cf_granule_count"],
                                rel_tol=1e-12), cell
            # both finalize from Σv², summed in different orders:
            # cancellation costs ~1e-8
            assert std == pytest.approx(r["cf_std"], abs=1e-6), cell


def test_reaggregate_schema_does_not_depend_on_hash_seed():
    """reaggregate's columns come in one order whatever the process's
    string-hash seed: two interpreters with PYTHONHASHSEED 1 and 2 build
    the same schema for the doy-staged default product."""
    repo = os.path.dirname(FIXTURES)
    script = f"""
from modis_aggregation_spark import get_spark
from modis_aggregation_spark.config import default_spec
from modis_aggregation_spark.plans.pipeline import daily_grid, reaggregate
spark = get_spark("reaggregate_schema", master="local[1]", shuffle_partitions=1)
pixels = spark.read.parquet({os.path.join(FIXTURES, "pixels.parquet")!r})
granules = spark.read.parquet({os.path.join(FIXTURES, "granules.parquet")!r})
spec = default_spec(lat_bounds=(-20.0, 20.0), lon_bounds=(0.0, 35.0))
staged = daily_grid(spark, spec, pixels, granules, densify_output=False,
                    extra_group_cols=("doy",))
print("SCHEMA", reaggregate(staged).schema.json())
spark.stop()
"""
    schemas = []
    for seed in ("1", "2"):
        path = os.pathsep.join(filter(None, (repo, os.environ.get("PYTHONPATH"))))
        env = {**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": path}
        run = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True,
                             text=True, timeout=600)
        assert run.returncode == 0, run.stderr[-3000:]
        schemas.append([line for line in run.stdout.splitlines() if line.startswith("SCHEMA ")])
    assert len(schemas[0]) == 1
    assert schemas[0] == schemas[1]


def test_strict_compat_quirks(spark):
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    compat_spec = AggregationSpec(
        lat_bounds=SPEC.lat_bounds,
        lon_bounds=SPEC.lon_bounds,
        variables=SPEC.variables,
        joint_hists=SPEC.joint_hists,
        strict_compat=True,
    )
    compat = daily_grid(spark, compat_spec, pixels, granules, densify_output=False)
    correct = daily_grid(spark, SPEC, pixels, granules, densify_output=False)

    crow = {r["cell"]: r for r in compat.collect()}
    orow = {r["cell"]: r for r in correct.collect()}

    # Q1: compat CF histogram is all zeros; correct mode actually bins
    assert all(sum(r["cf_hist"]) == 0 for r in crow.values())
    assert any(sum(r["cf_hist"]) > 0 for r in orow.values())

    # Q5: the compat counter counts (granule, variable-with-valid-data)
    # pairs + the CF call — inflated when >1 variable is valid, deflated
    # for granules contributing no valid data at all; it must diverge from
    # the clean distinct-granule count and never go negative
    assert all(r["grid_count_compat"] >= 0 for r in crow.values())
    assert any(r["grid_count_compat"] > r["grid_count"] for r in crow.values())

    # Q2: compat std uses ΣCLD²/ΣTOT — differs from per-granule fraction std
    diffs = [
        (crow[c]["cf_std"], orow[c]["cf_std"])
        for c in crow
        if crow[c]["cf_std"] is not None and orow[c]["cf_std"] is not None
    ]
    assert any(abs(a - b) > 1e-6 for a, b in diffs)

    # Q2 spot-check the compat formula on one cell, recomputed from pixels
    px = ops_stats.with_cloud_mask(ops_stats.with_cell(pixels, compat_spec))
    per_g = (
        px.groupBy("cell", "granule_id")
        .agg(
            F.sum(F.when(F.col("cm").between(0, 1), 1).otherwise(0)).alias("cld"),
            F.sum(F.when(F.col("cm").between(0, 3), 1).otherwise(0)).alias("tot"),
        )
        .collect()
    )
    target = next(c for c in crow if crow[c]["cf_std"] is not None)
    rows = [r for r in per_g if r["cell"] == target]
    scld = sum(r["cld"] for r in rows)
    stot = sum(r["tot"] for r in rows)
    scld2 = sum(r["cld"] ** 2 for r in rows)
    mean = scld / stot
    want = math.sqrt(max(scld2 / stot - mean * mean, 0.0))
    assert crow[target]["cf_std"] == pytest.approx(want, abs=1e-9)


def test_pack_values_truncation_and_fills():
    arr = np.array([[1.26, -1.26, np.nan, np.inf], [0.0, 2.99, -np.inf, 5.01]])
    packed = writers.pack_values(arr, scale=0.1, offset=0.0, fill=-9999)
    # 1.26/0.1 = 12.6 -> 12 (truncate); -12.6 -> -12 (toward zero)
    assert packed[0, 0] == 12
    assert packed[0, 1] == -12
    assert packed[0, 2] == -9999 and packed[0, 3] == -9999
    assert packed[1, 2] == -9999
    # a non-extreme dataset: the reference guards Inf only on min/max,
    # where alone it can arise; any dataset's Inf packs without crashing
    p2 = writers.pack_values(np.array([np.inf]), 1.0, 0.0, -9999)
    assert p2[0] != -9999 or True  # astype on inf is platform-defined; just no crash
    # Σv² of 1,700 ctp pixels at 550 hPa is past int32 once scaled; the
    # reference's astype(np.int) is int64 (Q10), so it packs without wrapping
    p3 = writers.pack_values(np.array([1700 * 550.0**2]), 0.1, 0.0, -9999)
    assert p3.dtype == np.int64 and p3[0] == 5_142_500_000


def test_pack_grid_and_axes(spark, grid):
    arrays = writers.grid_to_arrays(grid, SPEC)
    assert arrays["ctp_mean"].shape == (SPEC.nlat, SPEC.nlon)
    assert arrays["ctp_hist"].shape == (SPEC.nlat, SPEC.nlon, 4)
    assert arrays["ctp_cee_jhist"].shape == (SPEC.nlat, SPEC.nlon, 4, 2)
    packed = writers.pack_grid(arrays, SPEC)
    cf_packed, cf_attrs = packed["cf_mean"]
    assert cf_attrs["scale_factor"] == writers.CF_SCALE
    assert cf_attrs["_FillValue"] == writers.CF_FILL
    # empty cells -> fill
    assert (cf_packed == writers.CF_FILL).any()
    # CF datasets stay SCALED FLOATS (reference skips the int truncation for
    # Cloud_Fraction, aggregate_functions.py:438-445)
    assert cf_packed.dtype == np.float64
    occupied = cf_packed[cf_packed != writers.CF_FILL]
    assert occupied.size and not np.allclose(occupied, np.trunc(occupied))
    # counts stay raw ints
    cnt, _ = packed["tot_pix"]
    assert cnt.dtype == np.int64
    lat_bnd, lon_bnd = writers.axis_bounds(SPEC)
    assert lat_bnd[0] == -20.0 and lat_bnd[-1] == 20.0 and len(lat_bnd) == SPEC.nlat + 1


def test_export_hdf5_writes_real_file(spark, grid, tmp_path):
    """The physical MYD08-style HDF5 product is written by hdf5lite and
    round-trips through the reader that is validated against the
    reference's own sample output."""
    from modis_aggregation_spark.sinks.hdf5lite import read_hdf5

    out = writers.export_hdf5(grid, SPEC, str(tmp_path / "l3.h5"))
    assert os.path.exists(out)
    back = read_hdf5(out)
    assert back["lat_bnd"].data[0] == SPEC.lat_bounds[0]
    assert back["lat_bnd"].attrs["long_name"] == "Latitude_boundaries"
    # packed datasets carry their scale/offset/fill attrs and int payloads
    arrays = writers.grid_to_arrays(grid, SPEC)
    packed = writers.pack_grid(arrays, SPEC)
    for name, (data, attrs) in packed.items():
        ds = back[name]
        assert np.array_equal(ds.data, data), name
        for k, v in attrs.items():
            got = ds.attrs[k]
            assert got == pytest.approx(v) if isinstance(v, float) else got == v
    # S13 guard still enforced
    with pytest.raises(FileExistsError):
        writers.export_hdf5(grid, SPEC, out)


def test_cli_end_to_end(spark, tmp_path):
    from modis_aggregation_spark.cli import main

    out = str(tmp_path / "cli_out")
    rc = main([
        "--pixels", os.path.join(FIXTURES, "pixels.parquet"),
        "--granules", os.path.join(FIXTURES, "granules.parquet"),
        "--output", out,
        "--lat0", "-20", "--lat1", "20", "--lon0", "0", "--lon1", "35",
        "--var", "ctp", "cee",
    ])
    assert rc == 0
    df = spark.read.parquet(out)
    assert df.count() == 40 * 35
    # S13 guard: second write without --overwrite must fail
    with pytest.raises(Exception):
        main([
            "--pixels", os.path.join(FIXTURES, "pixels.parquet"),
            "--granules", os.path.join(FIXTURES, "granules.parquet"),
            "--output", out,
            "--lat0", "-20", "--lat1", "20", "--lon0", "0", "--lon1", "35",
            "--var", "ctp",
        ])


def test_cli_applies_date_window_and_day_rule(spark, tmp_path):
    """The CLI aggregates --start..--end plus the first 3 hours of the next
    day, with the definition-of-day nulling: its output equals daily_grid
    over date_range_catalog with the end and spill days (here doy 1 and 2;
    the fixtures also hold later doy-2 granules and doy 3)."""
    from modis_aggregation_spark.cli import build_parser, main, spec_from_args
    from modis_aggregation_spark.sources.catalog import date_range_catalog

    out = str(tmp_path / "cli_window")
    argv = [
        "--pixels", os.path.join(FIXTURES, "pixels.parquet"),
        "--granules", os.path.join(FIXTURES, "granules.parquet"),
        "--output", out,
        "--lat0", "-20", "--lat1", "20", "--lon0", "0", "--lon1", "35",
        "--start", "2008-01-01", "--end", "2008-01-01", "--var", "ctp", "cee",
    ]
    assert main(argv) == 0
    spec = spec_from_args(build_parser().parse_args(argv))
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    window = date_range_catalog(granules, "2008-01-01", "2008-01-01")
    want = daily_grid(spark, spec, pixels, window, end_doy=1, spill_doy=2)
    got = {r["cell"]: r.asDict() for r in spark.read.parquet(out).collect()}
    expected = {r["cell"]: r.asDict() for r in want.collect()}
    assert got.keys() == expected.keys()
    for cell, row in expected.items():
        for col, e in row.items():
            g = got[cell][col]
            if isinstance(e, float) and isinstance(g, float):
                assert (math.isnan(e) and math.isnan(g)) or g == pytest.approx(e), (cell, col)
            else:
                assert g == e, (cell, col)
    assert sum(r["tot_pix"] for r in got.values()) < pixels.filter(
        "lat BETWEEN -20 AND 20 AND lon BETWEEN 0 AND 35"
    ).count()


def test_daily_grid_day_rules_null_measures(spark):
    """End-to-end day-definition path: running with end_doy/spill_doy must
    reduce counted measures (quadrant nulling) but never row counts."""
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    plain = daily_grid(spark, SPEC, pixels, granules, densify_output=False)
    ruled = daily_grid(
        spark, SPEC, pixels, granules, end_doy=2, spill_doy=3, densify_output=False
    )
    p = {r["cell"]: r for r in plain.collect()}
    r_ = {r["cell"]: r for r in ruled.collect()}
    total_p = sum(x["ctp_count"] for x in p.values())
    total_r = sum(x["ctp_count"] for x in r_.values())
    assert total_r < total_p
    tot_p = sum(x["tot_pix"] for x in p.values())
    tot_r = sum(x["tot_pix"] for x in r_.values())
    assert tot_r < tot_p  # cm nulled too (CF path)


def test_daily_grid_empty_input(spark):
    """A region with zero surviving pixels still yields the full densified
    grid: counts 0, statistics NULL — never an empty frame or a crash."""
    pixels = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    spec = AggregationSpec(
        lat_bounds=(88.0, 89.0),  # fixture max lat is 86.6 — guaranteed empty
        lon_bounds=(100.0, 105.0),
        variables=(VariableSpec(name="ctp"),),
    )
    out = daily_grid(spark, spec, pixels, granules)
    rows = out.collect()
    assert len(rows) == spec.ncells == 5
    for r in rows:
        assert r["tot_pix"] == 0 and r["ctp_count"] == 0
        assert r["ctp_mean"] is None and r["cf_mean"] is None


BOX = dict(lat_bounds=(-20.0, 20.0), lon_bounds=(0.0, 35.0))


def _fixture_inputs(spark):
    return (spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet")),
            spark.read.parquet(os.path.join(FIXTURES, "granules.parquet")))


def _same_rows(want, got):
    """Per-cell rows agree: integers and histograms exactly, sums, means
    and extremes to 1e-12 relative. A std from Σv² is compared as its
    variance, to 1e-12 of the cell's Σv²/n, because the subtraction in
    ``Σv²/n − mean²`` magnifies the sums' last-bit differences."""
    assert want.keys() == got.keys()
    for cell, w in want.items():
        g = got[cell]
        for col, a in w.items():
            b = g[col]
            if a is None or b is None or not isinstance(a, float):
                assert a == b, (cell, col)
            elif col.endswith("_stddev"):
                second = w[f"{col[:-7]}_sumsq"] / w[f"{col[:-7]}_count"]
                assert abs(a * a - b * b) <= 1e-12 * second, (cell, col, a, b)
            else:
                assert math.isclose(a, b, rel_tol=1e-12), (cell, col, a, b)


def test_daily_grid_does_not_depend_on_batch_or_partition_layout(spark):
    """Stage 1 accumulates each Arrow batch; the cell merge concatenates
    every batch of a partition. Batches of 50 rows (a granule spans many
    stage-1 batches and a cell many stage-2 batches) and 1 or 7 shuffle
    partitions give the rows of the default layout."""
    from modis_aggregation_spark.config import default_spec

    spec = default_spec(**BOX)
    pixels, granules = _fixture_inputs(spark)

    def rows():
        df = daily_grid(spark, spec, pixels, granules, densify_output=False)
        return {r["cell"]: r.asDict(recursive=True) for r in df.collect()}

    want = rows()
    for confs in (
        {"spark.sql.execution.arrow.maxRecordsPerBatch": "50"},
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "7",
         "spark.sql.adaptive.coalescePartitions.enabled": "false"},
    ):
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            got = rows()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        _same_rows(want, got)


_MOMENTS = [(f"{v}_{s}", t, n) for v in ("ctp", "ctt", "cee", "cth") for s, t, n in (
    ("min", "double", True), ("max", "double", True), ("sum", "double", True),
    ("count", "bigint", True), ("sumsq", "double", True), ("stddev", "double", True),
    ("mean", "double", True), ("hist", "array<bigint>", False),
)] + [
    ("Emissivity_jhist", "array<array<bigint>>", False),
    ("Pressure_jhist", "array<array<bigint>>", False),
    ("cld_pix", "bigint", True), ("tot_pix", "bigint", True), ("cf_mean", "double", True),
    ("cf_min", "double", True), ("cf_max", "double", True), ("grid_count", "bigint", False),
    ("cf_std", "double", True),
]
_CF_HIST = [("cf_hist", "array<bigint>", False)]
_GRANULE_CF = [("cf_granule_sum", "double", True), ("cf_granule_count", "bigint", False),
               ("cf_granule_sumsq", "double", True)]


@pytest.mark.parametrize("overrides, extra, want", [
    ({}, (), [("cell", "bigint", True), *_MOMENTS, *_GRANULE_CF, *_CF_HIST]),
    ({"strict_compat": True}, (),
     [("cell", "bigint", True), *_MOMENTS, ("grid_count_compat", "bigint", True), *_CF_HIST]),
    ({}, ("doy",),
     [("cell", "bigint", True), ("doy", "int", True), *_MOMENTS, *_GRANULE_CF, *_CF_HIST]),
], ids=["default", "strict_compat", "doy"])
def test_daily_grid_undensified_schema(spark, overrides, extra, want):
    """The per-cell frame's names, order, types and nullability (list
    items included) under the default, strict and per-day specs."""
    from modis_aggregation_spark.config import default_spec

    pixels, granules = _fixture_inputs(spark)
    df = daily_grid(spark, default_spec(**BOX, **overrides), pixels, granules,
                    densify_output=False, extra_group_cols=extra)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema] == want
    contains_null = {f.name: f.dataType.containsNull for f in df.schema if f.name.endswith("hist")}
    assert contains_null == {**{f"{v}_hist": True for v in ("ctp", "ctt", "cee", "cth")},
                             "Emissivity_jhist": False, "Pressure_jhist": False, "cf_hist": False}
    if extra:  # the staged per-day partials still merge into the one-shot grid
        merged = reaggregate(df.withColumnRenamed("doy", "date"))
        direct = daily_grid(spark, default_spec(**BOX), pixels, granules, densify_output=False)
        cols = ["ctp_min", "ctp_max", "ctp_count", "cld_pix", "tot_pix", "grid_count", "cf_hist"]
        assert (sorted(map(tuple, merged.select("cell", *cols).collect()))
                == sorted(map(tuple, direct.select("cell", *cols).collect())))
