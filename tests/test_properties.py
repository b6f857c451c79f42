"""Property-based tests (hypothesis): NULL-injection invariants, NumPy
histogram-edge parity, grid containment, partition-count invariance."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.functions.grid import cell_id
from modis_aggregation_spark.functions.histogram import hist_bucket, hist_bucket_np
from modis_aggregation_spark.operators import stats as ops_stats

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

values_and_nulls = st.lists(
    st.tuples(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
        st.booleans(),
    ),
    min_size=1,
    max_size=40,
)


@given(data=values_and_nulls)
@SETTINGS
def test_null_skipping_invariants(spark, data):
    rows = [(float(v) if not isnull else None,) for v, isnull in data]
    df = spark.createDataFrame(rows, "v double")
    r = df.agg(
        F.count("v").alias("cnt"),
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.avg("v").alias("avg"),
    ).first()
    assert r["cnt"] <= r["n"]
    vals = [v for v, isnull in data if not isnull]
    if not vals:
        assert r["mn"] is None and r["mx"] is None and r["avg"] is None
    else:
        assert r["mn"] <= r["avg"] + 1e-9
        assert r["avg"] <= r["mx"] + 1e-9
        assert r["cnt"] == len(vals)


def _np_hist(vals, edges):
    b = hist_bucket_np(np.array(vals, dtype=np.float64), edges)
    return np.bincount(b[b >= 0], minlength=len(edges) - 1).tolist()


@given(
    edges=st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=64),
        min_size=2,
        max_size=8,
        unique=True,
    ),
    vals=st.lists(
        st.floats(min_value=-2e4, max_value=2e4, allow_nan=False, width=64),
        min_size=1,
        max_size=50,
    ),
)
@SETTINGS
def test_hist_bucket_matches_numpy(spark, edges, vals):
    """The bucket expression and its NumPy twin must reproduce np.histogram
    exactly: half-open bins, closed last bin, out-of-range and NULL
    dropped (Q9)."""
    edges = sorted(edges)
    df = spark.createDataFrame([(float(v),) for v in vals] + [(None,)], "v double")
    got = (
        df.select(hist_bucket(F.col("v"), edges).alias("b"))
        .filter(F.col("b").isNotNull())
        .groupBy("b")
        .count()
        .collect()
    )
    got_counts = np.zeros(len(edges) - 1, dtype=int)
    for r in got:
        got_counts[r["b"]] = r["count"]
    want, _ = np.histogram(np.array(vals), bins=np.array(edges))
    assert got_counts.tolist() == want.tolist()
    assert _np_hist([*vals, np.nan], edges) == want.tolist()


@given(
    lats=st.lists(
        st.floats(min_value=-89.99, max_value=89.99, allow_nan=False, width=64),
        min_size=1,
        max_size=30,
    ),
    lons=st.lists(
        st.floats(min_value=-179.99, max_value=179.99, allow_nan=False, width=64),
        min_size=1,
        max_size=30,
    ),
)
@SETTINGS
def test_grid_cell_containment(spark, lats, lons):
    n = min(len(lats), len(lons))
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats[:n], lons[:n])], "lat double, lon double"
    )
    out = df.select(
        cell_id(F.col("lat"), F.col("lon"), -90.0, -180.0, 1.0, 1.0, 360).alias("cell")
    ).collect()
    for r in out:
        assert 0 <= r["cell"] < 180 * 360


@given(stride=st.integers(min_value=2, max_value=7))
@SETTINGS
def test_sampling_cardinality(spark, stride):
    """Systematic sampling keeps exactly the pixels on the (offset, stride)
    lattice."""
    rows, cols = 23, 31
    data = [(i, j, 0.0, 0.0) for i in range(rows) for j in range(cols)]
    df = spark.createDataFrame(data, "i int, j int, lat double, lon double")
    spec = AggregationSpec(
        lat_bounds=(-90.0, 90.0), lon_bounds=(-180.0, 180.0), sampling=stride
    )
    got = ops_stats.with_cell(
        df.withColumn("lat", F.lit(10.5)).withColumn("lon", F.lit(20.5)), spec
    ).count()
    oi, oj = spec.sampling_offset
    want = len(range(oi, rows, stride)) * len(range(oj, cols, stride))
    assert got == want


def test_partition_count_invariance(spark):
    """Aggregating over 1 partition vs 16 must agree — the property the
    reference's MPI/Dask merge encodes (SURVEY §5.2.3)."""
    import os

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
    )
    px = spark.read.parquet(os.path.join(fixtures, "pixels.parquet"))
    spec = AggregationSpec(lat_bounds=(-20.0, 20.0), lon_bounds=(0.0, 35.0))

    def run(parts):
        df = ops_stats.with_cell(px.repartition(parts), spec)
        rows = ops_stats.cell_stats(df, ["ctp"]).collect()
        rnd = lambda v, p: None if v is None else round(v, p)  # noqa: E731
        return {
            r["cell"]: (
                r["ctp_min"],
                r["ctp_max"],
                rnd(r["ctp_sum"], 6),
                r["ctp_count"],
                rnd(r["ctp_mean"], 9),
            )
            for r in rows
        }

    assert run(1) == run(16)


@given(
    vals=st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=64),
        min_size=1,
        max_size=30,
    ),
    scale=st.sampled_from([0.01, 0.1, 1.0]),
)
@SETTINGS
def test_pack_roundtrip_error_bounded(vals, scale):
    """unpack(pack(v)) differs from v by < scale (truncation quantization)."""
    from modis_aggregation_spark.sinks.writers import pack_values

    arr = np.array(vals)
    packed = pack_values(arr, scale=scale, offset=0.0, fill=-999999)
    unpacked = packed.astype(np.float64) * scale
    assert np.all(np.abs(unpacked - arr) < scale + 1e-12)


def test_day_rules_preserve_rows(spark):
    """P4 nulls measures, never drops rows; untouched quadrants unchanged."""
    import os

    from modis_aggregation_spark.functions.dayrules import day_definition_null

    fixtures = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
    )
    px = spark.read.parquet(os.path.join(fixtures, "pixels.parquet"))
    gran = spark.read.parquet(os.path.join(fixtures, "granules.parquet")).select(
        "granule_id", "doy", "hour"
    )
    df = px.join(gran, "granule_id")
    out = day_definition_null(df, ["ctp"], end_doy=2, spill_doy=3, shift_hours=3)
    assert out.count() == df.count()
    # rows outside the shifted hours keep their values bit-for-bit
    before = df.filter(F.col("hour") >= 3).agg(F.sum("ctp")).first()[0]
    after = out.filter(F.col("hour") >= 3).agg(F.sum("ctp")).first()[0]
    assert before == after


def test_hist_bucket_boundary_regressions(spark):
    """Deterministic falsifiers for the two round-4 uniform-path bugs:
    (1) irregular tiny-magnitude edges mis-classified as uniform by the
    1.0-floored tolerance; (2) a value exactly on an interior edge whose
    (v−e0)/width quotient rounds just below an integer."""
    import numpy as np

    cases = [
        ([-1.3642420526593924e-12, 6.928410972168408e-39,
          9.166001291305292e-13], [0.0]),
        ([0.0, 0.1, 0.2, 0.3], [0.2, 0.1, 0.0, 0.3, 0.15]),
        ([0.0, 0.2, 0.4, 0.6, 0.8, 1.0], [0.4, 0.6, 1.0, 0.8, 0.79999]),
    ]
    for edges, vals in cases:
        df = spark.createDataFrame([(float(v),) for v in vals], "v double")
        got = df.select(hist_bucket(F.col("v"), edges).alias("b")).collect()
        counts = np.zeros(len(edges) - 1, dtype=int)
        for r in got:
            if r["b"] is not None:
                counts[r["b"]] += 1
        want, _ = np.histogram(np.array(vals), bins=np.array(edges))
        assert counts.tolist() == want.tolist(), edges
        out_of_range = [np.nan, edges[0] - 1.0, edges[-1] + 1.0]
        assert _np_hist([*vals, *out_of_range], edges) == want.tolist(), edges
