"""Python DataSource granule reader (S3) + decode expressions (S4/S5/Q3)."""

import pytest
from pyspark.sql import functions as F

from modis_aggregation_spark.config import AggregationSpec, VariableSpec
from modis_aggregation_spark.functions.decode import (
    decode_raw,
    null_fill,
    reference_double_transform,
)
from modis_aggregation_spark.operators import stats as ops_stats
from modis_aggregation_spark.sources.granule_datasource import (
    SWATH_COLS,
    SWATH_ROWS,
    GranuleDataSource,
    GranuleReader,
    expected_rows,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(GranuleDataSource)
    return spark


def _load(spark, ids="1,2,3", variables="ctp,cee"):
    return (
        spark.read.format("modis_granules")
        .option("granule_ids", ids)
        .option("variables", variables)
        .load()
    )


def test_datasource_shape_and_schema(registered):
    df = _load(registered)
    assert df.columns == ["granule_id", "i", "j", "lat", "lon", "cm_raw", "ctp", "cee"]
    assert df.count() == expected_rows(3)
    one = df.filter(F.col("granule_id") == 2)
    assert one.count() == SWATH_ROWS * SWATH_COLS


def test_datasource_determinism_and_nulls(registered):
    a = _load(registered, ids="7", variables="ctp").agg(
        F.sum("ctp"), F.count("ctp"), F.count(F.lit(1))
    ).first()
    b = _load(registered, ids="7", variables="ctp").agg(
        F.sum("ctp"), F.count("ctp"), F.count(F.lit(1))
    ).first()
    assert a == b
    # fill holes arrive as NULL (not NaN)
    total, nonnull = a[2], a[1]
    assert 0 < nonnull < total
    nan_rows = _load(registered, ids="7", variables="ctp").filter(
        F.isnan("ctp")
    ).count()
    assert nan_rows == 0


def test_pushfilters_prunes_partitions():
    from pyspark.sql.datasource import EqualTo, GreaterThan, IsNotNull

    from pyspark.sql.types import StructType

    reader = GranuleReader(
        StructType(), {"granule_ids": "1,2,3,4", "variables": "ctp"}
    )
    leftover = list(
        reader.pushFilters([EqualTo(("granule_id",), 3), IsNotNull(("ctp",))])
    )
    assert [p.granule_id for p in reader.partitions()] == [3]
    # unsupported filter handed back to Spark
    assert len(leftover) == 1 and isinstance(leftover[0], IsNotNull)

    r2 = GranuleReader.__new__(GranuleReader)
    r2.granule_ids = [1, 2, 3, 4]
    list(r2.pushFilters([GreaterThan(("granule_id",), 2)]))
    assert r2.granule_ids == [3, 4]


def test_datasource_through_pipeline(registered):
    """Granule source → decode → cell aggregation end-to-end."""
    df = _load(registered, ids="1,2", variables="ctp")
    spec = AggregationSpec(
        lat_bounds=(-90.0, 90.0),
        lon_bounds=(-180.0, 180.0),
        variables=(VariableSpec(name="ctp"),),
    )
    out = ops_stats.cell_stats(
        ops_stats.with_cell(df, spec), ["ctp"]
    ).filter(F.col("ctp_count") > 0)
    assert out.count() > 10
    row = out.agg(F.sum("ctp_count")).first()
    assert row[0] > 0


def test_datasource_1km_product_shape_and_trim(registered):
    """The 1-km product emits the 2030×1354 swath; trim_cross_track keeps
    exactly the first 1350 cross-track columns (reference
    aggregate_functions.py:117-119)."""
    from modis_aggregation_spark.sources.granule_datasource import PRODUCT_SHAPES

    rows, cols = PRODUCT_SHAPES["1km"]
    df = (
        registered.read.format("modis_granules")
        .option("granule_ids", "11")
        .option("variables", "ctp")
        .option("product", "1km")
        .load()
    )
    n_full, n_trim, jmax = (
        df.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("j") < 1350, 1)),
            F.max("j"),
        ).first()
    )
    assert n_full == rows * cols
    assert jmax == cols - 1
    assert n_trim == rows * 1350
    trimmed = ops_stats.trim_cross_track(df)
    assert trimmed.count() == rows * 1350


def test_datasource_unknown_product_rejected():
    from pyspark.sql.types import StructType

    with pytest.raises(ValueError, match="unknown product"):
        GranuleReader(StructType(), {"granule_ids": "1", "product": "2km"})


def test_decode_raw_and_compat_equivalence(spark):
    scale, offset, fill = 0.01, -15000.0, -32768
    df = spark.createDataFrame(
        [(1, -32768), (2, 0), (3, 15000), (4, -20000)], ["id", "raw"]
    )
    decoded = df.select(
        "id", decode_raw(F.col("raw"), scale, offset, fill).alias("v")
    )
    got = {r["id"]: r["v"] for r in decoded.collect()}
    assert got[1] is None  # fill → NULL
    assert got[2] == pytest.approx((0 - offset) * scale)
    assert got[3] == pytest.approx((15000 - offset) * scale)

    # Q3: the reference's double transform over an auto-scaled value equals
    # the single-application decode of the raw value
    auto = df.select(
        "id",
        ((F.col("raw") * F.lit(scale)) + F.lit(offset)).alias("autoscaled"),
        F.col("raw"),
    ).filter(F.col("raw") != fill)
    both = auto.select(
        "id",
        reference_double_transform(F.col("autoscaled"), scale, offset, fill).alias("ref"),
        decode_raw(F.col("raw"), scale, offset, fill).alias("engine"),
    )
    for r in both.collect():
        assert r["ref"] == pytest.approx(r["engine"], abs=1e-9)


def test_null_fill(spark):
    df = spark.createDataFrame([(1, -9999.0), (2, 5.0)], ["id", "v"])
    out = {r["id"]: r["nv"] for r in df.select(
        "id", null_fill(F.col("v"), -9999.0).alias("nv")
    ).collect()}
    assert out[1] is None and out[2] == 5.0


def test_datasource_stream_reader_exactly_once(registered, tmp_path):
    """The streaming reader must land every granule exactly once across
    multiple micro-batches (offset ranges over the id list) and match the
    batch reader's rows."""
    stream = (
        registered.readStream.format("modis_granules")
        .option("granule_ids", "41,42,43,44,45,46,47")
        .option("granules_per_batch", "3")
        .option("variables", "ctp")
        .load()
    )
    agg = stream.groupBy("granule_id").count()
    q = (
        agg.writeStream.format("memory")
        .queryName("ds_stream_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    n_batches = q.lastProgress["batchId"] + 1 if q.lastProgress else 0
    q.stop()
    rows = {r["granule_id"]: r["count"]
            for r in registered.table("ds_stream_counts").collect()}
    assert set(rows) == {41, 42, 43, 44, 45, 46, 47}
    assert all(c == SWATH_ROWS * SWATH_COLS for c in rows.values())
    assert n_batches >= 3  # 3+3+1 arrival batches, not one big scan


def test_datasource_stream_reader_restart_exactly_once(registered, tmp_path):
    """A query restarted from its checkpoint resumes after the committed
    offset: the first run lands one batch and stops, the second run
    lands the rest, and every granule is counted exactly once (a new
    reader whose arrival frontier restarts at 0 reported nothing new
    after a restart and dropped the remaining granules)."""
    def run(name, once):
        stream = (
            registered.readStream.format("modis_granules")
            .option("granule_ids", "41,42,43,44,45,46")
            .option("granules_per_batch", "2")
            .option("variables", "ctp")
            .load()
        )
        w = (
            stream.groupBy("granule_id").count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
        )
        q = w.trigger(once=True).start() if once else w.start()
        if once:
            q.awaitTermination()
        else:
            q.processAllAvailable()
            q.stop()
        return {r["granule_id"]: r["count"]
                for r in registered.table(name).collect()}

    assert run("ds_restart_1", once=True) == {
        41: SWATH_ROWS * SWATH_COLS, 42: SWATH_ROWS * SWATH_COLS
    }
    assert run("ds_restart_2", once=False) == {
        g: SWATH_ROWS * SWATH_COLS for g in (41, 42, 43, 44, 45, 46)
    }


@pytest.mark.parametrize("decoder", ["hdf4", "hdf5", "HDF"])
def test_unknown_decoder_rejected(registered, tmp_path, decoder):
    """A decoder name outside ``fake, hdf`` fails when the read is
    planned; it never falls back to synthetic pixels."""
    df = (
        registered.read.format("modis_granules")
        .option("granule_ids", "1")
        .option("decoder", decoder)
        .option("path", str(tmp_path))
        .option("variables", "ctp")
        .load()
    )
    with pytest.raises(Exception, match=r"unknown decoder .*known: fake, hdf"):
        df.count()
