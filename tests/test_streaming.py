"""Streaming daily aggregation: the streamed result must equal the batch
result over the same closed input (exactly-once, monoid aggregation)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from modis_aggregation_spark.config import AggregationSpec, VariableSpec
from modis_aggregation_spark.operators.stats import with_cell, with_cloud_mask
from modis_aggregation_spark.plans.pipeline import daily_grid, reaggregate
from modis_aggregation_spark.streaming.daily_stream import (
    stream_daily_grid,
    stream_pixels,
    with_event_time,
)

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)

SPEC = AggregationSpec(
    lat_bounds=(-20.0, 20.0),
    lon_bounds=(0.0, 35.0),
    variables=(VariableSpec(name="ctp"),),
)


@pytest.fixture(scope="module")
def staged_dir(spark, tmp_path_factory):
    """Re-write the pixel fixture as a multi-file directory so the file
    source has several files to discover."""
    out = str(tmp_path_factory.mktemp("stream_src"))
    spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet")).repartition(
        6, "granule_id"
    ).write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_stream_equals_batch(spark, staged_dir, tmp_path):
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    schema = spark.read.parquet(staged_dir).schema

    stream = stream_pixels(spark, staged_dir, schema, max_files_per_trigger=2)
    out = stream_daily_grid(stream, granules, SPEC)
    q = (
        out.writeStream.format("memory")
        .queryName("daily_grid_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["date"]), r["cell"]): r
        for r in spark.sql("select * from daily_grid_stream").collect()
    }

    # batch equivalent on the same input
    pixels = spark.read.parquet(staged_dir)
    batch = with_event_time(pixels, granules)
    batch = with_cell(with_cloud_mask(batch), SPEC)
    cm = F.col("cm")
    want_df = batch.groupBy(
        F.col("ts").cast("date").alias("date"), "cell"
    ).agg(
        F.sum(F.when(cm.between(0, 1), 1).otherwise(0)).cast("long").alias("cld_pix"),
        F.sum(F.when(cm.between(0, 3), 1).otherwise(0)).cast("long").alias("tot_pix"),
        F.sum("ctp").alias("ctp_sum"),
        F.count("ctp").alias("ctp_count"),
        F.sum(F.col("ctp") * F.col("ctp")).alias("ctp_sumsq"),
        F.min("ctp").alias("ctp_min"),
        F.max("ctp").alias("ctp_max"),
    )
    want = {(str(r["date"]), r["cell"]): r for r in want_df.collect()}

    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        assert g["cld_pix"] == w["cld_pix"] and g["tot_pix"] == w["tot_pix"], k
        assert g["ctp_count"] == w["ctp_count"], k
        for c in ("ctp_sum", "ctp_min", "ctp_max"):
            a, b = g[c], w[c]
            assert (a is None and b is None) or a == pytest.approx(b, abs=1e-9), (k, c)
        a, b = g["ctp_sumsq"], w["ctp_sumsq"]
        assert (a is None and b is None) or a == pytest.approx(b, rel=1e-12), k
    assert len(got) > 10


def _granule_stream(spark, ids, per_batch):
    """A ``modis_granules`` stream of fake-decoder granules and its catalog:
    granule ``i`` lands on day 1 + i % 2 at hour i % 24."""
    import datetime as dt

    from modis_aggregation_spark.sources.granule_datasource import GranuleDataSource

    spark.dataSource.register(GranuleDataSource)
    stream = (
        spark.readStream.format("modis_granules")
        .option("granule_ids", ",".join(map(str, ids)))
        .option("granules_per_batch", str(per_batch))
        .option("variables", "ctp")
        .option("decoder", "fake")
        .load()
    )
    catalog = spark.createDataFrame(
        [(i, dt.date(2008, 1, 1 + i % 2), f"{i % 24:02d}00") for i in ids],
        "granule_id long, date date, hhmm string",
    )
    return stream, catalog


def test_stream_daily_grid_schema(spark, staged_dir):
    """The streamed partials keep their column names, order, types and
    required counts over both sources: the file stream and the granule
    DataSource."""
    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    schema = spark.read.parquet(staged_dir).schema
    want = [("date", "date"), ("cell", "bigint"), ("cld_pix", "bigint"), ("tot_pix", "bigint"),
            ("ctp_sum", "double"), ("ctp_count", "bigint"), ("ctp_sumsq", "double"),
            ("ctp_min", "double"), ("ctp_max", "double"), ("cf_mean", "double")]
    for stream, catalog in (
        (stream_pixels(spark, staged_dir, schema), granules),
        _granule_stream(spark, [1, 2], 2),
    ):
        out = stream_daily_grid(stream, catalog, SPEC)
        assert out.dtypes == want
        assert [f.name for f in out.schema if not f.nullable] == ["ctp_count"]


def test_available_now_over_granules_is_refused(spark, tmp_path):
    """availableNow over ``modis_granules`` would stop after the first
    micro-batch (the Python stream reader has no admission control), so it
    is refused before the query starts. The default trigger, run until all
    is processed, covers every granule: its pixel counts per (date, cell)
    equal the batch counts over all 16."""
    from modis_aggregation_spark.streaming.daily_stream import write_daily_grids

    spec = AggregationSpec(variables=SPEC.variables)  # the globe at 1°
    ids = list(range(1, 17))
    stream, catalog = _granule_stream(spark, ids, 2)
    daily = stream_daily_grid(stream, catalog, spec)
    with pytest.raises(ValueError, match="modis_granules"):
        write_daily_grids(daily, str(tmp_path / "out"), str(tmp_path / "ck"),
                          trigger_available_now=True)
    assert not spark.streams.active

    q = write_daily_grids(daily, str(tmp_path / "out"), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(str(r["date"]), r["cell"]): (r["cld_pix"], r["tot_pix"], r["ctp_count"])
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}

    pixels = (spark.read.format("modis_granules")
              .option("granule_ids", ",".join(map(str, ids)))
              .option("variables", "ctp").option("decoder", "fake").load())
    batch = with_cell(with_cloud_mask(with_event_time(pixels, catalog)), spec)
    cm = F.col("cm")
    want = {
        (str(r["date"]), r["cell"]): (r["cld"], r["tot"], r["n"])
        for r in batch.groupBy(F.col("ts").cast("date").alias("date"), "cell").agg(
            F.count(F.when(cm.between(0, 1), 1)).alias("cld"),
            F.count(F.when(cm.between(0, 3), 1)).alias("tot"),
            F.count("ctp").alias("n"),
        ).collect()
    }
    assert got == want
    assert len({d for d, _ in got}) == 2


def test_event_time_stores_only_an_in_memory_catalog(spark, tmp_path):
    """Every micro-batch runs the catalog's plan again. A catalog held in
    memory cannot change, so it is stored once; a catalog read from files
    stays a file scan, which sees granules added while the stream runs."""
    _, built = _granule_stream(spark, [1, 2], 2)
    built.write.parquet(str(tmp_path / "catalog"))
    files = spark.read.parquet(str(tmp_path / "catalog"))
    px = spark.range(1, 3).select(F.col("id").alias("granule_id"))

    def leaves(df):
        seq = df._jdf.queryExecution().analyzed().collectLeaves()
        return {seq.apply(i).nodeName(): seq.apply(i) for i in range(seq.size())}

    stored = with_event_time(px, built)
    read = with_event_time(px, files)
    assert sorted(stored.collect()) == sorted(read.collect())
    assert leaves(stored)["LogicalRDD"].rdd().isCheckpointed()
    assert set(leaves(read)) == {"Range", "LogicalRelation"}


def test_write_daily_grids_partitioned_sink(spark, staged_dir, tmp_path):
    from modis_aggregation_spark.streaming.daily_stream import write_daily_grids

    granules = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    schema = spark.read.parquet(staged_dir).schema
    stream = stream_pixels(spark, staged_dir, schema, max_files_per_trigger=3)
    out = stream_daily_grid(stream, granules, SPEC)
    q = write_daily_grids(
        out,
        str(tmp_path / "l3_days"),
        str(tmp_path / "ckpt2"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    result = spark.read.parquet(str(tmp_path / "l3_days"))
    # one directory partition per event day
    days = sorted(str(r["date"]) for r in result.select("date").distinct().collect())
    assert len(days) >= 2
    assert os.path.isdir(os.path.join(str(tmp_path / "l3_days"), f"date={days[0]}"))
    # partials in the sink match the direct batch daily aggregation
    total_cld = result.agg(F.sum("cld_pix")).first()[0]
    px = spark.read.parquet(staged_dir)
    from modis_aggregation_spark.operators.stats import with_cell, with_cloud_mask
    direct = with_cell(with_cloud_mask(px), SPEC)
    want_cld = direct.agg(
        F.sum(F.when(F.col("cm").between(0, 1), 1).otherwise(0))
    ).first()[0]
    assert total_cld == want_cld
    # the day partials merge and finalize into the one-shot batch grid
    cols = ["ctp_min", "ctp_max", "ctp_count", "ctp_mean", "ctp_stddev",
            "cld_pix", "tot_pix", "cf_mean"]
    merged = reaggregate(result, ["cell"]).select("cell", *cols)
    batch = daily_grid(spark, SPEC, px, granules, densify_output=False).select("cell", *cols)
    got = {r["cell"]: r for r in merged.collect()}
    want = {r["cell"]: r for r in batch.collect()}
    assert got.keys() == want.keys()
    for cell, w in want.items():
        g = got[cell]
        for col in cols:
            if w[col] is None or col not in ("ctp_mean", "ctp_stddev"):
                assert g[col] == w[col], (cell, col)
            else:
                tol = 1e-6 if col == "ctp_stddev" else 1e-9
                assert g[col] == pytest.approx(w[col], abs=tol), (cell, col)


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream watermarked interval join over a closed replay must
    equal the batch interval join when the watermark covers the whole
    event-time span (no state eviction)."""
    import datetime as dt

    from modis_aggregation_spark.streaming.joins import stream_interval_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mk = lambda m: base + dt.timedelta(minutes=m)
    left = [(1, mk(0), 10), (2, mk(5), 10), (3, mk(0), 20)]
    right = [
        (11, mk(30), 10),   # pairs with 1 and 2
        (12, mk(65), 10),   # pairs with 2 only (1 is > 60min back)
        (13, mk(200), 20),  # pairs with nobody (3 is 200min back)
        (14, mk(-10), 10),  # before everything: pairs with nobody
    ]
    schema = "event_id long, ts timestamp, user_id long"
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(left, schema).write.parquet(ldir)
    spark.createDataFrame(right, schema).write.parquet(rdir)
    sch = spark.read.parquet(ldir).schema
    out = stream_interval_join(
        spark.readStream.schema(sch).parquet(ldir),
        spark.readStream.schema(sch).parquet(rdir),
        on="user_id", ts_col="ts", interval_sec=3600, watermark="10 days",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("s_ijoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {(r["l_event_id"], r["r_event_id"])
           for r in spark.table("s_ijoin").collect()}
    assert got == {(1, 11), (2, 11), (2, 12)}


def test_dedup_ttl_suppresses_then_reemits_after_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned under controlled
    micro-batches (maxFilesPerTrigger=1, event-time-ordered files,
    1-hour delay): a duplicate arriving while the key's state is live
    is suppressed; once the watermark passes first-seen + delay the
    state evicts and a later duplicate RE-EMITS — the bounded-state
    tradeoff that lets 100 TB streams dedup in O(window) memory."""
    from pyspark.sql import functions as F

    import time

    rows1 = [(1, "click", "2024-01-01 10:00:00")]
    rows2 = [
        (1, "click", "2024-01-01 10:30:00"),  # dup while state live
        (2, "view", "2024-01-01 13:00:00"),   # advances watermark to 12:00
    ]
    # state expiry (10:00 + 1 h) passes the 12:00 watermark, but the
    # store evicts at END of the batch that advanced it — a dup in the
    # very same batch is still suppressed (batch 3); the NEXT batch's
    # dup re-emits (batch 4)
    rows3 = [(1, "click", "2024-01-01 12:30:00")]
    rows4 = [(1, "click", "2024-01-01 12:45:00")]
    src = str(tmp_path / "src")
    for i, rows in enumerate((rows1, rows2, rows3, rows4)):
        df = spark.createDataFrame(
            rows, "user_id LONG, event_type STRING, ts STRING"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes keep the file→batch order
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ttl_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(
        (r["user_id"], r["event_type"], str(r["ts"]))
        for r in spark.sql("select * from ttl_dedup").collect()
    )
    # key (1, click): first arrival emitted, in-window dup suppressed,
    # same-batch-as-eviction dup still suppressed, NEXT-batch dup
    # re-emitted; (2, view) once
    assert [(u, e) for u, e, _ in got] == [
        (1, "click"), (1, "click"), (2, "view"),
    ]
    emitted_ts = [t for u, e, t in got if (u, e) == (1, "click")]
    assert emitted_ts == ["2024-01-01 10:00:00", "2024-01-01 12:45:00"]


def test_memory_drain_returns_rows_and_drops_its_view(spark, tmp_path):
    """The contract's memory-sink drain collects the sink's rows, then
    drops the sink's temp view: after the call no temporary view is left
    keeping the rows alive in the session."""
    import __spark_entry__ as entry

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    stream = spark.readStream.schema("id BIGINT").parquet(src)
    before = {t.name for t in spark.catalog.listTables() if t.isTemporary}

    got = entry._drain_memory(spark, stream, "drain_probe", "append")

    assert sorted(r["id"] for r in got.collect()) == list(range(10))
    after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert after == before
