"""Structured Streaming L3 dailies: emit grids as granules land.

The reference is strictly batch over a closed date range; its "definition
of day" ingests the first 3 hours of day D+1 into day D's product
(reference ``MODIS_Aggregation/aggregate_functions.py:589-601``). In
streaming terms that IS a watermark: event-time = granule acquisition
timestamp, daily tumbling window, ``withWatermark(ts, "3 hours")`` to admit
the late spill granules before a day's window finalizes (SURVEY §2.7).

Every aggregate used here (sum/count/min/max via conditional sums) is a
commutative monoid, so the whole thing runs as a standard streaming
partial aggregation — no custom state store, no ``applyInPandasWithState``.

Scale notes: the streaming state is (windows-in-flight × occupied cells)
rows — at 1° that's ≤ 64,800 per open day, trivially small. The file
source lists incrementally (``maxFilesPerTrigger`` for backpressure); the
static granule-catalog join is broadcast per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.functions.bits import cloudy_flag, determined_flag
from modis_aggregation_spark.operators.stats import with_cell, with_cloud_mask


def stream_pixels(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a growing directory of pixel parquet files.

    Streaming sources require an explicit schema; pass
    ``spark.read.parquet(sample).schema`` or the fixture schema.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def with_event_time(pixels: DataFrame, granules: DataFrame) -> DataFrame:
    """Attach the granule acquisition timestamp (event time) from the
    catalog: date + hhmm parsed from the filename (F3/F5)."""
    cat = granules.select(
        "granule_id",
        F.to_timestamp(
            F.concat(
                F.col("date").cast("string"),
                F.lit(" "),
                F.substring("hhmm", 1, 2),
                F.lit(":"),
                F.substring("hhmm", 3, 2),
            )
        ).alias("ts"),
    )
    return pixels.join(F.broadcast(cat), "granule_id")


def write_daily_grids(
    daily_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
):
    """Continuous L3 production: sink the streaming daily grid to parquet
    PARTITIONED BY date via foreachBatch.

    ``complete`` output mode re-emits every open day each micro-batch;
    dynamic partition overwrite rewrites only the day-partitions present in
    that batch, so closed days stop being touched once the watermark passes
    — downstream readers see one directory per day of mergeable partials
    (finalize with ``plans.pipeline.reaggregate`` column logic).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(out_path)
        )

    writer = (
        daily_stream.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_daily_grid(
    pixels_stream: DataFrame,
    granules: DataFrame,
    spec: AggregationSpec,
    watermark: str = "3 hours",
) -> DataFrame:
    """Daily tumbling-window per-cell aggregation over a pixel stream.

    Returns a streaming DataFrame keyed (day, cell) with the mergeable
    statistics (pixel counts, CF sums, per-variable sum/count/min/max).
    Finalization (mean/std) composes downstream exactly as in
    ``plans.pipeline.reaggregate`` — partials are the streaming-safe
    representation.
    """
    df = with_event_time(pixels_stream, granules)
    df = with_cloud_mask(df)
    df = with_cell(df, spec)
    df = df.withWatermark("ts", watermark)

    cld, tot = cloudy_flag(F.col("cm")), determined_flag(F.col("cm"))
    aggs = [
        F.sum(cld).cast("long").alias("cld_pix"),
        F.sum(tot).cast("long").alias("tot_pix"),
    ]
    for v in spec.physical_variables():
        c = F.col(v.name)
        aggs += [
            F.sum(c).alias(f"{v.name}_sum"),
            F.count(c).alias(f"{v.name}_count"),
            F.sum(c * c).alias(f"{v.name}_sumsq"),
            F.min(c).alias(f"{v.name}_min"),
            F.max(c).alias(f"{v.name}_max"),
        ]

    return (
        df.groupBy(F.window("ts", "1 day").alias("day"), F.col("cell"))
        .agg(*aggs)
        .select(
            F.col("day.start").cast("date").alias("date"),
            "cell",
            *[c for c in ["cld_pix", "tot_pix"]],
            *[
                f"{v.name}_{s}"
                for v in spec.physical_variables()
                for s in ("sum", "count", "sumsq", "min", "max")
            ],
        )
        .withColumn(
            "cf_mean", F.col("cld_pix") / F.nullif(F.col("tot_pix"), F.lit(0))
        )
    )
