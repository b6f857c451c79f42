"""Structured Streaming L3 dailies: emit grids as granules land.

The reference is strictly batch over a closed date range; its "definition
of day" ingests the first 3 hours of day D+1 into day D's product
(reference ``MODIS_Aggregation/aggregate_functions.py:589-601``). In
streaming terms that IS a watermark: event-time = granule acquisition
timestamp, daily tumbling window, a watermark of ``spec.shift_hours`` to
admit the late spill granules (SURVEY §2.7).

Stage 1 is the batch ``daily_grid``'s per-granule NumPy accumulator
(``plans.pipeline.granule_partials``, a stateless ``mapInArrow``) and the
windowed state merges its rows with the batch rule (``_merge``: fmin, fmax,
+), a commutative monoid: no custom state store. The broadcast catalog's
event time is joined onto the partial rows, not onto every pixel; a
catalog held in memory is computed once per stream, not once per
micro-batch (``with_event_time``). State bounds are in
``write_daily_grids``.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.functions.materialize import shared_frame
from modis_aggregation_spark.operators.stats import with_cell, with_cloud_mask
from modis_aggregation_spark.plans.pipeline import granule_partials

# plan leaves that hold their rows in memory: nothing can add rows to them
_IN_MEMORY = ("LocalRelation", "LogicalRDD")


def _merge(name: str) -> Column:
    """The fmin/fmax/+ merge of one partial column."""
    agg = F.min if name.endswith("_min") else F.max if name.endswith("_max") else F.sum
    return agg(name).alias(name)


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
    catalog: date + hhmm parsed from the filename (F3/F5).

    Every micro-batch runs the catalog's plan again, so a catalog read
    from files or tables sees the granules added while the stream runs.
    A catalog held in memory (``createDataFrame``, an RDD) has nothing
    to re-read: it is stored by the first micro-batch
    (``materialize.shared_frame``) and read from there by the others.
    """
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
    leaves = granules._jdf.queryExecution().analyzed().collectLeaves()
    if all(leaves.apply(i).nodeName() in _IN_MEMORY for i in range(leaves.size())):
        cat = shared_frame(cat)
    return pixels.join(F.broadcast(cat), "granule_id")


def write_daily_grids(
    daily_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
):
    """Continuous L3 production: sink the streaming daily grid to parquet
    PARTITIONED BY date via foreachBatch.

    ``complete`` output mode keeps every day's state (the watermark evicts
    nothing in this mode: days streamed × occupied cells, ≤ 64,800 rows per
    day at 1°) and re-emits all of it, so each batch rewrites every day's
    partition. Downstream readers see one directory per day of mergeable
    partials, which ``plans.pipeline.reaggregate`` merges and finalizes.

    ``trigger_available_now`` is refused over ``modis_granules``: PySpark's
    Python stream reader has no admission control, so the query would stop
    after the first ``granules_per_batch`` granules.
    """
    logical = daily_stream._jdf.queryExecution().logical
    if trigger_available_now and "modis_granules" in logical().toString():
        raise ValueError("trigger_available_now over modis_granules reads only the "
                         "first micro-batch; use the default trigger")

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
) -> DataFrame:
    """Daily tumbling-window per-cell aggregation over a pixel stream.

    Returns a streaming DataFrame keyed (date, cell) with the mergeable
    statistics: pixel counts, per-variable sum/count/sumsq/min/max and
    the CF ratio. ``granules`` carries (granule_id, date, hhmm). The
    watermark is ``spec.shift_hours``, the definition-of-day spill.
    Mean and std are left to ``plans.pipeline.reaggregate``, which merges
    and finalizes these partials — the streaming-safe representation.
    """
    moments = replace(spec, stats=("Minimum", "Maximum", "Standard_Deviation"))
    partials = granule_partials(
        with_cell(with_cloud_mask(pixels_stream), spec), moments, ["cell"]
    )
    df = with_event_time(partials, granules).withWatermark(
        "ts", f"{spec.shift_hours} hours"
    )
    names = [f"{v.name}_{s}" for v in spec.physical_variables()
             for s in ("sum", "count", "sumsq", "min", "max")]
    # a merged count is never NULL: keep it a required column in the sink
    out = [F.coalesce(n, F.lit(0)).alias(n) if n.endswith("_count") else n for n in names]
    return (
        df.groupBy(F.window("ts", "1 day").alias("day"), F.col("cell"))
        .agg(
            _merge("g_cld").alias("cld_pix"),
            _merge("g_tot").alias("tot_pix"),
            *map(_merge, names),
        )
        .select(
            F.col("day.start").cast("date").alias("date"),
            "cell", "cld_pix", "tot_pix", *out,
            (F.col("cld_pix") / F.nullif(F.col("tot_pix"), F.lit(0))).alias("cf_mean"),
        )
    )
