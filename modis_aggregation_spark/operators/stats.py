"""Per-cell statistics — the heart of the engine (SURVEY §2.4, A1-A14).

Everything here compiles to a single ``groupBy("cell").agg(...)`` hash
aggregation: Spark's partial/final aggregation IS the reference's
per-granule-buffer + merge scheme (``run_modis_aggre``
``MODIS_Aggregation/aggregate_functions.py:282-410`` + the Dask fmin/fmax/+
merge ``MODIS_Aggregation_DASK.py:127-134``), with NULL-skipping built-ins
standing in for the reference's nansum/nanmin/nanmax (SURVEY §1.4).

Scale notes: the aggregation shuffle carries at most ncells×nvars groups
(64,800 cells at 1°) — negligible at any input size; the scan dominates and
is embarrassingly parallel. Map-side partial aggregation means each input
partition contributes one row per occupied cell, so shuffle volume is
O(partitions × cells), independent of pixel count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.functions.bits import (
    cloud_mask_flag,
    cloudy_flag,
    determined_flag,
)
from modis_aggregation_spark.functions.grid import cell_id


def with_cell(pixels: DataFrame, spec: AggregationSpec) -> DataFrame:
    """Bounding-box filter (P2, strict bounds per quirk Q7) + optional
    systematic sampling (S9) + cell id (A1) + cell-bounds filter (P5).

    The strict-inequality region predicate and the sampling predicate are
    plain filters — Catalyst pushes them to the parquet scan.
    """
    lat0, lat1 = spec.lat_bounds
    lon0, lon1 = spec.lon_bounds
    df = pixels.filter(
        (F.col("lat") > lat0)
        & (F.col("lat") < lat1)
        & (F.col("lon") > lon0)
        & (F.col("lon") < lon1)
    )
    if spec.sampling > 1:
        oi, oj = spec.sampling_offset
        n = spec.sampling
        df = df.filter(
            ((F.col("i") - oi) % n == 0)
            & ((F.col("j") - oj) % n == 0)
            & (F.col("i") >= oi)
            & (F.col("j") >= oj)
        )
    df = df.withColumn(
        "cell",
        cell_id(F.col("lat"), F.col("lon"), lat0, lon0, spec.grid[0], spec.grid[1], spec.nlon),
    )
    return df.filter((F.col("cell") >= 0) & (F.col("cell") < spec.ncells))


def trim_cross_track(pixels: DataFrame, keep_cols: int = 1350) -> DataFrame:
    """Drop trailing cross-track columns (S8): the reference keeps only the
    first 1350 of the 1-km product's 1354 columns
    (``aggregate_functions.py:119,145,195-196``). A plain pushed-down
    filter on the pixel's cross-track index."""
    return pixels.filter(F.col("j") < keep_cols)


def validate_resolution(pixels: DataFrame, varnames: Sequence[str]) -> None:
    """Plan-time schema validation (S11): every requested variable must
    exist with a numeric type alongside lat/lon — the engine's version of
    the reference's shape-match abort (``aggregate_functions.py:209-219``),
    moved from per-granule runtime to before the job starts."""
    dtypes = dict(pixels.dtypes)
    numeric = ("double", "float", "int", "bigint", "smallint", "tinyint", "decimal")
    for required in ("lat", "lon"):
        if required not in dtypes:
            raise ValueError(f"pixel table is missing required column '{required}'")
    for v in varnames:
        if v not in dtypes:
            raise ValueError(
                f"variable '{v}' not found in pixel schema; have {sorted(dtypes)}"
            )
        if not dtypes[v].startswith(numeric):
            raise ValueError(f"variable '{v}' has non-numeric type {dtypes[v]}")


def with_cloud_mask(pixels: DataFrame, cm_raw_col: str = "cm_raw") -> DataFrame:
    """Attach the decoded cloud-mask flag column ``cm`` (S6 + S7)."""
    return pixels.withColumn("cm", cloud_mask_flag(F.col(cm_raw_col)))


def stat_exprs(var: str) -> list:
    """min/max/sum/count/avg/stddev_pop + Σv² for one variable (A3-A8).

    ``sumsq`` is retained so monthly re-aggregation and M12 finalization can
    recompute std from staged partials exactly as the reference does
    (``aggregate_functions.py:250-254,711``).
    """
    c = F.col(var)
    return [
        F.min(c).alias(f"{var}_min"),
        F.max(c).alias(f"{var}_max"),
        F.sum(c).alias(f"{var}_sum"),
        F.count(c).alias(f"{var}_count"),
        F.avg(c).alias(f"{var}_mean"),
        F.stddev_pop(c).alias(f"{var}_stddev"),
        F.sum(c * c).alias(f"{var}_sumsq"),
    ]


def cell_stats(
    pixels_with_cell: DataFrame,
    varnames: Sequence[str],
    group_cols: Sequence[str] = ("cell",),
) -> DataFrame:
    """One-pass grouped statistics for all variables (A2-A8, A16)."""
    exprs = []
    for v in varnames:
        exprs.extend(stat_exprs(v))
    return pixels_with_cell.groupBy(*group_cols).agg(*exprs)


def cloud_fraction(
    pixels_with_cell_cm: DataFrame, group_cols: Sequence[str] = ("cell",)
) -> DataFrame:
    """Per-cell cloudy/total counts and pixel-weighted cloud fraction
    (A11 + A12).

    Reference: ``TOT_pix = Σ(0<=CM<=3)``, ``CLD_pix = Σ(0<=CM<=1)``
    (``aggregate_functions.py:366-368``; cloudy=0, probably-cloudy=1);
    fraction = ratio of sums ΣCLD/ΣTOT (``:706``) — pixel-weighted, NOT the
    mean of per-granule fractions.
    """
    cld, tot = cloudy_flag(F.col("cm")), determined_flag(F.col("cm"))
    return pixels_with_cell_cm.groupBy(*group_cols).agg(
        F.sum(cld).alias("cld_pix"),
        F.sum(tot).alias("tot_pix"),
        (F.sum(cld) / F.nullif(F.sum(tot), F.lit(0))).alias("cf_mean"),
    )


def cloud_fraction_minmax(
    pixels_with_cell_cm: DataFrame, granule_col: str = "granule_id"
) -> DataFrame:
    """Per-cell min/max/std of the per-GRANULE cloud fraction (A13, M4).

    Two-level aggregation: granule-level fraction first, then per-cell
    extremes — exactly the reference's semantics where each ``cal_stats``
    call sees one granule's CLD/TOT for the cell
    (``aggregate_functions.py:369,378-380`` feeding ``:231-237``).
    Both shuffles are on (cell, granule) then (cell) — tiny key spaces.
    """
    cld, tot = cloudy_flag(F.col("cm")), determined_flag(F.col("cm"))
    per_granule = pixels_with_cell_cm.groupBy("cell", granule_col).agg(
        (F.sum(cld) / F.nullif(F.sum(tot), F.lit(0))).alias("granule_cf")
    )
    return per_granule.groupBy("cell").agg(
        F.min("granule_cf").alias("cf_min"),
        F.max("granule_cf").alias("cf_max"),
        F.avg("granule_cf").alias("cf_granule_mean"),
        F.stddev_pop("granule_cf").alias("cf_granule_std"),
        F.count("granule_cf").alias("cf_granule_count"),
    )


def grid_counts(
    pixels_with_cell: DataFrame, granule_col: str = "granule_id"
) -> DataFrame:
    """Granules contributing to each cell (A14, clean definition).

    The engine defines ``grid_count = count(DISTINCT granule_id)`` per cell;
    the reference's counter is inflated per-variable (quirk Q5) and is
    reproduced only under strict_compat (see plans.pipeline).
    """
    return pixels_with_cell.groupBy("cell").agg(
        F.countDistinct(granule_col).alias("grid_count")
    )
