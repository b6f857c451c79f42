"""Per-cell 1-D and 2-D (joint) histograms (A9, A10; quirks Q4/Q9).

Long format ``(cell, bucket[, bucket_y], cnt)``: one ``groupBy().count()``,
sparse (only occupied buckets), oracle-friendly. Shuffle volume is bounded
by cells × occupied-buckets regardless of pixel count. The dense per-cell
arrays of the L3 product (the reference's buffer layout,
``aggregate_functions.py:553-561``) come from ``plans/pipeline.daily_grid``.

NumPy edge semantics are inherited from ``functions.histogram.hist_bucket``:
half-open bins, last bin closed, out-of-range → NULL → dropped by the
``groupBy`` (the silent drop of ``np.histogram``).

Joint histograms pair x and y ROW-WISE, keeping rows where both are
non-NULL — the clean semantics of quirk Q4 (the reference drops NaNs from
x and y independently and skips mismatched granule-cells,
``aggregate_functions.py:266-277``; the two agree whenever the NULL masks
coincide).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modis_aggregation_spark.functions.histogram import hist_bucket


def hist_1d(
    pixels_with_cell: DataFrame,
    var: str,
    edges: Sequence[float],
    group_cols: Sequence[str] = ("cell",),
) -> DataFrame:
    """Long-format histogram: (cell, bucket, cnt), occupied buckets only."""
    bucket = hist_bucket(F.col(var), edges).alias("bucket")
    return (
        pixels_with_cell.select(*group_cols, bucket)
        .filter(F.col("bucket").isNotNull())
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_2d(
    pixels_with_cell: DataFrame,
    var_x: str,
    var_y: str,
    edges_x: Sequence[float],
    edges_y: Sequence[float],
    group_cols: Sequence[str] = ("cell",),
) -> DataFrame:
    """Long-format joint histogram: (cell, bucket_x, bucket_y, cnt)."""
    bx = hist_bucket(F.col(var_x), edges_x).alias("bucket_x")
    by = hist_bucket(F.col(var_y), edges_y).alias("bucket_y")
    return (
        pixels_with_cell.select(*group_cols, bx, by)
        .filter(F.col("bucket_x").isNotNull() & F.col("bucket_y").isNotNull())
        .groupBy(*group_cols, "bucket_x", "bucket_y")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
