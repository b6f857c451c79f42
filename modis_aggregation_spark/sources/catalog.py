"""Granule catalog: filename parsing, date-range expansion, pairing (S1/S2, M11).

The reference builds its catalog by shelling out to ``ls`` per
(year, day-of-year, hour) (``MODIS_Aggregation/aggregate_functions.py:55-97``),
pairs MYD06↔MYD03 positionally after a same-length check (``:87-95``), and
re-parses day/hour back out of the filename (``:290-291``). The end date
additionally contributes the first 3 hours of the NEXT day — the
"definition of day" spill (``:589-601``).

The engine replaces all of that with declarative DataFrame ops:

* filename parsing = ``regexp_extract``/``substring`` column expressions;
* the spill set = a date predicate on a catalog DataFrame (on a real
  date/hour-partitioned store this is pure partition pruning);
* pairing = a broadcast equi-join on (date, hhmm), with an anti-join
  consistency check replacing the abort-on-length-mismatch.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# {product}.A{yyyy}{ddd}.{hhmm}.{collection}.{proc}.hdf
_FILENAME_RE = r"^([A-Z0-9_]+)\.A(\d{4})(\d{3})\.(\d{4})\."


def catalog_from_filenames(files_df: DataFrame, filename_col: str = "filename") -> DataFrame:
    """Parse product/date/doy/hhmm/hour out of granule filenames (M11).

    Input: any DataFrame with a ``filename`` column. Output adds
    ``product, year, doy, date, hhmm, hour`` — all built-in expressions.
    """
    fn = F.col(filename_col)
    year = F.regexp_extract(fn, _FILENAME_RE, 2).cast("int")
    doy = F.regexp_extract(fn, _FILENAME_RE, 3).cast("int")
    hhmm = F.regexp_extract(fn, _FILENAME_RE, 4)
    return (
        files_df.withColumn("product", F.regexp_extract(fn, _FILENAME_RE, 1))
        .withColumn("year", year)
        .withColumn("doy", doy)
        .withColumn(
            "date",
            F.date_add(F.make_date(year, F.lit(1), F.lit(1)), doy - F.lit(1)),
        )
        .withColumn("hhmm", hhmm)
        .withColumn("hour", F.substring(hhmm, 1, 2).cast("int"))
    )


def spill_window(start_date: str, end_date: str, shift_hours: int = 3) -> tuple[date, int]:
    """The spill day (end+1) and shift hours for a date-range query."""
    end = date.fromisoformat(end_date)
    return end + timedelta(days=1), shift_hours


def date_range_catalog(
    catalog: DataFrame,
    start_date: str,
    end_date: str,
    shift_hours: int = 3,
    date_col: str = "date",
    hour_col: str = "hour",
) -> DataFrame:
    """Select granules in [start, end] plus the first ``shift_hours`` hours
    of end+1 (the reference's 3-hour time shift, ``:589-601``).

    On a date/hour-partitioned source this predicate is pure partition
    pruning — no data is touched outside the window.
    """
    spill_day, _ = spill_window(start_date, end_date, shift_hours)
    d, h = F.col(date_col), F.col(hour_col)
    in_range = (d >= F.lit(start_date).cast("date")) & (d <= F.lit(end_date).cast("date"))
    in_spill = (d == F.lit(spill_day.isoformat()).cast("date")) & (h < F.lit(shift_hours))
    return catalog.filter(in_range | in_spill)


def spec_window(granules: DataFrame, spec) -> tuple[DataFrame, int, int]:
    """``daily_grid``'s catalog arguments for ``spec``'s dates: the granules
    of its window (``date_range_catalog``) and the day rule's
    ``(end_doy, spill_doy)`` — the days of the end date and of the spill
    day after it."""
    spill_day, _ = spill_window(spec.start_date, spec.end_date, spec.shift_hours)
    end = date.fromisoformat(spec.end_date)
    return (
        date_range_catalog(granules, spec.start_date, spec.end_date, spec.shift_hours),
        end.timetuple().tm_yday,
        spill_day.timetuple().tm_yday,
    )


def validate_hour_coverage(
    catalog: DataFrame,
    start_date: str,
    end_date: str,
    date_col: str = "date",
    hour_col: str = "hour",
) -> None:
    """Missing-hour abort (S1 runtime assertion): the reference errors when
    an (year, doy, hour) glob matches nothing
    (``aggregate_functions.py:73-78``). Declaratively: generate the full
    expected (date, hour) lattice and anti-join the catalog against it —
    one tiny job, all gaps reported at once instead of first-gap abort."""
    spark = catalog.sparkSession
    expected = (
        spark.sql(
            f"SELECT explode(sequence(DATE '{start_date}', DATE '{end_date}')) AS d"
        )
        .crossJoin(spark.range(24).select(F.col("id").cast("int").alias("h")))
    )
    present = catalog.select(
        F.col(date_col).alias("d"), F.col(hour_col).alias("h")
    ).distinct()
    gaps = expected.join(present, ["d", "h"], "left_anti").orderBy("d", "h")
    missing = gaps.limit(25).collect()
    if missing:
        desc = ", ".join(f"{r['d']}T{r['h']:02d}" for r in missing[:5])
        raise ValueError(
            f"catalog has {len(missing)}{'+' if len(missing) == 25 else ''} "
            f"missing (date, hour) slots, e.g. {desc}"
        )


def pair_granules(
    catalog: DataFrame,
    data_product: str = "MYD06_L2",
    geo_product: str = "MYD03",
    check: bool = True,
) -> DataFrame:
    """Pair data granules with their geolocation partner on (date, hhmm) (S2).

    Returns the data-product rows with ``geo_granule_id``/``geo_filename``
    attached via a broadcast inner join. With ``check=True``, raises if any
    data granule lacks a partner — the declarative version of the
    reference's length-mismatch abort (``:87-92``).
    """
    data = catalog.filter(F.col("product") == data_product)
    geo = catalog.filter(F.col("product") == geo_product).select(
        F.col("date").alias("g_date"),
        F.col("hhmm").alias("g_hhmm"),
        F.col("granule_id").alias("geo_granule_id"),
        F.col("filename").alias("geo_filename"),
    )
    cond = (F.col("date") == F.col("g_date")) & (F.col("hhmm") == F.col("g_hhmm"))
    if check:
        missing = data.join(
            F.broadcast(geo), cond, "left_anti"
        )
        n_missing = missing.limit(1).count()
        if n_missing:
            example = missing.select("filename").first()[0]
            raise ValueError(f"granule without {geo_product} partner, e.g. {example}")
    return data.join(F.broadcast(geo), cond, "inner").drop("g_date", "g_hhmm")
