"""Command-line driver mirroring the reference's serial entry point.

The reference takes 15-16 positional args + two config CSVs (reference
``MODIS_Aggregation/aggregate_functions.py:459-504``; invocation shape in
``examples/local_execution/MODIS_Aggregation_Local_Commands.sh:21``). This
CLI accepts the same information as named flags (typed, validated in
``AggregationSpec``) plus the reference's own CSV formats for the variable
and joint-histogram configs. As in the reference, the product covers the
granules from ``--start`` to ``--end`` plus the first ``shift_hours`` (3)
hours of the day after ``--end``, with the definition-of-day nulling
applied to the end day and that spill day.

Usage:
    python -m modis_aggregation_spark.cli \
        --pixels fixtures/pixels.parquet --granules fixtures/granules.parquet \
        --lat0 -20 --lat1 20 --lon0 0 --lon1 35 --dlat 1 --dlon 1 \
        --start 2008-01-01 --end 2008-01-02 \
        --variables examples_input.csv --output /tmp/l3_daily

The ``compare`` verb closes the reference's comparison-notebook surface
(``examples/result_comparison/plot_comparison_abs.ipynb`` cells 3-7):
two exported product files → unpack → cell-aligned diff grid (+ PNGs):

    python -m modis_aggregation_spark.cli compare \
        --left a.h5 --right b.h5 --output /tmp/diff --png-prefix /tmp/cmp_
"""

from __future__ import annotations

import argparse
import sys

from modis_aggregation_spark.config import (
    ALL_STATS,
    AggregationSpec,
    VariableSpec,
    parse_jhist_csv,
    parse_variable_csv,
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="modis_aggregation_spark",
        description="L2→L3 grid aggregation (PySpark-native)",
    )
    p.add_argument("--pixels", required=True, help="pixel parquet path")
    p.add_argument("--granules", required=True, help="granule catalog parquet path")
    p.add_argument("--output", required=True, help="output parquet path")
    p.add_argument("--lat0", type=float, default=-90.0)
    p.add_argument("--lat1", type=float, default=90.0)
    p.add_argument("--lon0", type=float, default=-180.0)
    p.add_argument("--lon1", type=float, default=180.0)
    p.add_argument("--dlat", type=float, default=1.0)
    p.add_argument("--dlon", type=float, default=1.0)
    p.add_argument("--start", default="2008-01-01")
    p.add_argument("--end", default="2008-01-01")
    p.add_argument("--sampling", type=int, default=1)
    p.add_argument(
        "--stats", nargs="*", default=list(ALL_STATS), choices=list(ALL_STATS)
    )
    p.add_argument("--variables", help="reference-format variable CSV")
    p.add_argument("--jhist", help="reference-format joint-histogram CSV")
    p.add_argument("--var", nargs="*", default=[], help="bare variable names")
    p.add_argument("--strict-compat", action="store_true")
    p.add_argument("--overwrite", action="store_true")
    p.add_argument("--hdf5", help="also export MYD08-style HDF5 to this path")
    p.add_argument("--png", help="also export a cf_mean quick-look PNG to this path")
    p.add_argument(
        "--contour-png",
        help="also export a cf_mean filled-contour quick-look (the legacy "
        "displayOutput product) to this path",
    )
    return p


def spec_from_args(args: argparse.Namespace) -> AggregationSpec:
    variables: tuple[VariableSpec, ...] = ()
    joint_hists = ()
    if args.variables:
        variables = parse_variable_csv(args.variables)
    if args.var:
        variables = variables + tuple(VariableSpec(name=v) for v in args.var)
    if args.jhist:
        joint_hists = parse_jhist_csv(args.jhist, variables)
    return AggregationSpec(
        lat_bounds=(args.lat0, args.lat1),
        lon_bounds=(args.lon0, args.lon1),
        grid=(args.dlat, args.dlon),
        start_date=args.start,
        end_date=args.end,
        sampling=args.sampling,
        stats=tuple(args.stats),
        variables=variables,
        joint_hists=joint_hists,
        strict_compat=args.strict_compat,
    )


def build_compare_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="modis_aggregation_spark compare",
        description="Compare two exported product files cell-by-cell "
        "(diff grids + quick-look PNGs) — the executable form of the "
        "reference's plot_comparison_abs.ipynb cells 3-7",
    )
    p.add_argument("--left", required=True, help="first product HDF5 path")
    p.add_argument("--right", required=True, help="second product HDF5 path")
    p.add_argument(
        "--vars", nargs="*", default=[],
        help="datasets to compare (default: every 2-D dataset in both)",
    )
    p.add_argument("--output", help="write the diff grid as parquet here")
    p.add_argument(
        "--png-prefix",
        help="write {prefix}{var}_absdiff.png quick-looks per compared var",
    )
    p.add_argument("--round-dp", type=int, default=4,
                   help="round both sides before differencing (notebook: 4)")
    p.add_argument("--overwrite", action="store_true")
    return p


def compare_main(argv: list[str]) -> int:
    args = build_compare_parser().parse_args(argv)

    from modis_aggregation_spark import get_spark
    from modis_aggregation_spark.operators.compare import (
        compare_products,
        diff_to_array,
        max_abs_diff,
    )
    from modis_aggregation_spark.sinks.writers import write_grid_parquet

    spark = get_spark("modis_aggregation_compare")
    cmp, cols, shape = compare_products(
        spark, args.left, args.right,
        value_cols=args.vars or None, round_dp=args.round_dp,
    )
    if args.output:
        cmp = cmp.persist()
        write_grid_parquet(cmp, args.output, overwrite=args.overwrite)
    summary = max_abs_diff(cmp, cols)
    if args.png_prefix:
        import os as _os

        import numpy as np

        from modis_aggregation_spark.sinks.pnglite import colorize, write_png

        for c in cols:
            path = f"{args.png_prefix}{c}_absdiff.png"
            if _os.path.exists(path) and not args.overwrite:
                raise FileExistsError(path)
            arr = diff_to_array(cmp, c, shape)
            vmax = max(summary[c], 1e-12)
            # north up, same orientation as export_png
            write_png(path, colorize(arr[::-1, :], 0.0, vmax))
    for c in cols:
        print(f"max|diff| {c} = {summary[c]:.6g}")
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "compare":
        return compare_main(argv[1:])
    args = build_parser().parse_args(argv)
    spec = spec_from_args(args)

    from modis_aggregation_spark import get_spark
    from modis_aggregation_spark.plans.pipeline import daily_grid
    from modis_aggregation_spark.sinks.writers import (
        export_contour_png,
        export_hdf5,
        export_png,
        write_grid_parquet,
    )
    from modis_aggregation_spark.sources.catalog import spec_window

    spark = get_spark("modis_aggregation_cli")
    pixels = spark.read.parquet(args.pixels)
    granules = spark.read.parquet(args.granules)
    grid = daily_grid(spark, spec, pixels, *spec_window(granules, spec))
    if args.hdf5 or args.png or args.contour_png:
        # each export collects the (bounded, ~MB) grid on the driver —
        # persist so the extra jobs re-read cached partitions instead of
        # recomputing the aggregation per sink
        grid = grid.persist()
    write_grid_parquet(grid, args.output, overwrite=args.overwrite)
    if args.hdf5:
        export_hdf5(grid, spec, args.hdf5, overwrite=args.overwrite)
    if args.png:
        export_png(grid, spec, args.png, overwrite=args.overwrite)
    if args.contour_png:
        export_contour_png(grid, spec, args.contour_png, overwrite=args.overwrite)
    print(f"wrote {spec.nlat}x{spec.nlon} grid to {args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
