"""Drop-in CLI accepting the REFERENCE's positional argument layout.

The reference serial driver takes 15-16 positional args (reference
``MODIS_Aggregation/aggregate_functions.py:459-504``; example invocation in
``examples/local_execution/MODIS_Aggregation_Local_Commands.sh:21``):

    <data_path.csv> <start yyyy/mm/dd> <end yyyy/mm/dd>
    [lat0,lat1,lon0,lon1] [dlat,dlon] [spl]
    <min> <max> <mean> <counts> <std> <hist> <jhist>   (seven 1/0 switches)
    <variable csv> [<jhist csv>]

This module parses that exact layout into an ``AggregationSpec`` and runs
``daily_grid`` over the reference's date window: start to end plus the
first 3 hours of the next day, with the definition-of-day nulling
(``:589-601``). One adaptation, documented: ``data_path.csv`` rows point at
this engine's pixel/granule parquet stores instead of MYD06/MYD03 HDF
directories (same whitespace-delimited 2-row file shape the reference
reads at ``:508-515``).

    python -m modis_aggregation_spark.reference_cli data_path.csv \\
        2008/01/01 2008/01/02 [-20,20,0,35] [1,1] [1] 1 1 1 1 1 1 1 \\
        input_file_5km.csv input_Jhist_5km.csv /tmp/out
"""

from __future__ import annotations

import sys

from modis_aggregation_spark.config import (
    ALL_STATS,
    AggregationSpec,
    parse_jhist_csv,
    parse_variable_csv,
)


def _bracket_list(s: str) -> list[float]:
    """Parse the reference's ``[a,b,c]`` argument form (``:474-476``)."""
    return [float(x) for x in s.strip("[]").split(",") if x.strip()]


def _ref_date(s: str) -> str:
    """yyyy/mm/dd → ISO."""
    return s.replace("/", "-")


def parse_reference_argv(argv: list[str]) -> tuple[AggregationSpec, str]:
    """argv (without program name) → (spec, data_path_csv).

    Mirrors ``read_user_inputs``: positions, bracket syntax, the seven
    stat switches in reference order, CSV configs.
    """
    # reference checks len(sys.argv) in (16, 17) INCLUDING the program name
    if len(argv) not in (14, 15):
        raise SystemExit(
            "expected 14 or 15 positional args (reference layout); "
            f"got {len(argv)}"
        )
    data_path_csv = argv[0]
    start, end = _ref_date(argv[1]), _ref_date(argv[2])
    lat0, lat1, lon0, lon1 = _bracket_list(argv[3])
    d_lat, d_lon = _bracket_list(argv[4])
    (spl,) = _bracket_list(argv[5])
    switches = [bool(int(x)) for x in argv[6:13]]
    stats = tuple(name for name, on in zip(ALL_STATS, switches) if on)
    variables = parse_variable_csv(argv[13])
    joint_hists = ()
    if switches[6]:
        if len(argv) < 15:
            raise SystemExit("jhist switch is on but no jhist CSV was given")
        joint_hists = parse_jhist_csv(argv[14], variables)
    spec = AggregationSpec(
        lat_bounds=(lat0, lat1),
        lon_bounds=(lon0, lon1),
        grid=(d_lat, d_lon),
        start_date=start,
        end_date=end,
        sampling=int(spl),
        stats=stats,
        variables=variables,
        joint_hists=joint_hists,
    )
    return spec, data_path_csv


def parse_data_path_csv(path: str) -> tuple[str, str]:
    """Whitespace-delimited, 1 header + 2 rows (reference ``:508-515``):
    row 1 col 1 = pixel store path, row 2 col 1 = granule catalog path."""
    with open(path) as f:
        lines = [ln.split() for ln in f if ln.strip()]
    if len(lines) < 3:
        raise SystemExit(f"{path}: need header + 2 rows (pixels, granules)")
    return lines[1][0], lines[2][0]


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if len(argv) < 13:
        raise SystemExit("expected the reference's 14/15 positional args")
    # the reference layout is 14 args, +1 (jhist CSV) when switch 7 is on;
    # one MORE trailing arg is our output path — decide by the switch, not
    # by raw length (a bare length test would eat the jhist CSV)
    expected = 15 if argv[12].strip() == "1" else 14
    out_path = argv.pop() if len(argv) == expected + 1 else "l3_output.parquet"
    spec, data_csv = parse_reference_argv(argv)
    pixels_path, granules_path = parse_data_path_csv(data_csv)

    from modis_aggregation_spark import get_spark
    from modis_aggregation_spark.plans.pipeline import daily_grid
    from modis_aggregation_spark.sinks.writers import write_grid_parquet
    from modis_aggregation_spark.sources.catalog import spec_window

    spark = get_spark("modis_aggregation_reference_cli")
    grid = daily_grid(
        spark,
        spec,
        spark.read.parquet(pixels_path),
        *spec_window(spark.read.parquet(granules_path), spec),
    )
    write_grid_parquet(grid, out_path)
    print(f"wrote {spec.nlat}x{spec.nlon} grid to {out_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
