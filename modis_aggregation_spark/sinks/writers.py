"""Sinks: canonical Parquet writer + HDF5 compatibility exporter.

The canonical sink is a Parquet result table ``cells(cell, lat_idx,
lon_idx, {var}_{stat} …)`` — queryable, splittable, schema-full. The HDF5
exporter reproduces the reference's MYD08-style output file
(``addGridEntry`` + writer loop, reference
``MODIS_Aggregation/aggregate_functions.py:413-453,724-757``) for users who
need the legacy format. The L3 grid is tiny (180×360 cells at 1°), so the
exporter's driver-side collect is bounded at ~MBs regardless of input
scale — the only place the engine ever collects. The grid comes back as
one Arrow table (``toArrow``) and each column converts to NumPy whole:
NULL scalars become NaN, NULL histograms zeros, nested joint histograms
are flattened — no per-cell ``Row`` objects.

Packing rules replicated exactly (quirk Q10):
* floats pack as ``int(v / scale + offset)`` — TRUNCATION toward zero, not
  rounding (``:431,435``);
* ``±Inf`` → fill for min/max datasets (``:429-431``), NaN/NULL → fill for
  the rest (``:433-435``);
* counts and histograms stay raw integers (``:424-427``);
* cloud-fraction datasets are forced ``scale=1e-4, offset=0, fill=-9999``
  (``:438-444``).

The numeric packing is pure NumPy (tested), and the physical write always
goes through the bundled pure-Python classic-format HDF5 writer
(``hdf5lite`` — reader validated against the reference's own sample file,
writer round-trip-verified through it), so every host writes the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType

from modis_aggregation_spark.config import AggregationSpec
from modis_aggregation_spark.sinks.hdf5lite import write_hdf5

CF_SCALE = 1e-4
CF_OFFSET = 0.0
CF_FILL = -9999


def write_grid_parquet(df: DataFrame, path: str, overwrite: bool = False) -> None:
    """Canonical sink. Default refuses to overwrite — the reference's
    output-exists guard (S13, ``aggregate_functions.py:610-617``) is
    Spark's ``errorifexists`` mode."""
    df.write.mode("overwrite" if overwrite else "errorifexists").parquet(path)


def pack_values(
    values: np.ndarray,
    scale: float,
    offset: float,
    fill: int,
) -> np.ndarray:
    """Pack a float array to int64 with the reference's truncation rules
    (``astype(np.int)`` is int64: a Σv² of thousands of pixels overflows
    int32)."""
    v = np.asarray(values, dtype=np.float64)
    # the reference guards Inf only on min/max datasets (:429-431) because
    # Inf can only arise there (untouched ±inf buffer init); mapping all
    # non-finite values to fill is equivalent and avoids UB int casts
    bad = ~np.isfinite(v)
    packed = np.zeros(v.shape, dtype=np.int64)
    ok = ~bad
    # astype(int) truncates toward zero — replicated exactly (Q10)
    packed[ok] = (v[ok] / scale + offset).astype(np.int64)
    packed[bad] = fill
    return packed


def _is_count_col(name: str) -> bool:
    return name.endswith(("_count", "_pix", "_hist", "_jhist")) or name in (
        "grid_count",
        "grid_count_compat",
    )


def _is_cf_col(name: str) -> bool:
    return name.startswith("cf_") and not name.endswith(("_hist", "_jhist"))


def _bin_shape(name: str, spec: AggregationSpec) -> tuple[int, ...]:
    """Per-cell shape of histogram column ``name``, from the spec's bin
    edges: ``cf_hist`` from the virtual cloud-fraction variable,
    ``{joint}_jhist`` (x bins, partner bins), ``{var}_hist`` (bins)."""
    if name == "cf_hist":
        cf_var = next(v for v in spec.variables if v.is_virtual)
        return (len(cf_var.bin_edges) - 1,)
    if name.endswith("_jhist"):
        jh = next(j for j in spec.joint_hists if f"{j.joint_name}_jhist" == name)
        nx = len(spec.variable(jh.varname).bin_edges) - 1
        return (nx, len(jh.joint_edges) - 1)
    return (len(spec.variable(name[: -len("_hist")]).bin_edges) - 1,)


def _float_values(values: pa.Array) -> np.ndarray:
    """Arrow values as a float64 array, NULL -> NaN."""
    values = pc.fill_null(pc.cast(values, pa.float64()), np.nan)
    return values.to_numpy(zero_copy_only=False, writable=True)


def grid_to_arrays(
    grid_df: DataFrame, spec: AggregationSpec
) -> dict[str, np.ndarray]:
    """Collect a DENSIFIED grid DataFrame into ``{name: ndarray}`` shaped
    ``[nlat, nlon]`` (histograms ``[nlat, nlon, bins]``; joint histograms
    ``[nlat, nlon, bx, by]``) — the reference's output layout (A16).
    The grid comes to the driver as one Arrow table and every column
    converts to NumPy whole. Histogram shapes come from the column type
    and the spec's bin edges, so an empty cell (NULL histogram after the
    densify left join) reads as zeros even when no cell of the product
    is occupied."""
    nlat, nlon = spec.nlat, spec.nlon
    table = grid_df.orderBy("cell").toArrow()
    if table.num_rows != nlat * nlon:
        raise ValueError(
            f"grid must be densified: got {table.num_rows} rows, "
            f"want {nlat * nlon}"
        )
    out: dict[str, np.ndarray] = {}
    skip = {"cell", "lat_idx", "lon_idx"}
    for field in grid_df.schema.fields:
        fname = field.name
        if fname in skip:
            continue
        col = table.column(fname).combine_chunks()
        if not isinstance(field.dataType, ArrayType):
            out[fname] = _float_values(col).reshape(nlat, nlon)
            continue
        shape = _bin_shape(fname, spec)
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        values = col.flatten()  # skips NULL cells
        while pa.types.is_list(values.type):
            values = values.flatten()
        size = int(np.prod(shape))
        if len(values) != int(valid.sum()) * size:
            raise ValueError(
                f"histogram column {fname!r} does not hold {shape} bins "
                "in every occupied cell"
            )
        arr = np.zeros((nlat * nlon, size))
        arr[valid] = _float_values(values).reshape(-1, size)
        out[fname] = arr.reshape((nlat, nlon) + shape)
    return out


def pack_grid(
    arrays: dict[str, np.ndarray], spec: AggregationSpec
) -> dict[str, tuple[np.ndarray, dict]]:
    """Apply the packing rules to every dataset; returns
    ``{name: (packed, attrs)}``. Counts/histograms pass through as int64."""
    out: dict[str, tuple[np.ndarray, dict]] = {}
    for name, arr in arrays.items():
        if _is_count_col(name):
            out[name] = (
                np.nan_to_num(arr, nan=0.0).astype(np.int64),
                {"units": "none", "_FillValue": 0},
            )
            continue
        if _is_cf_col(name):
            # the reference's Cloud_Fraction branch writes the SCALED values
            # as float64 WITHOUT the astype(int) truncation every other
            # dataset gets (``aggregate_functions.py:438-445``) — 0.123456
            # lands as 1234.56, not 1234
            v = np.asarray(arr, dtype=np.float64) / CF_SCALE + CF_OFFSET
            v[~np.isfinite(v)] = CF_FILL
            out[name] = (
                v,
                {
                    "scale_factor": CF_SCALE,
                    "add_offset": CF_OFFSET,
                    "_FillValue": CF_FILL,
                },
            )
            continue
        var = name.rsplit("_", 1)[0]
        try:
            vs = spec.variable(var)
            scale, offset, fill = vs.scale_factor, vs.add_offset, int(vs.fill_value)
        except KeyError:
            scale, offset, fill = 1.0, 0.0, -9999
        out[name] = (
            pack_values(arr, scale, offset, fill),
            {
                "scale_factor": scale,
                "add_offset": offset,
                "_FillValue": fill,
            },
        )
    return out


def axis_bounds(spec: AggregationSpec) -> tuple[np.ndarray, np.ndarray]:
    """lat_bnd / lon_bnd cell-edge vectors (reference ``:746-757``)."""
    lat0, lat1 = spec.lat_bounds
    lon0, lon1 = spec.lon_bounds
    return (
        np.linspace(lat0, lat1, spec.nlat + 1),
        np.linspace(lon0, lon1, spec.nlon + 1),
    )


def export_netcdf_cfa(
    grid_df: DataFrame,
    spec: AggregationSpec,
    path: str,
    cf_col: str = "cf_mean",
    overwrite: bool = False,
) -> str:
    """Legacy ``cfa``-pipeline netCDF sink (S14/A18): a single cloud-
    fraction dataset on the grid, the shape of the reference's sample
    product ``resources/data/sample_output_data/
    MYD08_D3.A2008001CloudFraction.nc`` (180×360 DataArray written by the
    compiled-only ``cfa`` module's ``displayOutput``).

    Written with ``hdf5lite``: the same HDF5-inside structure the sample
    product has — the data variable plus DIMENSION_SCALE-classed
    coordinate datasets — minus the netCDF4 reference-typed bookkeeping
    attrs (DIMENSION_LIST / REFERENCE_LIST), which generic HDF5 readers
    ignore."""
    if os.path.exists(path) and not overwrite:
        raise FileExistsError(path)
    arrays = grid_to_arrays(grid_df.select("cell", "lat_idx", "lon_idx", cf_col), spec)
    lat_bnd, lon_bnd = axis_bounds(spec)
    centers = lambda b: (b[:-1] + b[1:]) / 2.0  # noqa: E731
    write_hdf5(
        path,
        {
            cf_col: (arrays[cf_col], {"_FillValue": float("nan")}),
            "lat": (
                centers(lat_bnd),
                {"CLASS": "DIMENSION_SCALE", "NAME": "lat",
                 "units": "degrees_north", "_Netcdf4Dimid": 0},
            ),
            "lon": (
                centers(lon_bnd),
                {"CLASS": "DIMENSION_SCALE", "NAME": "lon",
                 "units": "degrees_east", "_Netcdf4Dimid": 1},
            ),
        },
    )
    return path


def export_png(
    grid_df: DataFrame,
    spec: AggregationSpec,
    path: str,
    value_col: str = "cf_mean",
    vmin: float = 0.0,
    vmax: float = 1.0,
    overwrite: bool = False,
) -> str:
    """Quick-look PNG of one grid variable (the reference's comparison-
    plot product family, ``resources/data/sample_output_data/*.png``)
    without PIL/matplotlib: pure-Python PNG encoder (``pnglite``),
    procedural blue→yellow ramp, NaN/unoccupied cells transparent. Rows
    are flipped so north is up. Driver-side and bounded by the grid size
    like every export here."""
    from modis_aggregation_spark.sinks.pnglite import colorize, write_png

    if os.path.exists(path) and not overwrite:
        raise FileExistsError(path)
    arrays = grid_to_arrays(grid_df.select("cell", "lat_idx", "lon_idx", value_col), spec)
    img = colorize(arrays[value_col][::-1, :], vmin, vmax)
    write_png(path, img)
    return path


def export_contour_png(
    grid_df: DataFrame,
    spec: AggregationSpec,
    path: str,
    value_col: str = "cf_mean",
    levels: int = 10,
    vmin: float | None = None,
    vmax: float | None = None,
    scale: int = 8,
    overwrite: bool = False,
) -> str:
    """Filled-contour quick-look of one grid variable — the legacy
    ``displayOutput`` product (cfa.pyc: ``contourf(cmap='jet')`` +
    ``savefig``; sample ``MYD08_D3.A2008001CloudFraction.png``), rendered
    matplotlib-free by ``sinks/contour.py`` (jet colormap, bilinear level
    bands, marching-squares iso-lines; NaN cells transparent). North-up
    like ``export_png``; driver-side and bounded by the grid size."""
    from modis_aggregation_spark.sinks.contour import render_contour_png

    if os.path.exists(path) and not overwrite:
        raise FileExistsError(path)
    arrays = grid_to_arrays(grid_df.select("cell", "lat_idx", "lon_idx", value_col), spec)
    png = render_contour_png(
        arrays[value_col][::-1, :], levels=levels, vmin=vmin, vmax=vmax, scale=scale
    )
    with open(path, "wb") as fh:
        fh.write(png)
    return path


def export_hdf5(
    grid_df: DataFrame,
    spec: AggregationSpec,
    path: str,
    overwrite: bool = False,
) -> str:
    """Write the MYD08-style HDF5 file (reference
    ``aggregate_functions.py:413-453,724-757``).

    Written with the bundled pure-Python classic-format writer
    (``hdf5lite`` — reader validated against the reference's own sample
    output, writer round-trip-verified through that reader)."""
    if os.path.exists(path) and not overwrite:
        raise FileExistsError(path)  # S13 output-exists guard
    arrays = grid_to_arrays(grid_df, spec)
    packed = pack_grid(arrays, spec)
    lat_bnd, lon_bnd = axis_bounds(spec)
    # the reference sample carries units/long_name on the bounds vectors
    write_hdf5(path, {
        "lat_bnd": (lat_bnd, {"units": "degrees",
                              "long_name": "Latitude_boundaries"}),
        "lon_bnd": (lon_bnd, {"units": "degrees",
                              "long_name": "Longitude_boundaries"}),
        **packed,
    })
    return path
