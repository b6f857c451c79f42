"""Granule file cache: HDF4 granules plus a parquet copy of their pixels.

Files are written once per (layout, granule id) and reused by later runs
in the same checkout; nothing here runs inside a timed region. Each file
is written to a temporary name and renamed into place, so an interrupted
run never leaves a half-written granule behind.
"""

from __future__ import annotations

import multiprocessing as mp
import os
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

from perfbench.workloads import VARIABLES


def hdf_path(cache: Path, layout: str, gid: int) -> Path:
    return cache / layout / f"granule_{gid}.hdf"


def parquet_path(cache: Path, layout: str, gid: int) -> Path:
    return cache / layout / f"granule_{gid}.parquet"


def _write(cache: str, layout: str, gid: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from modis_aggregation_spark.sources.granule_datasource import (
        load_granule_hdf4,
        write_granule_hdf4,
    )

    final = Path(cache) / layout
    tmp = final / f".tmp-{gid}-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    write_granule_hdf4(str(tmp), gid, VARIABLES, layout=layout)
    # the parquet copy holds exactly the decoded pixels the DataSource
    # yields: NaN measures become NULL, lat/lon stay as stored
    data = load_granule_hdf4(str(tmp), gid, VARIABLES)
    cols = {
        k: pa.array(v, mask=np.isnan(v)) if k in VARIABLES else pa.array(v)
        for k, v in data.items()
    }
    pq.write_table(pa.table(cols), tmp / f"granule_{gid}.parquet")
    for name in (f"granule_{gid}.parquet", f"granule_{gid}.hdf"):
        os.replace(tmp / name, final / name)
    tmp.rmdir()


def ensure_granules(cache: Path, layout: str, ids: list[int], workers: int) -> Path:
    """Write the missing granules of ``ids``; return the layout's directory."""
    missing = [g for g in ids if not hdf_path(cache, layout, g).exists()]
    if missing:
        ctx = mp.get_context("spawn")
        with ProcessPoolExecutor(min(workers, len(missing)), mp_context=ctx) as ex:
            for f in [ex.submit(_write, str(cache), layout, g) for g in missing]:
                f.result()
    return cache / layout
