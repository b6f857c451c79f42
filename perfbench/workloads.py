"""Benchmark workloads: what each one runs, and the seed → input mapping.

A seed selects which granule ids a run aggregates and when each granule
was acquired. Granule content is a pure function of its id
(``synth_granule``), so a seed fixes the inputs completely. Every seed
gives the same number of granules of the same swath shape, so the input
size of a workload never depends on the seed.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

# physical variables of config.default_spec(); cloud_fraction_CM is derived
VARIABLES = ("ctp", "ctt", "cee", "cth")
# the product day D and the spill day D+1 of the definition-of-day rule
END_DOY, SPILL_DOY = 1, 2
YEAR_START = dt.date(2008, 1, 1)


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str  # "batch": granules -> HDF5 product; "stream": granules -> daily partials
    layout: str  # write_granule_hdf4 storage layout of the granule files
    grid_deg: float
    granules: int  # granules per product or per stream
    pool: int  # ids are drawn from this many granules (bounds the file cache)
    pool_base: int
    per_batch: int  # granules_per_batch of the stream reader


WORKLOADS = {
    w.name: w
    for w in (
        Workload("batch_szip_2deg", "batch", "szip", 2.0, 4, 12, 7000, 2),
        Workload("stream_contig_1deg", "stream", "contiguous", 1.0, 6, 12, 8000, 2),
    )
}


@dataclass(frozen=True)
class Granule:
    granule_id: int
    doy: int
    hour: int
    minute: int

    @property
    def date(self) -> dt.date:
        return YEAR_START + dt.timedelta(days=self.doy - 1)

    @property
    def hhmm(self) -> str:
        return f"{self.hour:02d}{self.minute:02d}"


def catalog(w: Workload, seed: int) -> list[Granule]:
    """The granules of one product, in acquisition order.

    One granule is acquired on day D before the 3-hour shift and one on
    day D+1 before it (a spill granule), so both branches of the
    definition-of-day nulling run on every seed. The rest fall on day D
    after the shift.
    """
    rng = np.random.default_rng(seed % 2**63)  # any integer seed, negative too
    ids = rng.choice(np.arange(w.pool_base, w.pool_base + w.pool), w.granules, replace=False)
    out = []
    for k, gid in enumerate(ids):
        doy = SPILL_DOY if k == 1 else END_DOY
        hour = int(rng.integers(0, 3)) if k < 2 else int(rng.integers(3, 24))
        out.append(Granule(int(gid), doy, hour, 5 * int(rng.integers(0, 12))))
    return sorted(out, key=lambda g: (g.doy, g.hour, g.minute, g.granule_id))
