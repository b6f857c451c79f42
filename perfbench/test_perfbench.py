"""Self-tests of the benchmark: python3 -m pytest perfbench -q

The end-to-end tests run a 3-granule workload through ``run.main`` in
both modes (about two minutes on 4 cores).
"""

from __future__ import annotations

import contextlib
import io
import json

import numpy as np
import pytest

from modis_aggregation_spark.config import default_spec
from modis_aggregation_spark.sources.granule_datasource import SWATH_COLS, SWATH_ROWS
from perfbench import oracle, run
from perfbench.workloads import WORKLOADS, Workload, catalog

# three granules: a day-D and a spill granule inside the 3-hour shift, and
# one outside it whose pixels are never nulled
TINY = Workload("tiny_contig_2deg", "batch", "contiguous", 2.0, 3, 4, 9000, 1)


def _benchmark() -> dict:
    return json.loads((run.ROOT / "BENCHMARK.json").read_text())


def test_workloads_are_the_ones_benchmark_json_lists():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in _benchmark()["workloads"])


def test_seed_changes_granule_ids_not_input_sizes():
    for w in WORKLOADS.values():
        a, b = catalog(w, 1), catalog(w, 2)
        assert [g.granule_id for g in a] != [g.granule_id for g in b]
        assert catalog(w, 1) == a
        assert len(a) == len(b) == w.granules
        sizes = {oracle.decoded_pixels(g.granule_id, w.layout)["lat"].size for g in a + b}
        assert sizes == {SWATH_ROWS * SWATH_COLS}


class _Dataset:
    def __init__(self, data):
        self.data = data


def _pack(expected: dict, spec) -> dict:
    """The product an exact sink would write for ``expected``."""
    out = {"lat_bnd": _Dataset(np.linspace(*spec.lat_bounds, spec.nlat + 1)),
           "lon_bnd": _Dataset(np.linspace(*spec.lon_bounds, spec.nlon + 1))}
    for name, v in expected.items():
        if oracle._is_count(name):
            out[name] = _Dataset(v.copy())
        elif name.startswith("cf_"):
            out[name] = _Dataset(np.where(np.isnan(v), oracle.CF_FILL, v / oracle.CF_SCALE))
        else:
            var = spec.variable(name.rsplit("_", 1)[0])
            q = v / var.scale_factor + var.add_offset
            with np.errstate(invalid="ignore"):
                out[name] = _Dataset(np.where(np.isnan(q), var.fill_value, np.trunc(q)))
    return out


def test_product_check_counts_each_wrong_value():
    spec = default_spec(grid=(4.0, 4.0))
    expected = oracle.daily_product(catalog(TINY, 3), TINY.layout, spec, 1, 2)
    assert expected["ctp_count"].sum() > 0
    product = _pack(expected, spec)
    good = oracle.check_product(product, expected, spec)
    assert good.mismatches == 0 and good.overflowed > 0
    occupied = np.argwhere(expected["ctp_count"] > 0)[0]
    product["ctp_count"].data[tuple(occupied)] += 1
    product["ctp_mean"].data[tuple(occupied)] += 2  # 2 LSB off
    product["ctp_hist"].data[tuple(occupied)][0] += 1
    assert oracle.check_product(product, expected, spec).mismatches == 3


@pytest.fixture(scope="module")
def tiny_results():
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setitem(run.WORKLOADS, TINY.name, TINY)
        for trace in (0, 1):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = run.main(["--workload", TINY.name, "--seed", "5", "--seconds", "1",
                               "--trace", str(trace)])
            out[trace] = (rc, json.loads(buf.getvalue().splitlines()[-1]) if rc == 0 else None)
    return out


@pytest.mark.parametrize("trace", [0, 1])
def test_oracle_agrees_with_engine_on_three_granules(tiny_results, trace):
    rc, result = tiny_results[trace]
    assert rc == 0
    assert result["failed"] == 0 and result["correct"]
    # untraced: cold + warm products; traced: three products and one stream
    assert result["attempted"] >= (2 if trace == 0 else 4)


@pytest.mark.parametrize("trace", [0, 1])
def test_every_emitted_metric_is_in_benchmark_json(tiny_results, trace):
    _, result = tiny_results[trace]
    listed = {m["name"]: m["unit"] for m in _benchmark()["per_layer" if trace else "end_to_end"]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == listed
    if trace:
        assert result["metrics"]["sources.decode_amplification"]["value"] == 2.0
        assert result["metrics"]["sinks.overflowed_values"]["value"] > 0
