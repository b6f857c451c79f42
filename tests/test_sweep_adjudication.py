"""Unit tests for the self-adjudicating sweep gate (round-12,
VERDICT r11 item 2): flagged slots are re-timed in isolation and both
the current diff and future baselines use the isolated values."""

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "sweep_contract",
    os.path.join(os.path.dirname(__file__), "..", "tools",
                 "sweep_contract.py"),
)
sweep_contract = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(sweep_contract)
_BENCH_SPEC = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py"),
)
bench = importlib.util.module_from_spec(_BENCH_SPEC)
_BENCH_SPEC.loader.exec_module(bench)


def test_effective_timings_overlays_isolated():
    s = {"timings": {"a": 10.0, "b": 2.0}, "isolated": {"a": 1.5}}
    assert sweep_contract.effective_timings(s) == {"a": 1.5, "b": 2.0}


def test_isolated_retime_clears_tenancy_burst():
    # burst: loop time 19.6s on a 2.3s baseline, isolated re-time 2.3s
    prev = {"timings": {"m16": 2.3}}
    cur = {"timings": {"m16": 19.6}, "flagged": {"m16": 19.6},
           "isolated": {"m16": 2.4}}
    d = sweep_contract.diff_sweeps(prev, cur)
    assert d["regressions"] == []


def test_genuine_regression_survives_isolation():
    prev = {"timings": {"q": 1.0}}
    cur = {"timings": {"q": 12.0}, "flagged": {"q": 12.0},
           "isolated": {"q": 11.5}}
    d = sweep_contract.diff_sweeps(prev, cur)
    assert [r["query"] for r in d["regressions"]] == ["q"]
    assert d["regressions"][0]["cur"] == 11.5


def test_prev_isolated_is_the_baseline_anchor():
    # the previous sweep's burst-inflated loop number must NOT mask a
    # real regression: anchor is its isolated value
    prev = {"timings": {"q": 20.0}, "isolated": {"q": 1.0}}
    cur = {"timings": {"q": 12.0}}
    d = sweep_contract.diff_sweeps(prev, cur)
    assert [r["query"] for r in d["regressions"]] == ["q"]


def test_cpu_count_falls_back_to_the_host(monkeypatch):
    """Without SPARK_GRAFT_CPUS the bench and the sweep record the host's
    core count, so bench.py still finds its same-count re-time priors."""
    from modis_aggregation_spark.session import local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 8)
    assert local_cpus() == 8
    assert bench._committed_priors(local_cpus(), 0.1)  # BENCH_r13_c8.json
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert local_cpus() == 32
