"""Granule-to-product benchmark of the L2 -> L3 path.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The seed selects the granules (see
``workloads.py``); the granule files are generated once into
``perfbench/_cache`` and reused. ``--trace 0`` measures the end-to-end
metrics of ``BENCHMARK.json``, ``--trace 1`` the per-layer ones and
writes the run's spans to ``perfbench/_traces``. Every output is checked
against an independent NumPy oracle. A table of the metrics goes to
stdout, followed by one JSON line with the result. See NOTES.md.

The measurement runs in a child process. This process makes itself the
child subreaper of everything the measurement starts (Spark's JVM, its
Python daemon and workers, the fixture pool and its resource tracker),
and exits only when every one of them has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS  # noqa: E402

WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36
STRAGGLER_GRACE_S = 20.0


def metric_units(trace: bool) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _environment(cores: int, work: Path) -> None:
    """Engine workers must import the package, and Spark must keep its
    local and temporary files inside the checkout."""
    tmp = work / "tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _children() -> list[int]:
    """Live processes whose parent is this process."""
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stat = (Path("/proc") / entry / "stat").read_text()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                out.append(int(entry))
    return out


def _reap_descendants() -> None:
    """Wait until no descendant is left; kill those alive after the grace."""
    deadline = time.monotonic() + STRAGGLER_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() < deadline:
            time.sleep(0.05)
            continue
        for pid in _children():
            print(f"perfbench: killing process {pid} left after the run", file=sys.stderr)
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def supervise(argv) -> int:
    """Run ``main`` in a child process; return its exit status once every
    process it started, directly or not, has ended. As child subreaper,
    this process inherits each descendant whose parent exits first, so
    ``waitpid`` sees all of them."""
    parse_args(argv)
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become child subreaper", file=sys.stderr)
        return 4
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), *argv],
                             env=dict(os.environ, **{WORKER_ENV: "1"}))
    try:
        code = child.wait()
    except BaseException:
        child.kill()
        raise
    finally:
        _reap_descendants()
    return code


def main(argv=None) -> int:
    args = parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    work = ROOT / "perfbench" / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(cores, work)
    try:
        from perfbench import bench
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    units = metric_units(bool(args.trace))
    (work / "tmp").mkdir(parents=True)
    try:
        res, tracer = bench.run_workload(WORKLOADS[args.workload], args.seed, args.seconds,
                                         ROOT, work, cores, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        traces = ROOT / "perfbench" / "_traces"
        traces.mkdir(exist_ok=True)
        tracer.write(traces / f"{args.workload}-seed{args.seed}.json")
    if set(res.metrics) != set(units):
        print(f"perfbench: emitted metrics {sorted(res.metrics)} do not match "
              f"BENCHMARK.json {sorted(units)}", file=sys.stderr)
        return 3
    for p in res.problems:
        print(f"perfbench: incorrect output: {p}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} cores={cores} "
          f"failed_ratio={res.failed}/{res.attempted}")
    for name in units:
        print(f"{name:<34} {res.metrics[name]:>16.6g} {units[name]:<6} n={res.samples[name]}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": res.metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(WORKER_ENV) else supervise(sys.argv[1:]))
