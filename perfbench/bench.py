"""Calls into the engine's public functions, timed from outside the program.

One process drives the engine through a closed loop: each product or
stream starts only after the previous one has finished. ``run_workload``
is the untraced run that measures the end-to-end metrics; with
``traced=True`` it is the traced run that records spans and measures the
per-layer metrics instead.
"""

from __future__ import annotations

import resource
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import date
from pathlib import Path

from modis_aggregation_spark import get_spark
from modis_aggregation_spark.config import default_spec
from modis_aggregation_spark.plans.pipeline import daily_grid
from modis_aggregation_spark.sinks import hdf5lite, writers
from modis_aggregation_spark.sources.granule_datasource import (
    SWATH_COLS,
    SWATH_ROWS,
    GranuleDataSource,
    load_granule_hdf4,
)
from modis_aggregation_spark.streaming.daily_stream import (
    stream_daily_grid,
    write_daily_grids,
)
from perfbench import fixtures, oracle
from perfbench.collector import StatusStore
from perfbench.tracing import Tracer
from perfbench.workloads import END_DOY, SPILL_DOY, VARIABLES, YEAR_START, Workload, catalog

SETUP_PROBES = 1  # fresh processes besides the run's own, for the setup_s median
SERIAL_DECODE_BUDGET_S = 3.0
PIXELS_PER_GRANULE = SWATH_ROWS * SWATH_COLS


def start_session():
    """``get_spark()`` plus the DataSource registration, and its seconds."""
    t0 = time.perf_counter()
    spark = get_spark()
    spark.dataSource.register(GranuleDataSource)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        # the next session in this process must launch a JVM of its own
        SparkContext._gateway = SparkContext._jvm = None


def setup_probe_seconds(root: Path) -> float:
    out = subprocess.run(
        [sys.executable, str(root / "perfbench" / "setup_probe.py")],
        check=True, capture_output=True, text=True, timeout=150,
    )
    return float(out.stdout.strip().splitlines()[-1])


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    def put(self, name: str, value: float, samples: int = 1) -> None:
        self.metrics[name] = float(value)
        self.samples[name] = samples


class Run:
    """One run of one workload: its inputs, session and outputs."""

    def __init__(self, w: Workload, seed: int, root: Path, work: Path, cores: int, tracer: Tracer):
        self.w, self.work, self.cores, self.tracer = w, work, cores, tracer
        self.granules = catalog(w, seed)
        self.ids = [g.granule_id for g in self.granules]
        self.spec = default_spec(grid=(w.grid_deg, w.grid_deg))
        self.cache = root / "perfbench" / "_cache"
        self.dir = fixtures.ensure_granules(self.cache, w.layout, self.ids, cores)
        self.products: list[Path] = []  # HDF5 products, checked after timing
        self.streams: list[Path] = []  # streamed partials, checked after timing
        self.spark = None

    # -- session -----------------------------------------------------------
    def start(self) -> float:
        with self.tracer.span("get_spark", "session"):
            self.spark, seconds = start_session()
        self.store = StatusStore(self.spark)
        self.batch_catalog = self.spark.createDataFrame(
            [(g.granule_id, g.doy, g.hour) for g in self.granules],
            "granule_id long, doy int, hour int",
        )
        self.stream_catalog = self.spark.createDataFrame(
            [(g.granule_id, g.date, g.hhmm) for g in self.granules],
            "granule_id long, date date, hhmm string",
        )
        return seconds

    def stop(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None

    def reader(self, stream: bool = False):
        r = self.spark.readStream if stream else self.spark.read
        r = (r.format("modis_granules")
             .option("granule_ids", ",".join(map(str, self.ids)))
             .option("variables", ",".join(VARIABLES))
             .option("decoder", "hdf")
             .option("path", str(self.dir)))
        if stream:
            r = r.option("granules_per_batch", str(self.w.per_batch))
        return r.load()

    # -- the two products ----------------------------------------------------
    def product(self, traced: bool) -> tuple[float, dict]:
        """Granules -> daily grid -> MYD08-style HDF5 file."""
        pid = f"p{len(self.products)}"
        path = self.work / f"{pid}.h5"
        tr = self.tracer if traced else Tracer(False)
        t0 = time.perf_counter()
        with tr.span("product", "product", pid):
            with tr.span("daily_grid", "plans", pid):
                grid = daily_grid(self.spark, self.spec, self.reader(), self.batch_catalog,
                                  END_DOY, SPILL_DOY)
            if traced:
                # run the query inside the plans layer, so the sink spans
                # time the sink's own work: the driver-side collect of the
                # cached grid, packing and writing
                with tr.span("execute", "plans", pid):
                    grid = grid.persist()
                    grid.count()
            with tr.span("export_hdf5", "sinks", pid), tr.calls(
                    "sinks", pid, (writers, "grid_to_arrays"), (writers, "pack_grid"),
                    (hdf5lite, "write_hdf5")):
                writers.export_hdf5(grid, self.spec, str(path))
        seconds = time.perf_counter() - t0
        if traced:
            grid.unpersist(blocking=True)
        self.products.append(path)
        return seconds, {}

    def stream(self, traced: bool) -> tuple[float, dict]:
        """Granules -> streaming daily partials -> date-partitioned parquet,
        with the default trigger, run until every granule is processed."""
        sid = f"s{len(self.streams)}"
        out, ckpt = self.work / f"{sid}-out", self.work / f"{sid}-ckpt"
        tr = self.tracer if traced else Tracer(False)
        t0 = time.perf_counter()
        with tr.span("stream", "product", sid):
            daily = stream_daily_grid(self.reader(stream=True), self.stream_catalog, self.spec)
            with tr.span("start", "streaming", sid):
                t_start = time.perf_counter()
                q = write_daily_grids(daily, str(out), str(ckpt))
            with tr.span("processAllAvailable", "streaming", sid):
                q.processAllAvailable()
                t_done = time.perf_counter()
            with tr.span("stop", "streaming", sid):
                q.stop()
        seconds = time.perf_counter() - t0
        self.streams.append(out)
        return seconds, {"progress": q.recentProgress,
                         "granules_per_s": len(self.ids) / (t_done - t_start)}

    def main_op(self, traced: bool):
        return (self.product if self.w.mode == "batch" else self.stream)(traced)

    # -- correctness ---------------------------------------------------------
    def check(self, res: Result) -> int:
        """Check every output against the oracle; return the overflowed
        value count of one product (every product of a run has the same)."""
        overflowed = 0
        if self.products:
            want = oracle.daily_product(self.granules, self.w.layout, self.spec, END_DOY, SPILL_DOY)
            for path in self.products:
                c = oracle.check_product(hdf5lite.read_hdf5(str(path)), want, self.spec)
                overflowed = c.overflowed
                self._count(res, path.name, c)
        if self.streams:
            want = oracle.daily_partials(self.granules, self.w.layout, self.spec)
            for path in self.streams:
                c = oracle.check_partials(read_partials(path), want, self.spec)
                self._count(res, path.name, c)
        return overflowed

    @staticmethod
    def _count(res: Result, name: str, c: oracle.Check) -> None:
        res.attempted += 1
        if c.mismatches:
            res.failed += 1
            res.problems += [f"{name}: {p}" for p in c.problems]


def read_partials(path: Path) -> dict:
    """Streamed partials read back from the parquet sink, sorted by (day, cell)."""
    import numpy as np
    import pyarrow.dataset as ds

    t = ds.dataset(str(path), format="parquet", partitioning="hive").to_table()
    day = np.array([(date.fromisoformat(str(d)) - YEAR_START).days + 1
                    for d in t.column("date").to_pylist()], dtype=np.int64)
    out = {"day": day}
    for name in t.column_names:
        if name != "date":
            col = t.column(name)
            out[name] = col.to_numpy(zero_copy_only=False).astype(
                np.int64 if name.endswith(("_count", "_pix", "cell")) else np.float64)
    order = np.lexsort((out["cell"], out["day"]))
    return {k: v[order] for k, v in out.items()}


def run_workload(w: Workload, seed: int, seconds: float, root: Path, work: Path,
                 cores: int, traced: bool) -> tuple[Result, Tracer]:
    res = Result()
    tracer = Tracer(traced)
    setup = [] if traced else [setup_probe_seconds(root) for _ in range(SETUP_PROBES)]
    run = Run(w, seed, root, work, cores, tracer)
    try:
        setup.append(run.start())
        if traced:
            _traced(run, res)
        else:
            run.main_op(False)  # cold: reported by the traced run as first_product_s
            warm, t0 = [], time.perf_counter()
            while not warm or time.perf_counter() - t0 < seconds:
                warm.append(run.main_op(False)[0])
            res.put("setup_s", statistics.median(setup), len(setup))
            res.put("product_s", statistics.median(warm), len(warm))
            res.put("peak_rss_mb", resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    finally:
        run.stop()
    overflowed = run.check(res)
    if traced:
        res.put("sinks.overflowed_values", overflowed)
    return res, tracer


def _traced(run: Run, res: Result) -> None:
    tr, store, n_gran = run.tracer, run.store, len(run.ids)
    pixels = n_gran * PIXELS_PER_GRANULE

    # sources: serial single-thread decode in this process
    times, nbytes = [], 0
    for gid in run.ids:
        with tr.span("serial_decode", "sources"):
            t = time.perf_counter()
            load_granule_hdf4(str(run.dir), gid, VARIABLES)
            times.append(time.perf_counter() - t)
        nbytes += (run.dir / f"granule_{gid}.hdf").stat().st_size
        if sum(times) >= SERIAL_DECODE_BUDGET_S:
            break
    decode_s = statistics.median(times)
    res.put("sources.decode_ms_per_granule", decode_s * 1e3, len(times))
    res.put("sources.decode_mb_per_s", nbytes / 1e6 / sum(times), len(times))

    # the workload's own product: cold and warm untraced (whose engine
    # counters are read), then warm traced
    first, _ = run.main_op(False)
    res.put("first_product_s", first)
    with store.scope("main") as main_counters:
        plain, _ = run.main_op(False)
    traced_s, info = run.main_op(True)
    res.put("trace.overhead_ratio", traced_s / plain, 2)

    # sources: the DataSource scan on its own
    with tr.span("scan_noop", "sources"):
        t = time.perf_counter()
        run.reader().write.format("noop").mode("overwrite").save()
        scan_s = time.perf_counter() - t
    res.put("sources.scan_s", scan_s)
    res.put("sources.scan_efficiency", n_gran * decode_s / (scan_s * run.cores))

    # plans: planning alone, then the aggregation over a parquet copy
    with tr.span("plan", "plans"):
        t = time.perf_counter()
        df = daily_grid(run.spark, run.spec, run.reader(), run.batch_catalog, END_DOY, SPILL_DOY)
        df._jdf.queryExecution().executedPlan()
        res.put("plans.plan_ms", (time.perf_counter() - t) * 1e3)
    paths = [str(fixtures.parquet_path(run.cache, run.w.layout, g)) for g in run.ids]
    with tr.span("agg_parquet", "plans"):
        t = time.perf_counter()
        daily_grid(run.spark, run.spec, run.spark.read.parquet(*paths), run.batch_catalog,
                   END_DOY, SPILL_DOY).write.format("noop").mode("overwrite").save()
        agg_s = time.perf_counter() - t
    res.put("plans.agg_s", agg_s)
    res.put("plans.agg_px_per_s", pixels / agg_s)

    # the other product type over the same granules, so every workload
    # reports every layer; a batch product is made twice, untraced for
    # its engine counters and traced for its sink spans
    if run.w.mode == "batch":
        batch_counters = main_counters
        _, stream_info = run.stream(True)
    else:
        stream_info = info
        with store.scope("other") as batch_counters:
            run.product(False)
        run.product(True)
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "shuffle_records",
              "executor_run_ms", "executor_cpu_ms", "gc_ms"):
        res.put(f"plans.{k}", batch_counters[k])
    res.put("sources.decode_amplification", batch_counters["scan_records"] / pixels)

    # sinks: spans of the last product, which is traced; write_s is the
    # rest of export_hdf5, whichever HDF5 writer it uses
    spans = {s["name"]: s["end"] - s["start"] for s in tr.spans
             if s["product"] == f"p{len(run.products) - 1}"}
    res.put("sinks.collect_s", spans["grid_to_arrays"])
    res.put("sinks.pack_s", spans["pack_grid"])
    res.put("sinks.write_s", spans["export_hdf5"] - spans["grid_to_arrays"] - spans["pack_grid"])
    res.put("sinks.bytes_written", run.products[-1].stat().st_size)

    _stream_metrics(res, stream_info)
    for layer, secs in tr.self_seconds().items():
        if layer in ("sources", "plans", "sinks", "streaming"):
            res.put(f"{layer}.self_s", secs)
    res.put("trace.spans", len(tr.spans))


def _stream_metrics(res: Result, info: dict) -> None:
    data = [p for p in info["progress"] if p["numInputRows"] > 0]
    warm = data[1:] or data

    def dur(key):
        return statistics.median([p["durationMs"].get(key, 0) for p in warm])

    res.put("streaming.batches", len(info["progress"]))
    res.put("streaming.first_batch_ms", data[0]["durationMs"]["triggerExecution"])
    res.put("streaming.batch_p50_ms", dur("triggerExecution"), len(warm))
    for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")):
        res.put(f"streaming.{name}", dur(key), len(warm))
    state = [p["stateOperators"][0] for p in warm]
    res.put("streaming.state_rows_total", data[-1]["stateOperators"][0]["numRowsTotal"])
    res.put("streaming.state_memory_bytes", data[-1]["stateOperators"][0]["memoryUsedBytes"])
    res.put("streaming.state_commit_ms",
            statistics.median([s["commitTimeMs"] for s in state]), len(state))
    res.put("streaming.granules_per_s", info["granules_per_s"])
