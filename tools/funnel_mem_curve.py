"""Memory scale curve for funnel matching: the collect_list rewrite vs
operators/sessions.funnel_steps (round 11, backs r60).

The claim under test: the obvious one-shuffle rewrite —
``groupBy(user).agg(collect_list(struct(ts, type)))`` then a per-user
Python scan — buffers a user's ENTIRE event history in aggregation
state, so one hot user (a bot, a load tester) grows the buffer
linearly and eventually OOMs its task with no spill path.
``funnel_steps`` keeps per-user state to ONE TIMESTAMP per step (k
filtered min-aggregations, map-side partial min), so memory stays flat
no matter how hot the user.  Locally the naive rewrite is actually
FASTER on uniform data (one shuffle vs k) — the curve exists because
wall time at sf0.1 is not the failure mode; state size is.

Each (mode, rows) cell runs in a FRESH SUBPROCESS with a 1 GiB driver
heap; every row belongs to ONE user (the hot-user worst case).  The
collect_list cell is EXPECTED to kill its JVM at the larger sizes —
that is the result, not an error.

Usage: python tools/funnel_mem_curve.py [rows ...]
Prints one JSON line; record the table in docs/SCALING.md.
"""

import json
import os
import subprocess
import sys

CHILD = r"""
import json, sys, time
rows = int(sys.argv[1]); mode = sys.argv[2]
sys.path.insert(0, ".")
from pyspark.sql import SparkSession, functions as F
from modis_aggregation_spark.observe import measure, plan_nodes
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.driver.memory", "1g")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .appName(f"fmem_{mode}_{rows}")
    .getOrCreate()
)
# ONE hot user; event types cycle so the funnel completes; strictly
# increasing synthetic timestamps
STEPS = ["signup", "view", "click", "purchase"]
df = spark.range(rows).select(
    F.lit(0).alias("user_id"),
    F.timestamp_micros(F.col("id") * 1000).alias("ts"),
    F.element_at(
        F.array(*[F.lit(s) for s in STEPS]), (F.col("id") % 4 + 1).cast("int")
    ).alias("event_type"),
)
with measure(spark, f"{mode}_{rows}") as m:
    t0 = time.perf_counter()
    if mode == "collect":
        idx = {s: i for i, s in enumerate(STEPS)}
        @F.udf("int")
        def match_depth(evs):
            stage, last = 0, None
            for t, et in sorted(evs, key=lambda e: e[0]):
                if stage >= 4:
                    break
                if idx.get(et) != stage:
                    continue
                if stage > 0 and t <= last:
                    continue
                last = t
                stage += 1
            return stage
        q = (
            df.groupBy("user_id")
            .agg(F.collect_list(F.struct("ts", "event_type")).alias("evs"))
            .select(match_depth("evs").alias("depth"))
        )
    else:
        from modis_aggregation_spark.operators.sessions import funnel_steps
        q = funnel_steps(df, STEPS)
    depth = q.collect()[0]["depth"]
    wall = time.perf_counter() - t0
assert depth == 4, depth
# ObjectHashAggregate's buffers live on the heap, outside execution memory
object_agg = any(n.getClass().getSimpleName() == "ObjectHashAggregateExec" for n in plan_nodes(q))
print("RESULT " + json.dumps({
    "depth": depth, "wall_sec": round(wall, 1),
    "peak_exec_mb": None if object_agg else round(m["peak_execution_memory_bytes"] / 1e6, 1),
    "spill_mem_mb": round(m["spill_memory_bytes"] / 1e6, 1),
    "spill_disk_mb": round(m["spill_disk_bytes"] / 1e6, 1),
}))
spark.stop()
"""


def run_cell(rows: int, mode: str) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", CHILD, str(rows), mode],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            d = json.loads(line[len("RESULT "):])
            d["status"] = "ok"
            return d
    err = (p.stderr or "")[-4000:]
    status = "oom" if ("OutOfMemoryError" in err or "SparkOutOfMemory" in err
                       or p.returncode != 0) else "failed"
    return {"status": status, "returncode": p.returncode,
            "err_tail": err.splitlines()[-3:] if err else []}


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [2_000_000, 8_000_000, 32_000_000]
    out = {}
    for rows in sizes:
        for mode in ("collect", "operator"):
            cell = run_cell(rows, mode)
            out[f"{mode}_{rows}"] = cell
            print(f"# {mode:8s} rows={rows:>10,d} -> {cell}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
