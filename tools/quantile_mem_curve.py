"""Memory scale curve for exact percentiles: builtin ``percentile()``
vs operators/quantiles.group_percentiles (round-10 VERDICT item 2).

The claim under test: over NEAR-UNIQUE DOUBLES the builtin's
ObjectHashAggregate buffers every distinct value of a group in an
in-memory OpenHashMap — memory grows linearly with rows-per-group and
a hot group eventually OOMs its task, with no spill path.  The
order-statistics rewrite rides WindowExec's spillable external sorter:
memory stays bounded (spill bytes grow instead) and the job completes
at any rows-per-group.

Each (mode, rows) cell runs in a FRESH SUBPROCESS with a 1 GiB driver
heap (the constraint has to be set before the JVM launches, and the
builtin is EXPECTED to kill its JVM at the larger sizes — that's the
result, not an error).  One hot group holds every row: the worst case
for both paths, and exactly the skew shape that breaks the builtin.

Usage: python tools/quantile_mem_curve.py [rows ...]   (default sizes)
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
    .appName(f"qmem_{mode}_{rows}")
    .getOrCreate()
)
# one hot group; near-unique doubles (xxhash64 over the id)
df = spark.range(rows).select(
    F.lit(0).alias("g"),
    (F.abs(F.xxhash64("id")) % F.lit(10**12)).cast("double").alias("v"),
)
with measure(spark, f"{mode}_{rows}") as m:
    t0 = time.perf_counter()
    if mode == "builtin":
        q = df.groupBy("g").agg(F.expr("percentile(v, 0.9)").alias("p90"))
    else:
        from modis_aggregation_spark.operators.quantiles import group_percentiles
        q = group_percentiles(df, ["g"], "v", {"p90": 0.9})
    out = q.collect()
    wall = time.perf_counter() - t0
# ObjectHashAggregate's buffers live on the heap, outside execution memory
object_agg = any(n.getClass().getSimpleName() == "ObjectHashAggregateExec" for n in plan_nodes(q))
print("RESULT " + json.dumps({
    "p90": out[0]["p90"], "wall_sec": round(wall, 1),
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
    sizes = [int(a) for a in sys.argv[1:]] or [4_000_000, 16_000_000, 48_000_000]
    out = {}
    for rows in sizes:
        for mode in ("builtin", "rewrite"):
            cell = run_cell(rows, mode)
            out[f"{mode}_{rows}"] = cell
            print(f"# {mode:8s} rows={rows:>10,d} -> {cell}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
