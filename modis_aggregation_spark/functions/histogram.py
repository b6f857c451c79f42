"""Histogram bucketing with NumPy edge semantics (quirk Q9).

The reference bins with ``np.histogram(valid, bins=edges)``
(``MODIS_Aggregation/aggregate_functions.py:257-263``): bins are half-open
``[e_i, e_{i+1})`` EXCEPT the last bin which is closed ``[e_{n-1}, e_n]``;
values outside ``[e_0, e_n]`` are silently dropped (they do not land in
under/overflow buckets the way SQL ``width_bucket`` would put them).

``hist_bucket`` builds a single Catalyst CASE/arithmetic expression that
returns the 0-based bucket index, or NULL for out-of-range / NULL input —
NULL rows then fall out of the downstream ``groupBy(cell, bucket).count()``
exactly like NumPy's silent drop.

For uniform edges the bucket is computed arithmetically (one floor + clamp,
no CASE chain); for irregular edges a folded CASE chain is emitted. Both are
pure JVM expressions — constant-folded, codegen'd, no UDF.

``hist_bucket_np`` is the same bucket over a NumPy array, for the
per-granule accumulator of ``plans/pipeline.daily_grid``.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _is_uniform(edges: Sequence[float], rel_tol: float = 1e-12) -> bool:
    if len(edges) < 3:
        return True
    steps = [edges[i + 1] - edges[i] for i in range(len(edges) - 1)]
    lo, hi = min(steps), max(steps)
    # tolerance relative to the STEP SIZE only — flooring the scale at 1.0
    # (pre-round-4 bug, found by hypothesis) classified ANY sub-1e-12-scale
    # edge set as uniform, sending genuinely irregular tiny-magnitude edges
    # down the arithmetic path
    return hi - lo <= rel_tol * max(abs(hi), abs(lo))


def hist_bucket(value: Column, edges: Sequence[float]) -> Column:
    """0-based NumPy-convention bucket index; NULL if out of range or NULL."""
    if len(edges) < 2:
        raise ValueError("need at least 2 bin edges")
    e0, eN = float(edges[0]), float(edges[-1])
    nbins = len(edges) - 1

    if _is_uniform(edges):
        width = (eN - e0) / nbins
        raw = F.floor((value - F.lit(e0)) / F.lit(width)).cast("int")
        # clamp (value == eN maps to nbins), then a ±1 correction against
        # the REAL edge values: floor((v−e0)/width) can land one bucket
        # low/high when v sits exactly on an interior edge whose quotient
        # rounds just below an integer — np.histogram compares against the
        # actual edges (searchsorted), so we must too
        arr = F.array(*[F.lit(float(e)) for e in edges])
        raw = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
        above = F.element_at(arr, raw + 2)   # edges[raw+1] (1-based)
        below = F.element_at(arr, raw + 1)   # edges[raw]
        bucket = (
            F.when(value >= above, F.least(raw + 1, F.lit(nbins - 1)))
            .when(value < below, raw - 1)
            .otherwise(raw)
        )
    else:
        # CASE chain over the irregular interior edges; last bin closed below
        bucket = F.lit(nbins - 1)
        for i in range(nbins - 2, -1, -1):
            bucket = F.when(value < F.lit(float(edges[i + 1])), F.lit(i)).otherwise(bucket)

    in_range = (value >= F.lit(e0)) & (value <= F.lit(eN))
    return F.when(in_range, bucket).cast("int")


def hist_bucket_np(values: np.ndarray, edges: Sequence[float]) -> np.ndarray:
    """``hist_bucket`` over a float array: the 0-based bucket index, or -1
    where the value is NaN (a NULL) or out of range."""
    e = np.asarray(edges, dtype=np.float64)
    nbins = len(e) - 1
    b = np.searchsorted(e, values, side="right") - 1  # NaN sorts past e[-1]
    b[values == e[-1]] = nbins - 1  # the last bin is closed
    b[b >= nbins] = -1
    return b


def hist_bucket_sql(expr: str, edges: Sequence[float]) -> str:
    """The same bucketing as ANSI SQL text (for oracle queries / spark.sql).

    Emits a CASE expression implementing half-open bins with a closed last
    bin and NULL for out-of-range, over the SQL expression ``expr``.
    """
    if len(edges) < 2:
        raise ValueError("need at least 2 bin edges")
    nbins = len(edges) - 1
    e0, eN = repr(float(edges[0])), repr(float(edges[-1]))
    whens = "".join(
        f" WHEN {expr} < {float(edges[i + 1])!r} THEN {i}" for i in range(nbins - 1)
    )
    return (
        f"CASE WHEN {expr} IS NULL OR {expr} < {e0} OR {expr} > {eN} THEN NULL"
        f"{whens} ELSE {nbins - 1} END"
    )
