"""Temporal joins: as-of (nearest-prior/next match) and banded range join.

Neither exists in the reference (its pairing is filename-keyed equality,
``MODIS_Aggregation/aggregate_functions.py:96-109``) or in stock Spark's
join menu; both are staples of event/feature pipelines (point-in-time
feature lookup, click→outcome attribution) and both degenerate into a
cartesian-per-key theta join if written naively. The implementations here
are the scale shapes:

- ``asof_join``: the union-marker + running ``last()`` window rewrite.
  ONE shuffle on the key column, no join at all — both sides are unioned,
  sorted per key by (ts, side), and the right payload is carried forward
  (or backward) by an ignore-nulls window. O(n log n) per key, resistant
  to the per-key row explosion a ``l.ts >= r.ts`` theta join produces.
- ``range_join_binned``: time-binned equi-join. Each left row probes only
  the ceil(span/bin)+1 bins its window can overlap, so the join is a plain
  hash equi-join on (key, bin) followed by an exact filter — never a
  BroadcastNestedLoopJoin. Bin width defaults to the window span, giving
  at most 2 probe bins per left row.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modis_aggregation_spark.functions.materialize import (
    loop_frame,
    shared_frame,
)

_PAYLOAD = "__asof_payload"
_SIDE = "__asof_side"
_BIN = "__range_bin"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    right_cols: Sequence[str] = ("value",),
    direction: str = "backward",
    tolerance_sec: float | None = None,
    suffix: str = "_r",
    tie_break_cols: Sequence[str] = (),
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` (``backward``; ``forward`` = earliest with
    ``right.ts >= left.ts``) sharing the key column(s). Unmatched left
    rows keep NULLs (left-join semantics).

    Ties: an equal-timestamp right row DOES match (>= / <=, like DuckDB's
    ASOF). Among right rows sharing the extreme timestamp the window picks
    one nondeterministically UNLESS ``tie_break_cols`` names right-side
    columns that make the order total: rows tie-sort ASCENDING on them,
    so ``backward`` (running last) resolves to the LARGEST tie-break and
    ``forward`` (running first) to the SMALLEST. Passing a unique
    tie-break is the scale shape for deterministic payloads — it replaces
    the pre-aggregate-per-(key, ts) workaround, which cost a full extra
    shuffle of the right side (round 12; the tie columns only widen the
    per-key sort, no new exchange).

    Output: all left columns, then ``<ts_col><suffix>`` and
    ``<c><suffix>`` for each of ``right_cols``.

    Rows with NULL ``ts_col`` never match and are dropped from the right
    side (they would sort first and pollute the running last()).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)

    payload = F.struct(F.col(ts_col).alias(ts_col), *[F.col(c) for c in right_cols])
    # side sorts the right row BEFORE the left at equal ts for backward
    # (so last() sees it) and AFTER for forward (so first() sees it).
    r_side = 0 if direction == "backward" else 2
    tbs = [f"__asof_tb{i}" for i in range(len(tie_break_cols))]
    r = (
        right.where(F.col(ts_col).isNotNull())
        .select(
            *keys,
            ts_col,
            payload.alias(_PAYLOAD),
            *[F.col(c).alias(a) for c, a in zip(tie_break_cols, tbs)],
        )
        .withColumn(_SIDE, F.lit(r_side))
    )
    l = left.withColumn(_PAYLOAD, F.lit(None).cast(r.schema[_PAYLOAD].dataType)).withColumn(
        _SIDE, F.lit(1)
    )
    r_tb_types = {a: dict(r.dtypes)[a] for a in tbs}
    l = l.withColumns(
        {a: F.lit(None).cast(r_tb_types[a]) for a in tbs}
    ) if tbs else l
    unioned = l.select(*left.columns, _PAYLOAD, _SIDE, *tbs).unionByName(
        r.select(
            *keys,
            *[F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c)
              for c in left.columns if c not in keys and c != ts_col],
            ts_col,
            _PAYLOAD,
            _SIDE,
            *tbs,
        ).select(*left.columns, _PAYLOAD, _SIDE, *tbs)
    )

    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), F.col(_SIDE), *[F.col(a) for a in tbs]
    )
    if direction == "backward":
        frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carried = F.last(F.col(_PAYLOAD), ignorenulls=True).over(frame)
    else:
        # running last() over the FULLY REVERSED order instead of
        # first() over a [current, unboundedFollowing] frame: Spark
        # evaluates shrinking frames by re-aggregating the remaining
        # rows for EVERY row — O(rows²) per key (round 13, measured
        # 2.5x on the interpolation twin of this pattern).  Reversing
        # every sort key makes the growing frame select the identical
        # row: the first non-null at-or-after current in (ts, side, tb)
        # ascending IS the last non-null at-or-before current in the
        # reversed total order (same tie class when the order is not
        # total; desc NULLS LAST mirrors asc NULLS FIRST).
        w_rev = Window.partitionBy(*keys).orderBy(
            F.col(ts_col).desc(), F.col(_SIDE).desc(),
            *[F.col(a).desc() for a in tbs]
        )
        frame = w_rev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carried = F.last(F.col(_PAYLOAD), ignorenulls=True).over(frame)

    matched = (
        unioned.withColumn(_PAYLOAD, carried)
        .where(F.col(_SIDE) == 1)
        .drop(_SIDE)
    )
    if tolerance_sec is not None:
        gap = F.abs(
            F.col(ts_col).cast("double") - F.col(_PAYLOAD)[ts_col].cast("double")
        )
        matched = matched.withColumn(
            _PAYLOAD, F.when(gap <= float(tolerance_sec), F.col(_PAYLOAD))
        )
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col(_PAYLOAD)[ts_col].alias(f"{ts_col}{suffix}"))
    out_cols.extend(F.col(_PAYLOAD)[c].alias(f"{c}{suffix}") for c in right_cols)
    return matched.select(*out_cols)


def _epoch_us(c: Column) -> Column:
    # cast tolerates TIMESTAMP_NTZ inputs (raw parquet without the repo's
    # session normalization); NTZ is interpreted in the session time zone
    return F.unix_micros(c.cast("timestamp"))


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    lower_sec: float = 0.0,
    upper_sec: float = 300.0,
    bin_sec: float | None = None,
) -> DataFrame:
    """All (left, right) pairs sharing the key with
    ``lower_sec <= right.ts - left.ts <= upper_sec`` (bounds inclusive;
    ``lower_sec`` may be negative for a window straddling the left event).

    Plan shape: right rows land in bin floor(ts/bin); each left row is
    exploded to the bins its [ts+lower, ts+upper] window overlaps
    (``sequence`` over bin ids — 2 bins when ``bin_sec`` is the default
    window span). The join is then a hash equi-join on (key, bin) plus an
    exact microsecond filter. Each qualifying pair appears exactly once:
    a right row occupies exactly one bin.

    Columns are suffixed ``_l`` / ``_r`` apart from the key column(s).
    """
    if upper_sec < lower_sec:
        raise ValueError("upper_sec must be >= lower_sec")
    keys = [on] if isinstance(on, str) else list(on)
    span_us = int(round((upper_sec - lower_sec) * 1e6))
    lower_us = int(round(lower_sec * 1e6))
    upper_us = int(round(upper_sec * 1e6))
    bin_us = int(round(bin_sec * 1e6)) if bin_sec is not None else max(span_us, 1)

    l_us = _epoch_us(F.col(f"{ts_col}_l"))
    lo_bin = F.floor((l_us + F.lit(lower_us)) / F.lit(bin_us))
    hi_bin = F.floor((l_us + F.lit(upper_us)) / F.lit(bin_us))
    lhs = (
        left.where(F.col(ts_col).isNotNull())
        .select(
            *keys,
            *[F.col(c).alias(f"{c}_l") for c in left.columns if c not in keys],
        )
        .withColumn(_BIN, F.explode_outer(F.sequence(lo_bin, hi_bin)))
        .filter(F.col(_BIN).isNotNull())
    )
    rhs = (
        right.where(F.col(ts_col).isNotNull())
        .select(
            *keys,
            *[F.col(c).alias(f"{c}_r") for c in right.columns if c not in keys],
        )
        .withColumn(_BIN, F.floor(_epoch_us(F.col(f"{ts_col}_r")) / F.lit(bin_us)))
    )
    delta = _epoch_us(F.col(f"{ts_col}_r")) - _epoch_us(F.col(f"{ts_col}_l"))
    return (
        lhs.join(rhs, on=[*keys, _BIN])
        .where((delta >= lower_us) & (delta <= upper_us))
        .drop(_BIN)
    )


def ewma(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    alpha: float = 0.3,
    engine: str = "sql",
) -> DataFrame:
    """Per-key exponentially-weighted moving average (adjusted form).

    ``ewma_i = Σ_{j≤i} x_j·β^(i−j) / Σ_{j≤i} β^(i−j)`` with ``β = 1−α``
    (pandas ``ewm(alpha).mean()`` with ``adjust=True``). Linear work per
    key via the recurrences ``num_i = β·num_{i−1} + x_i`` and
    ``den_i = β·den_{i−1} + 1`` (NOT the geometric closed form
    ``(1−β^i)/α``, whose 1-ulp error at i=1 breaks the exact
    ``ewma_1 == x_1`` identity); β ≤ 1 means state only decays — no
    overflow for arbitrarily long series.

    Two engines, same semantics:

    - ``engine="sql"`` (default): one hash shuffle groups each key's
      series, ``sort_array`` orders it by timestamp, then a two-level
      chunked scan evaluates the recurrence: the series splits into
      chunks of ``B=64``, each chunk folds its local recurrence
      (appends bounded by B, so array-copy cost is O(n·B/2), not the
      O(n²/2) a single whole-series append-fold would pay), and a
      carry fold over the ≤n/B chunk end-states stitches chunks with
      ``S = β^r·carry + local_r``. O(n) arithmetic, O(n·B) copies —
      a 50k-row key runs in ~1s, a million-row key in tens of seconds.
    - ``engine="pandas"``: grouped ``applyInPandas`` running the same
      recurrence vectorized in C — truly O(n) time and memory per
      key. Use for hot keys with 10⁶+ observations (one device/user
      emitting millions of events at 100 TB).
    - ``engine="partitioned"``: removes BOTH other engines' single-task-
      per-key ceiling (each materializes a key's whole series in one
      task). Range-partition on (key, ts, value) splits a hot key across
      partitions; each partition folds its segment's local recurrence
      (vectorized two-level scan inside ``mapInPandas``), a tiny
      end-state aggregation + per-key sequential carry fold computes
      each segment's prefix state, and a broadcast join stitches
      ``state_i = β^r·prefix + local_r`` per row. A 10⁹-row key becomes
      ~n/partitions work per task with an O(#segments) carry — no task
      ever holds the series. Float stitching differs from the
      sequential recurrence in the last ulps (use relative tolerance
      ~1e-9 when comparing engines). The carry table
      (≤ #keys × #partitions rows) is broadcast — this engine targets
      few-hot-keys regimes; use sql/pandas for many-small-keys
      workloads.

    Returns one row per NON-NULL observation (rows with a NULL timestamp
    or value are dropped before positioning — the NULL-skipping
    convention every aggregate in this repo follows, and identical
    across BOTH engines): ``(key, pos, ts, value, ewma)`` with ``pos``
    1-based in ts order.
    No counterpart in the reference (its temporal axis is the
    file-per-granule catalog, ``aggregate_functions.py:96-109``).
    """
    beta = 1.0 - alpha
    if engine == "pandas":
        return _ewma_pandas(df, value_col, ts_col, key_col, alpha)
    if engine == "partitioned":
        return _ewma_partitioned(df, value_col, ts_col, key_col, alpha)
    if engine != "sql":
        raise ValueError(f"unknown ewma engine: {engine!r}")
    series = (
        df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(ts_col).alias("ts"),
                                        F.col(value_col).alias("value")))
            ).alias("__s")
        )
    )
    # Two-level chunked scan. A single whole-series append-fold would be
    # O(n²/2) in array copies (the append reallocates the accumulator each
    # step); chunking bounds every append by B. Recurrence expressions
    # repeat between state fields and appends — Catalyst does not CSE into
    # lambdas — which costs a small constant factor, still linear.
    #
    # CRITICAL plan shape: every multiply-referenced array is bound as a
    # LAMBDA VARIABLE via transform(array(x), lambda v: ...)[1]. A plain
    # Python variable splices its expression tree at every reference and
    # Catalyst re-evaluates it there — referencing the O(n) `__s.value`
    # extraction inside the per-chunk lambda made the scan O(n²/B)
    # (observed: 5s at 50k rows but 250s at 500k).
    B = 64
    b = F.lit(beta)
    one = F.lit(1.0)
    zero_state = F.struct(F.lit(0.0).alias("num"), F.lit(0.0).alias("den"))
    empty_states = F.slice(F.array(zero_state), 1, 0)

    def _locs(v):
        # Per chunk: local recurrence states (num_r, den_r) starting from
        # (0, 0); appends bounded by B.
        chunks = F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size(v) / F.lit(B)).cast("int") - 1
            ),
            lambda c: F.slice(v, c * B + 1, B),
        )
        return F.transform(
            chunks,
            lambda ch: F.aggregate(
                ch,
                F.struct(
                    F.lit(0.0).alias("num"),
                    F.lit(0.0).alias("den"),
                    empty_states.alias("sts"),
                ),
                lambda acc, x: F.struct(
                    (acc["num"] * b + x).alias("num"),
                    (acc["den"] * b + one).alias("den"),
                    F.concat(
                        acc["sts"],
                        F.array(
                            F.struct(
                                (acc["num"] * b + x).alias("num"),
                                (acc["den"] * b + one).alias("den"),
                            )
                        ),
                    ).alias("sts"),
                ),
                lambda acc: acc["sts"],
            ),
        )

    def _carries(locs):
        # Carry fold over chunk end-states: the full-prefix state BEFORE
        # chunk c is P_c = β^{len_{c-1}}·P_{c-1} + L_{c-1}. ≤ n/B steps.
        return F.aggregate(
            locs,
            F.struct(
                F.lit(0.0).alias("num"),
                F.lit(0.0).alias("den"),
                empty_states.alias("ps"),
            ),
            lambda acc, loc: F.struct(
                (
                    F.pow(b, F.size(loc).cast("double")) * acc["num"]
                    + F.element_at(loc, -1)["num"]
                ).alias("num"),
                (
                    F.pow(b, F.size(loc).cast("double")) * acc["den"]
                    + F.element_at(loc, -1)["den"]
                ).alias("den"),
                F.concat(
                    acc["ps"],
                    F.array(F.struct(acc["num"].alias("num"),
                                     acc["den"].alias("den"))),
                ).alias("ps"),
            ),
            lambda acc: acc["ps"],
        )

    def _stitch(locs):
        # Position r (1-based) inside chunk c has full-prefix state
        # β^r·P_c + local_r; ewma = num/den of that state.
        return F.flatten(
            F.zip_with(
                locs,
                _carries(locs),
                lambda loc, p: F.zip_with(
                    loc,
                    F.sequence(F.lit(1), F.size(loc)),
                    lambda st, r: (
                        (st["num"] + F.pow(b, r.cast("double")) * p["num"])
                        / (st["den"] + F.pow(b, r.cast("double")) * p["den"])
                    ),
                ),
            )
        )

    ews = F.element_at(
        F.transform(
            F.array(F.col("__s.value")),
            lambda v: F.element_at(F.transform(F.array(_locs(v)), _stitch), 1),
        ),
        1,
    )
    staged = series.withColumn("__ews", ews)

    # posexplode(arrays_zip(...)) rather than element_at lookups inside a
    # transform lambda: lambda-internal column references get inlined by
    # CollapseProject and re-evaluate the ENTIRE chunked scan per element
    # (observed 44× blowup at 500k rows); direct generator arguments are
    # evaluated once per row.
    out = staged.select(
        "key",
        F.posexplode(F.arrays_zip("__s", "__ews")).alias("__p", "__r"),
    )
    return out.select(
        "key",
        (F.col("__p") + 1).cast("long").alias("pos"),
        F.col("__r.__s.ts").alias("ts"),
        F.col("__r.__s.value").alias("value"),
        F.col("__r.__ews").alias("ewma"),
    )


def _ewma_pandas(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    alpha: float,
) -> DataFrame:
    """Arrow-batched grouped EWMA: pandas ``ewm(alpha, adjust=True)`` is
    the C-speed linear recurrence; one shuffle on the key, O(n) per key."""
    src = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    ts_dtype = dict(src.dtypes)["ts"]
    schema = (
        f"key {dict(src.dtypes)['key']}, pos long, ts {ts_dtype}, "
        "value double, ewma double"
    )

    def _one_key(pdf):
        pdf = pdf.sort_values(["ts", "value"], kind="mergesort").reset_index(
            drop=True
        )
        pdf["pos"] = pdf.index + 1
        pdf["ewma"] = pdf["value"].ewm(alpha=alpha, adjust=True).mean()
        return pdf[["key", "pos", "ts", "value", "ewma"]]

    return src.groupBy("key").applyInPandas(_one_key, schema=schema)


def _ewma_segment_scan(x, num0: float, den0: float, beta: float):
    """Vectorized two-level recurrence over one contiguous segment chunk:
    64-wide chunks scanned ACROSS (64 vector steps for the chunk-local
    recurrences), a sequential carry over chunk end-states, and the
    ``β^r·prefix + local`` stitch. Returns (num_r, den_r) arrays relative
    to the (num0, den0) starting state — O(n) time, O(n) memory, no
    per-element Python loop."""
    import numpy as np

    B = 64
    n = len(x)
    m = -(-n // B)
    xp = np.zeros(m * B)
    xp[:n] = x
    X = xp.reshape(m, B)
    ln = np.empty((m, B))
    ld = np.empty((m, B))
    num = np.zeros(m)
    den = np.zeros(m)
    for r in range(B):
        num = beta * num + X[:, r]
        den = beta * den + 1.0
        ln[:, r] = num
        ld[:, r] = den
    p_num = np.empty(m)
    p_den = np.empty(m)
    pn, pd_ = num0, den0
    bB = beta**B
    for c in range(m):
        p_num[c] = pn
        p_den[c] = pd_
        pn = bB * pn + ln[c, B - 1]
        pd_ = bB * pd_ + ld[c, B - 1]
    r_pow = beta ** np.arange(1, B + 1, dtype=np.float64)
    full_num = (ln + r_pow[None, :] * p_num[:, None]).reshape(-1)[:n]
    full_den = (ld + r_pow[None, :] * p_den[:, None]).reshape(-1)[:n]
    return full_num, full_den


def _ewma_partitioned(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    alpha: float,
    num_partitions: int | None = None,
) -> DataFrame:
    """The distributed prefix-scan EWMA engine (see ``ewma`` docstring).

    Three stages, none of which materializes a key's full series:

    1. ``repartitionByRange(key, ts, value)`` + ``sortWithinPartitions``
       splits every key into ordered, contiguous segments (a hot key
       spans many partitions); ``mapInPandas`` folds each segment's
       LOCAL recurrence (state carried across Arrow batches inside the
       partition) and emits per-row segment-relative (lidx, lnum, lden).
    2. A map-side-combined groupBy((key, pid)) reduces each segment to
       its end-state — ≤ #keys + #partitions skinny rows — and a grouped
       fold per key (≤ #partitions elements) turns end-states into each
       segment's PREFIX state and global row offset.
    3. The prefix table broadcasts back onto the stage-1 rows:
       ``ewma = (lnum + β^lidx·pnum) / (lden + β^lidx·pden)``,
       ``pos = poffset + lidx``.
    """
    import numpy as np
    import pandas as pd

    beta = 1.0 - alpha
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    src = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    key_t = dict(src.dtypes)["key"]
    ts_t = dict(src.dtypes)["ts"]
    part = (
        src.repartitionByRange(num_partitions, "key", "ts", "value")
        .sortWithinPartitions("key", "ts", "value")
        .withColumn("pid", F.spark_partition_id())
    )

    local_schema = (
        f"key {key_t}, pid int, lidx long, ts {ts_t}, value double, "
        "lnum double, lden double"
    )

    def _local_scan(batches):
        state: dict = {"key": None, "num": 0.0, "den": 0.0, "idx": 0}
        for pdf in batches:
            if pdf.empty:
                continue
            n_rows = len(pdf)
            keys = pdf["key"].to_numpy()
            values = pdf["value"].to_numpy()
            # contiguous key runs (the partition is sorted by key) —
            # vectorized boundary detection; the previous per-row
            # Python .iat comparison loop was O(rows) interpreter work
            # per batch (round 12)
            bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            run_starts = np.concatenate(([0], bounds, [n_rows]))
            lidx = np.empty(n_rows, dtype=np.int64)
            lnum = np.empty(n_rows, dtype=np.float64)
            lden = np.empty(n_rows, dtype=np.float64)
            for s, e in zip(run_starts[:-1], run_starts[1:]):
                k = keys[s]
                if k != state["key"]:
                    state.update(key=k, num=0.0, den=0.0, idx=0)
                nums, dens = _ewma_segment_scan(
                    values[s:e], state["num"], state["den"], beta
                )
                n = e - s
                lidx[s:e] = state["idx"] + 1 + np.arange(n, dtype=np.int64)
                lnum[s:e] = nums
                lden[s:e] = dens
                state.update(
                    num=float(nums[-1]),
                    den=float(dens[-1]),
                    idx=state["idx"] + n,
                )
            yield pd.DataFrame(
                {
                    "key": keys,
                    "pid": pdf["pid"].to_numpy(),
                    "lidx": lidx,
                    "ts": pdf["ts"].to_numpy(),
                    "value": values,
                    "lnum": lnum,
                    "lden": lden,
                }
            )

    # MATERIALIZED ONCE, LINEAGE TRUNCATED: the scan feeds two consumers
    # (the end-state aggregation on the broadcast side and the final
    # stitch join), and the range partitioner's sampled boundaries —
    # hence pid assignment — are NOT stable across re-executions of the
    # subtree. loop_frame (eager, lineage cut) computes the scan exactly
    # once and makes a divergent recompute IMPOSSIBLE (a lost local
    # block fails the job loudly instead of silently re-sampling;
    # ``reliable`` mode re-reads the checkpoint); blocks are released
    # by the ContextCleaner when the result is garbage-collected, so
    # repeated calls don't accumulate executor storage.
    local = loop_frame(part.mapInPandas(_local_scan, local_schema))

    # segment end-states: one skinny row per (key, pid); partial (map-side)
    # aggregation keeps the shuffle at ≤ #keys + #partitions rows
    ends = local.groupBy("key", "pid").agg(
        F.max("lidx").alias("cnt"),
        F.max_by("lnum", "lidx").alias("enum"),
        F.max_by("lden", "lidx").alias("eden"),
    )

    # per-key carry fold — pure codegen (round 12).  This was an
    # applyInPandas calling a Python function once per KEY: ~3 ms of
    # pandas-frame construction per group × #keys dominated the whole
    # operator (measured 5.4 s of the 7 s slot for 1500 keys at sf0.1),
    # and the broadcast below re-executed it.  Each key has ≤
    # #partitions segments, so the exclusive prefix scan is a bounded
    # HOF fold over one collected struct array: sort_array orders
    # segments by pid (unique per key — deterministic), the aggregate
    # appends the PRE-update state per segment (appends bounded by
    # #partitions), and the same `decay·prefix + end` recurrence runs in
    # the JVM.  explode_outer + isNotNull per CLAUDE.md rule 2b.
    segs = ends.groupBy("key").agg(
        F.sort_array(
            F.collect_list(F.struct("pid", "cnt", "enum", "eden"))
        ).alias("__segs")
    )
    empty_prefix = F.slice(
        F.array(
            F.struct(
                F.lit(0).cast("int").alias("pid"),
                F.lit(0.0).alias("pnum"),
                F.lit(0.0).alias("pden"),
                F.lit(0).cast("long").alias("poffset"),
            )
        ),
        1,
        0,
    )
    carry0 = F.struct(
        F.lit(0.0).alias("pn"),
        F.lit(0.0).alias("pd"),
        F.lit(0).cast("long").alias("off"),
        empty_prefix.alias("out"),
    )
    folded = F.aggregate(
        F.col("__segs"),
        carry0,
        lambda acc, s: F.struct(
            (
                F.pow(F.lit(beta), s["cnt"].cast("double")) * acc["pn"]
                + s["enum"]
            ).alias("pn"),
            (
                F.pow(F.lit(beta), s["cnt"].cast("double")) * acc["pd"]
                + s["eden"]
            ).alias("pd"),
            (acc["off"] + s["cnt"]).alias("off"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        s["pid"].alias("pid"),
                        acc["pn"].alias("pnum"),
                        acc["pd"].alias("pden"),
                        acc["off"].alias("poffset"),
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: acc["out"],
    )
    prefixes = (
        segs.select("key", F.explode_outer(folded).alias("__p"))
        .filter(F.col("__p").isNotNull())
        .select(
            "key", "__p.pid", "__p.pnum", "__p.pden", "__p.poffset"
        )
    )

    decay = F.pow(F.lit(beta), F.col("lidx").cast("double"))
    return (
        local.join(F.broadcast(prefixes), ["key", "pid"])
        .select(
            "key",
            (F.col("poffset") + F.col("lidx")).cast("long").alias("pos"),
            "ts",
            "value",
            (
                (F.col("lnum") + decay * F.col("pnum"))
                / (F.col("lden") + decay * F.col("pden"))
            ).alias("ewma"),
        )
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    key_col: str,
    threshold: float = 2.0,
) -> DataFrame:
    """Per-group z-score outlier flagging: ``|x − μ_k| / σ_k > threshold``.

    Two-phase shape: a partial+final hash agg computes (μ, σ_pop) per key
    (≤ |keys| rows), which joins back to the events — Spark broadcasts it
    when small, AQE decides otherwise; no window over the full table, so
    no per-key sort and no single-task hot key. Rows in groups with σ = 0
    or a single observation are never outliers (z is NULL there).

    Returns the input columns plus ``mean_v``, ``std_v``, ``z`` for the
    flagged rows only.
    """
    stats = df.groupBy(F.col(key_col)).agg(
        F.avg(F.col(value_col)).alias("mean_v"),
        F.stddev_pop(F.col(value_col)).alias("std_v"),
    )
    z = (F.col(value_col) - F.col("mean_v")) / F.nullif(F.col("std_v"), F.lit(0.0))
    return (
        df.join(stats, key_col)
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > threshold)
    )


def resample(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    bucket_seconds: int = 3600,
    gap_fill: bool = True,
) -> DataFrame:
    """Time-bucket resampling with per-key gap filling — the hypertable
    rollup primitive (``time_bucket`` + ``generate_series`` in timescale
    dialects).

    One hash aggregation produces (key, bucket, avg/count); gap filling
    generates each key's full bucket range from its own min/max (a
    ``sequence``+``explode`` over the per-key agg — rows generated are
    O(span/bucket) per key, no global calendar scan) and left-joins the
    observed buckets back. Missing buckets carry NULL ``avg_v`` /
    ``n = 0``.

    Scale: both shuffles are keyed on (key[, bucket]) — skinny aggregate
    rows, never raw events; the generated side is derived from the ≤|keys|
    row summary. Reference has no time axis beyond the granule catalog
    (aggregate_functions.py:96-109).
    """
    bucket = F.floor(
        _epoch_us(F.col(ts_col)) / F.lit(int(bucket_seconds) * 1_000_000)
    ).alias("bucket")
    agg = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"), bucket)
        .agg(
            F.avg(F.col(value_col)).alias("avg_v"),
            F.count(F.col(value_col)).alias("n"),
        )
    )
    if not gap_fill:
        return agg
    # shared materialization (round 12): ``agg`` feeds the span summary
    # AND the gap-fill join-back, and exchange reuse does not deduplicate
    # the two references — the executed plan scanned + aggregated the raw
    # events twice. Materializing the skinny (key, bucket, avg, n) rows
    # (bounded by keys × span/bucket, never event count) runs the event
    # pass once.  Lazy since round 13 (was eager): the span summary is
    # the first consumer and materializes it inside its own job.
    agg = shared_frame(agg)
    spans = agg.groupBy("key").agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    # explode_outer + null-filter: avoids the optimizer's inferred
    # size>0 filter re-allocating the gap-fill sequence per row (round 8)
    grid = spans.select(
        "key",
        F.explode_outer(
            F.sequence(F.col("__lo"), F.col("__hi"))
        ).alias("bucket"),
    ).filter(F.col("bucket").isNotNull())
    return grid.join(agg, ["key", "bucket"], "left").select(
        "key", "bucket", "avg_v", F.coalesce("n", F.lit(0)).alias("n")
    )


def interpolate_linear(
    resampled: DataFrame,
    key_col: str = "key",
    bucket_col: str = "bucket",
    value_col: str = "avg_v",
) -> DataFrame:
    """Linear interpolation of NULL buckets between observed neighbors.

    Two ignore-nulls window passes per key (last-before carrying value AND
    bucket forward, last-after in REVERSED bucket order carrying them
    backward), then the closed form
    ``prev + (next − prev)·(t − t_prev)/(t_next − t_prev)``. Buckets
    before the first / after the last observation stay NULL (no
    extrapolation). Window state is one row — safe for arbitrarily long
    keys. Adds ``interp_v``; observed buckets keep their value.

    The backward carry runs as ``last()`` over a DESCENDING growing
    frame, not ``first()`` over [current, unboundedFollowing] (round
    13): Spark evaluates shrinking frames by re-aggregating the
    remaining rows for every row — O(buckets²) per key, measured
    1.07 → 0.42 s on the x48 interp stage at sf0.1 (selection
    identical — (key, bucket) is unique, so the reversed order picks
    the same row; exceptAll 0/0 both directions).
    """
    w_back = (
        Window.partitionBy(key_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(key_col)
        .orderBy(F.col(bucket_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col(value_col)
    observed_b = F.when(v.isNotNull(), F.col(bucket_col))
    prev_v = F.last(v, ignorenulls=True).over(w_back)
    prev_b = F.last(observed_b, ignorenulls=True).over(w_back)
    next_v = F.last(v, ignorenulls=True).over(w_fwd)
    next_b = F.last(observed_b, ignorenulls=True).over(w_fwd)
    frac = (F.col(bucket_col) - prev_b) / (next_b - prev_b)
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        )
    )
    return resampled.withColumn("interp_v", interp)
