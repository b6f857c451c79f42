"""Graph analytics over edge tables: fixed-iteration PageRank and degree
statistics. Complements ``dedup.connected_components`` (the other iterative
graph operator) — together they cover the cluster/score steps a similarity
graph needs (near-dup clusters, centrality-weighted canonical selection).

Scale shape: every iteration is one equi-join (edges ⋈ ranks, shuffled on
the node key) plus one aggregation — O(E) shuffle bytes per round, no
driver-side state beyond the loop counter. Lineage is cut per round with
``materialize.loop_frame`` so the plan stays flat (the pattern proven by
``connected_components``), and each round's table is released once the
next has landed; a fixed iteration count keeps the operator
oracle-checkable (the unrolled form is plain SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modis_aggregation_spark.functions.materialize import (
    loop_frame,
    release,
    shared_frame,
)


def degrees(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node (out_degree, in_degree) over a directed edge table."""
    out_d = edges.groupBy(F.col(src).alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst).alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .fillna(0, ["out_degree", "in_degree"])
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table.

    r_0(v) = 1.0; r_{k+1}(v) = (1-d) + d * Σ_{(u,v)∈E} r_k(u)/out(u).
    Dangling-node mass is dropped (nodes with no out-edges contribute
    nothing), the common simplification when ranks are used ordinally.
    Returns (id, rank) for every node that appears as a source or target.

    Each round: ranks ⋈ edges on the source key (one hash shuffle), a
    per-target sum, and a left join back onto the node list so zero
    in-degree nodes keep the (1-d) floor. ``loop_frame`` per round cuts
    lineage — plan size is O(1) in ``iterations``, and at 100 TB the
    per-round shuffle is bounded by |E| skinny (node, double) rows.  Only
    the returned ranks stay stored.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = shared_frame(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct(),
        eager=True,
        scoped=iterations > 0,  # zero rounds return a plan over nodes
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("__outd"))
    contrib_edges = shared_frame(
        e.join(out_deg, "src"), eager=True, scoped=True
    )

    ranks = nodes.withColumn("rank", F.lit(1.0))
    base = F.lit(1.0 - damping)
    for i in range(iterations):
        inbound = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("__outd")).alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__m"))
        )
        new_ranks = loop_frame(
            nodes.join(inbound, "id", "left").select(
                "id",
                (base + F.lit(damping) * F.coalesce(F.col("__m"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        if i:  # round 0 read the initial projection over ``nodes``
            release(ranks)
        ranks = new_ranks
    release(contrib_edges)
    if iterations:
        release(nodes)
    return ranks


def triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle enumeration via the degree-ordered wedge join
    (the MapReduce-classic compact-forward algorithm).

    Edges are canonicalized undirected-distinct, then DIRECTED from the
    lower to the higher endpoint under the (degree, id) total order.
    That orientation bounds every node's out-degree by O(√m) on any
    graph, so the wedge self-join (out-neighbors × out-neighbors per
    node) — the only quadratic-risk step — generates O(m^{3/2}) wedge
    candidates instead of Σ deg² (which a hub node makes quadratic).
    A final semi-join against the directed edge set closes each wedge.

    All three joins shuffle skinny (int, int) rows keyed by node/edge.
    Returns one row per triangle with ``(a, b, c)`` sorted by id —
    deterministic regardless of the internal orientation.

    Round 12: ``und`` is materialized eagerly and ``directed`` lazily
    (``shared_frame``). The DataFrame graph references ``und``
    five times (distinct + two degree-join sides) and ``directed``
    three times (both wedge sides + the closing join), and Spark's
    exchange reuse does NOT deduplicate them — the executed plan re-ran
    the source scan + distinct FIFTEEN times (measured at sf0.1).
    Checkpointing ``und`` eagerly makes the scan+distinct run exactly
    once; the lazy checkpoint on ``directed`` lets its first consumer
    materialize it (no extra barrier job) and every later reference
    read the blocks — measured 1.49→1.37 s at local[32] and
    3.95→1.08 s at local[8], where the 15× redundancy could no longer
    hide on idle cores. Both tables are skinny int rows bounded by |E|.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # und stays EAGER: the round-13 interleaved A/B of both-lazy vs this
    # shape had best-of-4 favoring und-eager at BOTH core counts
    # (local[32] 1.51 vs 1.71, local[8] 1.21 vs 1.38) — consistent with
    # round 12's three-way measurement that settled on it
    und = shared_frame(und, eager=True)
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withdeg = (
        und.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    directed = withdeg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("d"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    )
    directed = shared_frame(directed)
    # wedge (s; x, y) with rk(x) < rk(y): x→y is then the only possible
    # closing orientation, so ONE edge join closes it
    e1 = directed.select("s", F.col("d").alias("x"), F.col("dd").alias("dx"))
    e2 = directed.select("s", F.col("d").alias("y"), F.col("dd").alias("dy"))
    wedges = e1.join(e2, "s").where(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closed = wedges.join(
        directed.select(F.col("s").alias("x"), F.col("d").alias("y")),
        ["x", "y"],
    )
    return closed.select(
        F.least(F.col("s"), F.col("x"), F.col("y")).alias("a"),
        F.greatest(
            F.least(F.col("s"), F.col("x")),
            F.least(F.col("s"), F.col("y")),
            F.least(F.col("x"), F.col("y")),
        ).alias("b"),
        F.greatest(F.col("s"), F.col("x"), F.col("y")).alias("c"),
    )
