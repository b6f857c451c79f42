"""Materialization and release of intermediate frames, in one place.

Every operator that stores an intermediate frame goes through one of
three helpers here; nothing else in the package calls ``persist``,
``localCheckpoint`` or ``checkpoint`` (a tier-1 test enforces it, with
a short allowlist of documented exceptions).

* ``shared_frame`` — a frame with several consumers inside one call
  (both sides of a self-join, a stats aggregate plus a scoring
  projection, a count table plus its join-back, the in-memory static
  side of a stream-static join that every micro-batch reads).  Spark's
  exchange reuse does not deduplicate such references — each consumer
  re-executes the whole upstream subtree (measured repeatedly since
  round 12) — so the frame must be materialized once.
* ``loop_frame`` — a table whose lineage must be CUT: the per-round
  tables of iterative operators (connected components, PageRank,
  tokenizer merge rounds), whose plans would otherwise grow with the
  round count, and pin sites whose recompute would diverge (a range
  partitioner's sampled boundaries, a nondeterministic query batch).
* ``release`` — frees what either helper stored, once no consumer is
  left.  Loops release each round's table as soon as the next one has
  materialized; nothing is kept from one call to the next (cross-call
  reuse is explicit: pass a materialized artifact such as
  ``signatures=`` or ``fingerprints=``).

The mechanism follows ``spark.modis_aggregation.materialize``:

    local     (default) localCheckpoint: raw rows in the block store,
              lineage truncated, truthful size statistics.  No replica:
              one executor loss after materialization fails the job.
    persist   call-scoped share sites (``scoped=True``: released before
              the operator returns) persist and keep their lineage
              (executor loss recomputes).  Every other site still
              localCheckpoints: loop and pin sites because persist
              cannot cut lineage, and a frame that the returned lazy
              plan reads because nothing could ever release it — the
              CacheManager would hold it until ``clearCache()``.
    reliable  checkpoint to ``sparkContext.setCheckpointDir`` (HDFS or
              object store) at share, loop and pin sites: survives
              executor loss with lineage cut.

See docs/SCALING.md §materialization for the cluster-scale trade-offs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CONF_KEY = "spark.modis_aggregation.materialize"


def _mode(df: DataFrame) -> str:
    return df.sparkSession.conf.get(CONF_KEY, "local")


def shared_frame(
    df: DataFrame, eager: bool = False, scoped: bool = False
) -> DataFrame:
    """Materialize a multi-consumer frame once.

    ``eager=False`` (default): the first consumer's job computes and
    stores the frame, later consumers read the stored blocks — no extra
    barrier job (round-12 measurement: lazy strictly beats eager when a
    first consumer exists — minhash 1.659 none / 1.343 eager / 1.259
    lazy).  ``eager=True`` forces a materialization job NOW (for frames
    whose first consumer is a driver-side decision, or that every round
    of a loop reads).

    ``scoped=True`` promises that the caller ``release``s the frame
    before it returns, so no returned plan reads it; only such a frame
    is persisted under ``persist`` mode (eager pins via an immediate
    ``count()``).  An unscoped frame is checkpointed in every mode and
    lives until ``release`` or until the plans reading it are
    garbage-collected (the ContextCleaner frees checkpoint blocks; a
    persisted frame would stay in the CacheManager until
    ``clearCache()``).
    """
    mode = _mode(df)
    if mode == "persist" and scoped:
        out = df.persist()
        if eager:
            out.count()
        return out
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def loop_frame(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage: ``checkpoint`` under
    ``reliable``, ``localCheckpoint`` otherwise.  ``eager=False`` lets
    the next job that reads the table store it (WordPiece's per-round
    collect) instead of paying a barrier job."""
    if _mode(df) == "reliable":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free what ``shared_frame`` or ``loop_frame`` stored for ``df``:
    unpersist a persisted frame; drop a checkpoint's blocks (local) or
    files (reliable).  Call it only once no consumer of ``df`` — and no
    plan still reading it lazily — is left."""
    if df.is_cached:
        df.unpersist()
        return
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        raise TypeError("release() takes a frame returned by shared_frame or loop_frame")
    rdd = plan.rdd()
    spark = df.sparkSession
    # drops the blocks as RDD.unpersist does, without its per-RDD warning
    # that a locally checkpointed RDD cannot be recomputed
    spark.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)
    ckpt = rdd.getCheckpointFile()
    if ckpt.isDefined():
        path = spark._jvm.org.apache.hadoop.fs.Path(ckpt.get())
        path.getFileSystem(spark._jsc.hadoopConfiguration()).delete(path, True)
