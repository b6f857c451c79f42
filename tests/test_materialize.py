"""functions/materialize — the one module that stores and frees
intermediate frames: ``shared_frame`` (multi-consumer frames),
``loop_frame`` (lineage-cutting loop and pin tables) and ``release``,
all switched by ``spark.modis_aggregation.materialize`` (local | persist
| reliable, docs/SCALING.md §materialization).  Routed operators compute
identical results in every mode, and an operator call leaves nothing
stored beyond what its returned frame reads."""

import os

import pytest
from pyspark.sql import functions as F

from modis_aggregation_spark.functions.materialize import (
    CONF_KEY,
    loop_frame,
    release,
    shared_frame,
)
from modis_aggregation_spark.operators import dedup as D
from modis_aggregation_spark.operators.graph import pagerank
from modis_aggregation_spark.operators.tfidf import lm_doc_score, tf_idf
from modis_aggregation_spark.operators.tokenizer import wordpiece_train


@pytest.fixture
def _restore_mode(spark):
    yield
    spark.conf.unset(CONF_KEY)


def _base(spark):
    return spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    ).groupBy("k").agg(F.sum("v").alias("s"))


def test_default_mode_is_local_checkpoint(spark):
    out = shared_frame(_base(spark))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan  # lineage truncated
    assert out.count() == 7


def test_persist_mode_keeps_lineage(spark, _restore_mode):
    """Under ``persist`` a call-scoped frame is persisted with its
    lineage; an unscoped one (read by a returned lazy plan, so never
    released) stays a checkpoint outside the CacheManager."""
    spark.conf.set(CONF_KEY, "persist")
    out = shared_frame(_base(spark), scoped=True)
    try:
        plan = out._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan
        assert "LogicalRDD" not in plan  # lineage NOT truncated
        assert out.count() == 7
    finally:
        out.unpersist()
    unscoped = shared_frame(_base(spark))
    assert not unscoped.is_cached
    assert "LogicalRDD" in unscoped._jdf.queryExecution().optimizedPlan().toString()
    assert unscoped.count() == 7


def test_routed_operator_identical_under_persist(spark, _restore_mode):
    """A routed share-site operator (bm25: per-doc state consumed by the
    stats aggregate AND the scoring projection) returns identical rows
    under both mechanisms."""
    from modis_aggregation_spark.operators.tfidf import bm25

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} alpha") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    local_rows = sorted(
        (r["doc_id"], round(r["score"], 12))
        for r in bm25(docs, ["alpha", "doc3"]).collect()
    )
    spark.conf.set(CONF_KEY, "persist")
    persist_rows = sorted(
        (r["doc_id"], round(r["score"], 12))
        for r in bm25(docs, ["alpha", "doc3"]).collect()
    )
    assert local_rows == persist_rows


def _corpus(spark, i):
    """The i-th of several small corpora with different plans and rows:
    near-duplicate pairs, repeated windows and shared bigrams."""
    return spark.createDataFrame(
        [
            (d, f"alpha beta gamma delta epsilon zeta eta theta w{d % (i + 2)}")
            for d in range(10 + 3 * i)
        ],
        "doc_id LONG, text STRING",
    )


@pytest.mark.parametrize(
    "op",
    [
        lambda d: D.minhash_lsh_pairs(d, threshold=0.5),
        lambda d: D.duplicate_window_profile(d, window=3),
        lambda d: D.ngram_jaccard_pairs(d, n=2),
        lambda d: tf_idf(d),
        lambda d: lm_doc_score(d),
    ],
    ids=["minhash", "window_profile", "ngram_jaccard", "tf_idf", "lm_doc_score"],
)
def test_returned_plans_leave_no_cache_entry_under_persist(
    spark, _restore_mode, op
):
    """The share-site frames of these operators are read by the lazy
    plan they return, so nothing can release them.  Under ``persist``
    they must still not enter the CacheManager, which would hold one
    entry per call until ``clearCache()``: three calls on different
    corpora leave it empty."""
    spark.catalog.clearCache()
    spark.conf.set(CONF_KEY, "persist")
    cache = spark._jsparkSession.sharedState().cacheManager()
    for i in range(3):
        assert op(_corpus(spark, i)).count() > 0
    assert cache.isEmpty()


@pytest.fixture
def _ckpt_dir(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    yield tmp_path
    spark.conf.unset(CONF_KEY)


def _ckpt_files(root):
    return [d for _, dirs, _ in os.walk(root) for d in dirs if d.startswith("rdd-")]


def test_reliable_mode_checkpoints_and_release_deletes(spark, _ckpt_dir):
    spark.conf.set(CONF_KEY, "reliable")
    for make in (lambda d: shared_frame(d, eager=True), loop_frame):
        out = make(_base(spark))
        rdd = out._jdf.queryExecution().logical().rdd()
        assert rdd.getCheckpointFile().isDefined()
        assert str(_ckpt_dir) in rdd.getCheckpointFile().get()
        assert out.count() == 7
        assert _ckpt_files(_ckpt_dir)
        release(out)
        assert not _ckpt_files(_ckpt_dir)


def test_release_frees_persist_and_local_checkpoint(spark, _restore_mode):
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    out = loop_frame(_base(spark))
    assert out._jdf.queryExecution().logical().rdd().id() in rdds()
    release(out)
    assert out._jdf.queryExecution().logical().rdd().id() not in rdds()
    spark.conf.set(CONF_KEY, "persist")
    out = shared_frame(_base(spark), eager=True, scoped=True)
    assert out.storageLevel.useMemory
    release(out)
    assert not out.storageLevel.useMemory
    with pytest.raises(TypeError, match="shared_frame or loop_frame"):
        release(_base(spark))


def _chain(spark, n):
    """A path graph whose edges arrive in reverse order — label
    propagation needs ~log2(n) pointer-doubling rounds."""
    return spark.createDataFrame(
        [(i, i + 1) for i in reversed(range(n))], "id_a LONG, id_b LONG"
    )


def _star(spark, n):
    return spark.createDataFrame(
        [(0, i) for i in range(1, n)], "id_a LONG, id_b LONG"
    )


def _stored_by(spark, fn):
    """Run ``fn`` and return (its collected rows, the persistent RDDs it
    registered that are still registered afterwards).  Counting new ids
    rather than the total keeps the count independent of earlier tests'
    RDDs being cleaned meanwhile."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    out = fn()
    rows = sorted(tuple(r) for r in out.collect())
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    return out, rows, after - before


def _loop_operators(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "new newer newest", "wide wider widest",
             "low new wide", "lowest newest widest"] * 3
        )],
        "doc_id LONG, text STRING",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src LONG, dst LONG"
    )
    return {
        "cc": (lambda: D.connected_components(_chain(spark, 8)), 1),
        "pagerank": (lambda: pagerank(edges, iterations=3), 1),
        "wordpiece": (lambda: wordpiece_train(docs, num_merges=6), 0),
    }


@pytest.mark.parametrize("mode", ["local", "persist", "reliable"])
def test_loop_operators_identical_and_released_in_every_mode(
    spark, _ckpt_dir, mode
):
    """CC, PageRank and WordPiece give the local mode's exact output in
    every mode; afterwards the CacheManager holds nothing and the only
    stored table left is the one the returned frame reads (none for
    WordPiece, whose model is built on the driver).  Under ``reliable``
    the loop tables are real checkpoints: the returned CC / PageRank
    frame reads checkpoint files, not executor-local blocks."""
    expected = {k: _stored_by(spark, f)[1] for k, (f, _) in _loop_operators(spark).items()}
    spark.catalog.clearCache()
    spark.conf.set(CONF_KEY, mode)
    cache = spark._jsparkSession.sharedState().cacheManager()
    for name, (fn, n_kept) in _loop_operators(spark).items():
        out, rows, new = _stored_by(spark, fn)
        assert rows == expected[name], name
        assert cache.isEmpty(), name
        if mode == "reliable":
            assert not new, (name, new)
            leaves = out._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size() if n_kept else 0):
                leaf = leaves.apply(i)
                assert leaf.nodeName() == "LogicalRDD", (name, leaf.nodeName())
                assert leaf.rdd().getCheckpointFile().isDefined(), name
        else:
            assert len(new) == n_kept, (name, new)


def test_cc_rounds_are_released(spark, monkeypatch):
    """Per-call growth in persistent RDDs does not depend on the round
    count: a 2-round star and a >= 5-round chain each leave exactly the
    one table the returned labels read."""
    rounds = []

    def counting(df, eager=True):
        rounds.append(1)
        return loop_frame(df, eager)

    monkeypatch.setattr(D, "loop_frame", counting)
    grown = {}
    for name, pairs, min_rounds, max_rounds in (
        ("star", _star(spark, 6), 2, 2),
        ("chain", _chain(spark, 64), 5, 50),
    ):
        rounds.clear()
        _, rows, new = _stored_by(spark, lambda: D.connected_components(pairs))
        assert {c for _, c in rows} == {0}
        # one loop_frame for the initial labels, one per round
        assert min_rounds <= len(rounds) - 1 <= max_rounds, (name, rounds)
        grown[name] = len(new)
    assert grown == {"star": 1, "chain": 1}


# Direct materialization calls allowed outside functions/materialize.py:
# (file relative to the package, stripped line text, reason).
_DIRECT_CALLS_ALLOWED = {
    ("cli.py", "cmp = cmp.persist()",
     "the compare CLI's parquet sink, max-diff summary and PNG exports "
     "all read one comparison frame for the process's lifetime"),
    ("cli.py", "grid = grid.persist()",
     "the CLI's parquet, HDF5 and PNG sinks all read one product grid "
     "for the process's lifetime"),
}


def test_materialization_only_through_materialize_module():
    """Every cache / persist / checkpoint / unpersist in the package goes
    through functions/materialize.py; a direct call elsewhere must be
    listed above with its reason (an ad-hoc cache fails here, not at
    review)."""
    import re

    import modis_aggregation_spark

    root = os.path.dirname(modis_aggregation_spark.__file__)
    pat = re.compile(r"\.(localCheckpoint|checkpoint|persist|unpersist|cache)\(")
    found = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            if not f.endswith(".py") or rel == os.path.join("functions", "materialize.py"):
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                found |= {(rel, line.strip()) for line in fh if pat.search(line)}
    allowed = {(f, line) for f, line, _ in _DIRECT_CALLS_ALLOWED}
    assert found == allowed, (found - allowed, allowed - found)
