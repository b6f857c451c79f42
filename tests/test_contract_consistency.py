"""Registry invariants for the driver contract: catching drift between
queries(), oracle_sql(), and the documented rows-only allowlist before the
round driver does."""

import os
import re

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Round 6 closed the last no-oracle gaps: s2 via a parquet twin (the
# s9/s12 pattern), x5/x6 via independent-XXH64 signature goldens, and
# r9b via an HLL++ determinism golden (partition-order-independent,
# keyed by corpus fingerprint) — every query now has a DuckDB twin.
ROWS_ONLY: set[str] = set()


def test_oracle_keys_subset_of_queries():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(osql) <= set(qs)
    assert set(qs) - set(osql) == ROWS_ONLY


def _latest_record_round():
    """query -> newest round number that recorded it (0 = never)."""
    import glob
    import json

    latest = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        for q in json.load(open(path)):
            latest[q] = max(latest.get(q, 0), rnd)
    return latest


def test_rotation_orders_unrecorded_queries_first():
    """CLAUDE.md rule 7: every query with no row in any committed
    CORRECTNESS_r*.json must precede every already-recorded query in
    queries() dict order, so the driver's 50-slot window always captures
    all unrecorded queries before spending slots on re-confirmation.
    (Once fewer than 50 unrecorded remain, recorded queries legitimately
    fill the window's tail.)"""
    latest = _latest_record_round()
    qs = list(entry.queries())
    first_recorded = next((i for i, q in enumerate(qs) if q in latest), len(qs))
    stragglers = [q for q in qs[first_recorded:] if q not in latest]
    assert not stragglers, (
        f"unrecorded queries ordered after recorded ones: {stragglers}"
    )


def test_window_rotation_freshness():
    """CLAUDE.md rule 7, strengthened after the round-5 skip: the driver's
    50-slot window (the first 50 dict entries) must hold the queries whose
    newest driver record is OLDEST.  Concretely: no query inside the window
    may have a newer last-record than any query outside it (unrecorded
    counts as round 0, i.e. maximally stale).  This makes a skipped
    rotation fail the suite instead of passing vacuously."""
    latest = _latest_record_round()
    qs = list(entry.queries())
    window, tail = qs[:50], qs[50:]
    if not tail:
        return
    worst_in_window = max(latest.get(q, 0) for q in window)
    best_in_tail = min(latest.get(q, 0) for q in tail)
    assert worst_in_window <= best_in_tail, (
        f"window holds a query last recorded in round {worst_in_window} "
        f"while round-{best_in_tail}-recorded queries sit outside it; "
        "rotate queries() so the least-recently-recorded 50 lead "
        "(CLAUDE.md rule 7)"
    )


def test_coverage_mentions_every_extension_query():
    """Every x/s query id must be traceable in COVERAGE.md (the judge's
    line-by-line map)."""
    cov = open(os.path.join(REPO, "COVERAGE.md")).read()
    for name in entry.queries():
        if name[0] in "xs":
            qid = name.split("_")[0]  # x51, s8, ...
            assert re.search(rf"\b{qid}\b", cov), f"{qid} missing from COVERAGE.md"


def test_readme_query_count_in_sync():
    readme = open(os.path.join(REPO, "README.md")).read()
    n = len(entry.queries())
    assert f"{n} queries" in readme, f"README query count != {n}"


def test_rotation_tool_matches_committed_order():
    """tools/rotate_window.py (round 8) must derive exactly the committed
    queries() order from the CORRECTNESS records — so next round's
    mechanical rotation is one --write run instead of a hand-built
    script.  x75 heads its cohort via the authorized --front amendment."""
    import sys

    sys.path.insert(0, REPO)
    from tools.rotate_window import (
        current_entries,
        latest_records,
        required_order,
    )

    src = open(os.path.join(REPO, "__spark_entry__.py")).read()
    names = [n for n, _ in current_entries(src)]
    latest = latest_records()
    want = required_order(names, latest, ["x75_kmeans_train"])
    assert names == want

    # policy unit: unrecorded first, cohorts ascending, front-of-cohort
    fake = {"b": 2, "c": 1, "d": 2, "e": 2}
    assert required_order(["a", "b", "c", "d", "e"], fake, ["d"]) == [
        "a", "c", "d", "b", "e",
    ]
