"""End-to-end WCC pipeline tests (SURVEY.md §5.2, §5.4 invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from community_detection_flink_spark.sources.edges import symmetrize_edges
from community_detection_flink_spark.operators.refinement import run_wcc


def test_bridged_cliques(golden_edges):
    res = run_wcc(symmetrize_edges(golden_edges))
    got = {r["vId"]: r["cId"] for r in res.communities.collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 7, 5: 7, 6: 7, 7: 7}
    assert res.vertex_count == 8
    assert res.global_wcc > 0.0
    assert res.global_cc == 1.0  # every vertex has cc == 1


def _sbm_edges(k=3, n=20, p_in=0.4, n_out=30) -> list[tuple[int, int]]:
    """SBM-ish random graph: ``k`` planted communities of ``n``, p_in
    high, ``n_out`` random cross edges."""
    import random

    rng = random.Random(42)
    edges = set()
    for c in range(k):
        ids = list(range(c * n, (c + 1) * n))
        for i in ids:
            for j in ids:
                if i < j and rng.random() < p_in:
                    edges.add((i, j))
    for _ in range(n_out):
        a, b = rng.randrange(k * n), rng.randrange(k * n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


# 4 communities of 20, p_in 0.3, 80 cross edges: the refinement
# accepts 2 rounds, then rejects one (the 3-community graph above
# accepts none)
SBM_ROUNDS = (4, 20, 0.3, 80)


def test_invariants_on_random_graph(spark):
    """SBM-ish random graph: structural invariants of the result."""
    raw = spark.createDataFrame(_sbm_edges(), "src LONG, dst LONG")
    sym = symmetrize_edges(raw)
    res = run_wcc(sym)

    rows = res.communities.collect()
    vids = {r["vId"] for r in rows}
    cids = {r["cId"] for r in rows}
    # every community id is an existing vertex id
    assert cids <= vids
    # every vertex appears exactly once
    assert len(rows) == len(vids)
    # sum of community sizes equals |V(cleaned)| plus singletons
    sizes = res.communities.groupBy("cId").count()
    assert sizes.agg(F.sum("count")).first()[0] == len(vids)
    # WCC is a valid average of per-vertex values in [0, 1]
    assert 0.0 <= res.global_wcc <= 1.0


def test_run_wcc_matches_oracle_on_sbm_graph(spark):
    """Exact ``(vId, cId)`` and ``wcc_history`` parity of ``run_wcc``
    against the independent ``tests/pywcc_oracle`` on a noisier SBM
    graph (``SBM_ROUNDS``), whose refinement accepts two rounds and
    ends on a rejected one.  The two global sums run in different
    orders, so the history is compared to 1e-9 (every accept/reject
    DECISION must agree, or the labels diverge)."""
    from pywcc_oracle import run_wcc_oracle

    edges = _sbm_edges(*SBM_ROUNDS)
    ora = run_wcc_oracle(edges)
    assert len(ora["wcc_history"]) >= 3  # several accepted rounds
    assert ora["rounds"] == len(ora["wcc_history"])  # and a final unaccepted one

    res = run_wcc(symmetrize_edges(spark.createDataFrame(edges, "src LONG, dst LONG")))
    got = {r["vId"]: r["cId"] for r in res.communities.collect()}
    assert got == ora["communities"]
    assert res.iterations == ora["rounds"]
    assert res.wcc_history == pytest.approx(ora["wcc_history"], abs=1e-9)
