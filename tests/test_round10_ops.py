"""Round-10 fixes: cell-size cap enforcement (VERDICT r9 #4), the
de-broadcast dup-verdict join, and batched CC landings (VERDICT r9 #5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from community_detection_flink_spark.operators.similarity import (
    assign_cells,
    knn_graph,
    semantic_dedup,
)


def _collinear(spark, n):
    # distinct magnitudes, identical direction: every pairwise cosine
    # is exactly 1.0, so a dup-majority corpus (the adversarial case
    # the broadcast hint OOMed on and the cap exists for)
    rows = [(i, [float(i + 1), 0.0]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def _salt(i, n_sub):
    return ((i * 2654435761) % (1 << 20)) % n_sub


def test_semantic_dedup_dup_majority_uncapped(spark):
    df = _collinear(spark, 40)
    out = {r["vec_id"]: r["is_dup"]
           for r in semantic_dedup(df, tau=0.9, n_cells=1).collect()}
    assert out == {i: i != 0 for i in range(40)}


def test_semantic_dedup_cell_cap_salts_deterministically(spark):
    # 40 vectors, one cell, cap 10 → ceil(40/10) = 4 sub-cells; the
    # keep-lowest-id verdict applies PER sub-cell, and membership is
    # the documented pure-int64 salt — pinned here against a Python
    # replay so the blocking is deterministic, not just "bounded"
    df = _collinear(spark, 40)
    out = {r["vec_id"]: r["is_dup"]
           for r in semantic_dedup(
               df, tau=0.9, n_cells=1, max_cell_size=10).collect()}
    keepers = {min(i for i in range(40) if _salt(i, 4) == s)
               for s in range(4)}
    assert out == {i: i not in keepers for i in range(40)}
    # the cap genuinely reduced pair work: more than one keeper
    assert len(keepers) == 4


def test_assign_cells_cap_bounds_blocks(spark):
    df = _collinear(spark, 40)
    v = assign_cells(df, n_cells=1, max_cell_size=10)
    assert "salt" in v.columns
    sizes = [r["n"] for r in
             v.groupBy("cell", "salt").agg(F.count("*").alias("n")).collect()]
    # hash-salting balances in expectation; assert the enforced bound
    # the operator promises (no sub-cell exceeds ~2x the cap) and that
    # splitting actually happened
    assert len(sizes) == 4 and max(sizes) <= 20


def test_knn_graph_capped_stays_within_salt_blocks(spark):
    df = _collinear(spark, 30)
    out = knn_graph(df, k=3, n_cells=1, max_cell_size=10).collect()
    n_sub = 3
    groups = {}
    for i in range(30):
        groups.setdefault(_salt(i, n_sub), set()).add(i)
    for r in out:
        blk = _salt(r["vec_id"], n_sub)
        assert r["nb_id"] in groups[blk] and r["nb_id"] != r["vec_id"]


@pytest.mark.slow
def test_connected_components_path_clique_isolated(spark):
    from community_detection_flink_spark.operators.components import (
        connected_components,
    )

    # path graph (worst case for label propagation, several star
    # rounds) + a clique + isolated vertices
    edges = [(i, i + 1) for i in range(12)]
    edges += [(100 + a, 100 + b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(edges, "u LONG, v LONG")
    vs = spark.createDataFrame(
        [(i,) for i in range(13)] + [(100 + i,) for i in range(4)] + [(999,)],
        "vId LONG",
    )
    got = sorted(map(tuple, connected_components(e, vertices=vs).collect()))
    want = sorted(
        [(i, 0) for i in range(13)]
        + [(100 + i, 100) for i in range(4)]
        + [(999, 999)]
    )
    assert got == want


def test_minhash_store_append_is_exact(spark):
    """The persisted signature store's pairs after build(90%) +
    append(10%) equal minhash_lsh_pairs over the full corpus exactly —
    signatures are a pure per-document function, so store maintenance
    has NO drift (contrast: IVF append's frozen centroids)."""
    from community_detection_flink_spark.operators import dedup as D
    from community_detection_flink_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    store = D.build_minhash_store(
        docs.where("doc_id % 10 != 9"), table="t_mh_store"
    )
    store = D.minhash_store_append(store, docs.where("doc_id % 10 = 9"))
    got = {
        (r.doc_a, r.doc_b, r.n_bands)
        for r in D.minhash_pairs_from_store(spark, store).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.n_bands)
        for r in D.minhash_lsh_pairs(docs, num_hashes=8, bands=4).collect()
    }
    assert got == want and len(want) > 0


def test_minhash_store_read_is_exchange_free(spark):
    """The bucketed store read feeds the (band, bucket) aggregate with
    NO shuffle exchange before it — the point of persisting bucketed."""
    from community_detection_flink_spark.operators import dedup as D
    from community_detection_flink_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    store = D.build_minhash_store(docs, table="t_mh_store_plan")
    plan = (
        D.minhash_pairs_from_store(spark, store)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly ONE exchange: the final (doc_a, doc_b) aggregate; the
    # (band, bucket) aggregate reads pre-bucketed files
    assert plan.count("Exchange hashpartitioning") <= 1


def test_source_caps_matches_python_replay(spark):
    from community_detection_flink_spark.operators.textual import source_caps

    rows = [(i, f"s{i % 3}", 10) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, n_chars LONG")
    got = {r.doc_id: (r.source, r.pick_rank, r.kept)
           for r in source_caps(docs, cap=5).collect()}
    # python replay of the stable-hash rank
    import collections
    order = collections.defaultdict(list)
    for i, s, _ in rows:
        order[s].append(((i * 2654435761) % (1 << 20), i))
    want = {}
    for s, lst in order.items():
        for rank, (_, i) in enumerate(sorted(lst), 1):
            want[i] = (s, rank, rank <= 5)
    assert got == want
