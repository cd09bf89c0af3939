"""Round-11 hardening: the four r10 ADVICE findings pinned as tests —
CDC unknown-op rejection, store re-append idempotence (minhash + IVF),
and the connected-components max_rounds cap.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def test_apply_cdc_batch_rejects_unknown_op(spark, golden_edges):
    from community_detection_flink_spark.operators.incremental import prepare
    from community_detection_flink_spark.sources.edges import symmetrize_edges
    from community_detection_flink_spark.streaming.incremental_stream import (
        apply_cdc_batch,
    )

    state = prepare(symmetrize_edges(golden_edges))
    batch = spark.createDataFrame(
        [(1, 2, "I"), (3, 4, "X")], "src LONG, dst LONG, op STRING"
    )
    with pytest.raises(ValueError, match="unknown op 'X'"):
        apply_cdc_batch(state, batch)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
def test_minhash_store_reappend_is_idempotent(spark):
    """Appending the SAME delta twice (a retried ingest job — the
    normal failure mode of any at-least-once pipeline) must not write
    duplicate signature rows: pairs still equal the full recompute and
    no self-pair (doc_a == doc_b) appears."""
    from community_detection_flink_spark.operators import dedup as D
    from community_detection_flink_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    delta = docs.where("doc_id % 10 = 9")
    store = D.build_minhash_store(
        docs.where("doc_id % 10 != 9"), table="t_mh_store_reapp"
    )
    store = D.minhash_store_append(store, delta)
    store = D.minhash_store_append(store, delta)  # retry: must no-op
    got = {
        (r.doc_a, r.doc_b, r.n_bands)
        for r in D.minhash_pairs_from_store(spark, store).collect()
    }
    assert all(a != b for a, b, _ in got)
    want = {
        (r.doc_a, r.doc_b, r.n_bands)
        for r in D.minhash_lsh_pairs(docs, num_hashes=8, bands=4).collect()
    }
    assert got == want and len(want) > 0
    # the store holds exactly one signature row set per doc
    n_docs = docs.count()
    from pyspark.sql import functions as F

    per_doc = (
        spark.table(store.table).groupBy("doc_id").count()
        .agg(F.max("count"), F.countDistinct("doc_id")).first()
    )
    assert per_doc[0] <= store.bands and per_doc[1] == n_docs


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
def test_ivf_index_reappend_is_idempotent(spark):
    from pyspark.sql import functions as F

    from community_detection_flink_spark.operators import similarity as S
    from community_detection_flink_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = S.build_ivf_index(emb.where("vec_id % 10 != 9"), table="t_ivf_reapp")
    delta = emb.where("vec_id % 10 = 9")
    idx = S.ivf_index_append(idx, delta)
    idx = S.ivf_index_append(idx, delta)  # retry: must no-op
    dup = (
        spark.table(idx.table).groupBy("vec_id").count().where("count > 1")
    )
    assert dup.isEmpty()
    assert spark.table(idx.table).count() == emb.count()


def test_cc_max_rounds_cap_not_overshot(spark, monkeypatch):
    """Two rounds per landing (ROUNDS_PER_LANDING) with max_rounds=3
    must run EXACTLY 3 star-contraction rounds, not 4 — the last batch
    is truncated."""
    from community_detection_flink_spark.operators import components as C

    calls = {"n": 0}
    real = C._small_star

    def counting(df):
        calls["n"] += 1
        return real(df)

    monkeypatch.setattr(C, "_small_star", counting)
    # a long path needs many rounds, so the cap (not convergence) stops
    # the loop
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "u LONG, v LONG"
    )
    assert C.ROUNDS_PER_LANDING == 2
    C.connected_components(edges, max_rounds=3)
    assert calls["n"] == 3


def test_source_caps_skew_path_is_hash_identical(spark):
    """The bucketed-rank skew path must be row-identical to the single
    window — on the adversarial fixture (one source = 50% of rows) AND
    on the real documents table (many small sources, ties included)."""
    from community_detection_flink_spark.operators.textual import source_caps
    from community_detection_flink_spark.sources.synthetic import skewed_sources

    skew = skewed_sources(spark, n=20_000, mega_frac=0.5, n_small=37)
    a = {tuple(r) for r in source_caps(skew, cap=7).collect()}
    b = {
        tuple(r)
        for r in source_caps(skew, cap=7, skew_buckets=16).collect()
    }
    assert a == b and len(a) == 20_000

    if os.path.isdir(SF_DIR):
        from community_detection_flink_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "source"
        )
        a = {tuple(r) for r in source_caps(docs, cap=5).collect()}
        b = {
            tuple(r)
            for r in source_caps(docs, cap=5, skew_buckets=8).collect()
        }
        assert a == b and len(a) > 0


def test_source_caps_skew_path_distributes_the_mega_source(spark):
    """The skew path's rank window partitions on (source, bucket) —
    the mega-source spans many partitions instead of one."""
    from community_detection_flink_spark.operators.textual import source_caps
    from community_detection_flink_spark.sources.synthetic import skewed_sources

    skew = skewed_sources(spark, n=5_000, mega_frac=0.6, n_small=11)
    plan = (
        source_caps(skew, cap=3, skew_buckets=32)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partitionbyexpr" not in plan.lower()  # sanity: plan printed
    assert "_b" in plan  # the bucket key is in the window partition spec


def test_malformed_tables_surface_not_crash(spark):
    """Blobs whose DECLARED table sizes overrun their actual bytes must
    come back ok=false / skipped, never a task failure: a truncated
    stsz with a huge count (MP4) and a short SOF segment (JPEG)."""
    import struct

    from community_detection_flink_spark.operators import jpeg as J
    from community_detection_flink_spark.operators import multimodal as M

    # MP4: stsz declares 10^6 samples inside a 30-byte box
    ftyp = M._mp4_box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    bad_stsz = M._mp4_box(b"stsz", struct.pack(">III", 0, 0, 1_000_000))
    stbl = M._mp4_box(b"stbl", bad_stsz)
    moov = M._mp4_box(
        b"moov", M._mp4_box(b"trak", M._mp4_box(b"mdia", M._mp4_box(b"minf", stbl)))
    )
    mp4_blob = ftyp + moov
    df = spark.createDataFrame(
        [(0, bytearray(mp4_blob))], "doc_id LONG, blob BINARY"
    )
    assert [r.ok for r in M.mp4_metadata(df).collect()] == [False]
    assert M.mp4_sample_frames(df).count() == 0

    # JPEG: SOI + SOF0 whose declared length matches its 3 bytes, but
    # the SOF fields need 6 — unpack must surface ok=false, not raise
    jpeg_blob = b"\xff\xd8" + struct.pack(">BBH", 0xFF, 0xC0, 2 + 3) + b"\x08\x00\x10"
    df2 = spark.createDataFrame(
        [(0, bytearray(jpeg_blob))], "doc_id LONG, blob BINARY"
    )
    assert [r.ok for r in J.jpeg_stats(df2).collect()] == [False]
