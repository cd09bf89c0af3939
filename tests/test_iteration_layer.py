"""Iteration-layer contracts: the Materializer's light-landing cadence,
no environment switches in operator code, and cache release when the
refinement loop raises mid-round."""

from __future__ import annotations

import pathlib
import re

import pytest

from community_detection_flink_spark.plans.iteration import Materializer

PKG = pathlib.Path(__file__).resolve().parents[1] / "community_detection_flink_spark"
ALLOWED_ENV = {"CDFS_CHECKPOINT_DIR"}  # a deployment path, not a switch


def test_light_landings_reland_on_parquet_every_fourth(spark):
    mat = Materializer(spark)
    df = spark.range(3)
    outs, parquet = [], []
    for i in range(1, 10):
        if i == 5:
            # a non-light landing of the same name: not counted
            outs.append(mat(df, "s"))
        out = mat(df, "s", light=True)
        outs.append(out)
        parquet.append(mat.is_landed(out))
    other = mat(df, "other", light=True)  # each name keeps its own count
    assert parquet == [False, False, False, True, False, False, False, True, False]
    assert not mat.is_landed(other)
    for out in outs + [other]:
        mat.drop(out)
    mat.cleanup()


def test_operators_and_plans_read_no_environment_switches():
    """Variants are parameters, never environment switches: no line
    under ``operators/`` or ``plans/`` names ``environ``/``getenv``
    (any import or call form) except the checkpoint-path read."""
    reads = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for sub in ("operators", "plans")
        for path in sorted((PKG / sub).rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\b(environ|getenv)\b", line)
        and not any(key in line for key in ALLOWED_ENV)
    ]
    assert not reads, reads


def test_refinement_releases_caches_when_a_round_raises(spark, monkeypatch):
    """A failure inside the 2nd movement round (so round 1 was accepted
    and superseded and live caches both exist) must leave the session
    with no cache the call added: loop edges, the loop-persisted
    triangle list, the vcd/stats caches and the movement pass's
    ephemeral cache.  ``run_wcc`` releases its own pre-loop caches
    before the loop starts."""
    from community_detection_flink_spark.operators import refinement
    from community_detection_flink_spark.sources.edges import symmetrize_edges
    from test_wcc_end_to_end import SBM_ROUNDS, _sbm_edges

    calls = {"n": 0}
    real = refinement.best_movement

    def failing(*args, **kwargs):
        out = real(*args, **kwargs)  # its own-cache is live when we raise
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected")
        return out

    monkeypatch.setattr(refinement, "best_movement", failing)
    raw = spark.createDataFrame(_sbm_edges(*SBM_ROUNDS), "src LONG, dst LONG")
    mat = Materializer(spark)
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    rdds_before = set(jsc.getPersistentRDDs().keySet())
    entries_before = cache_manager.numCachedEntries()
    with pytest.raises(RuntimeError, match="injected"):
        refinement.run_wcc(symmetrize_edges(raw), mat=mat)
    mat.cleanup()
    assert calls["n"] == 2
    assert cache_manager.numCachedEntries() == entries_before
    assert set(jsc.getPersistentRDDs().keySet()) <= rdds_before
