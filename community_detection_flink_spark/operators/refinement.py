"""P3 refinement loop + full WCC pipeline entry (SURVEY.md I4, E1/E3).

Reference: ``DistributedWCC.run`` / ``refinePartition``
(``DistributedWCC.scala:34-82, 258-329``): accept a simultaneous
best-movement pass iff it improves global WCC; a relative improvement
> threshold (0.01) resets the retry budget (maxRetries = 5,
``DistributedWCC.scala:27-29``).

Iterative-Spark discipline the reference lacks (its Flink version
recomputes lineage and forces ``count()``s, ``DistributedWCC.scala:317``):
every accepted state is materialized through ``plans.Materializer``
(parquet round-trip — truncates lineage AND resets Catalyst's
compounding join-size statistics; see ``plans/iteration.py`` for why
``localCheckpoint`` is pathological here), and superseded state is
simply dropped.  Only O(1) scalars (the WCC value) ever reach the
driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.operators.community import (
    best_movement,
    community_adjacency,
    community_stats,
    global_wcc,
)
from community_detection_flink_spark.operators.partition import initial_partition
from community_detection_flink_spark.operators.preprocess import preprocess
from community_detection_flink_spark.operators.triangles import triangles
from community_detection_flink_spark.plans.iteration import (
    Materializer,
    no_aqe,
    scoped_shuffle_partitions,
)

THRESHOLD = 0.01  # DistributedWCC.scala:28
MAX_RETRIES = 5  # DistributedWCC.scala:30


@dataclass
class WCCResult:
    communities: DataFrame  # vId, cId over the FULL input vertex set
    stats: DataFrame  # cId, r, a, b, d over the refined partition
    global_wcc: float
    global_cc: float
    vertex_count: int
    iterations: int
    # populated only with run_wcc(keep_internals=True): the cleaned
    # graph the pipeline already computed, so callers like the
    # incremental prepare() don't re-enumerate triangles
    clean_vertices: DataFrame | None = None  # vId, t, vt, cc
    clean_edges: DataFrame | None = None  # doubled triangle-edge subgraph
    tri: DataFrame | None = None  # static triangle list (u, v, w)
    # global-WCC value of the initial partition followed by every
    # ACCEPTED refinement round, in order — strictly increasing by
    # construction of the accept-if-improved loop; recorded so the
    # monotonicity invariant (SURVEY §5.4) is gate-checkable, not just
    # asserted in tests
    wcc_history: list | None = None


def refine_partition(
    vertices: DataFrame,
    clean_edges: DataFrame,
    vertex_count: int,
    max_retries: int = MAX_RETRIES,
    threshold: float = THRESHOLD,
    mat: Materializer | None = None,
    tri: DataFrame | None = None,
    history: list | None = None,
) -> tuple[DataFrame, DataFrame, float, float, int]:
    """Run the accept-if-improved movement loop.

    Planned NON-adaptive (r10, VERDICT r9 #3 — the same scoping the
    MIS election and the incremental loop already carry): every loop
    input is a Materializer-landed parquet (true file-size stats) or a
    persisted loop cache, so AQE cannot improve a plan here — it only
    splits each tiny per-round landing into one driver-blocking job
    per query stage.  MEASURED at sf0.1 / local[32]
    (tools/count_jobs_batch.py): 26.5 → 11.6 jobs per round (−56%)
    for identical results (16 rounds, wcc 0.04752) and flat wall
    (78.8 → 76.5 s; the data term dominates at this SF — the job
    floor is what matters when rounds shrink, e.g. incrementally).

    Returns (best_vertices, best_stats, best_wcc, global_cc, rounds).
    ``history``, if given, receives the initial WCC and each ACCEPTED
    round's WCC (driver-side floats the loop computes anyway).

    Per-round plan shape: ONE pass over the triplets per labeling — the
    two label joins feed directly into the ``community_adjacency``
    aggregate ``(vId, c_own, cId, dIn)``, which is cached and serves
    every consumer: community stats (a/b), the global-WCC intra degree
    (vtC), and the next round's movement candidates.  The previous
    labeling's cache is dropped the moment its labeling is superseded.
    ``tri`` (static triangle list of ``clean_edges``) turns the
    per-round tC pass into three joins + one aggregate (see
    ``intra_triangle_counts``); computed here if absent.

    Every round's labeling is landed on parquet (SCALING.md measured a
    raw-lineage every-2nd-round cadence ~3× slower: a raw labeling is
    RE-EXECUTED by every consumer job of the next round).  The loop's
    caches are released on every exit, exceptions included.
    """
    spark = vertices.sparkSession
    mat = mat or Materializer(spark)
    if tri is None:
        # batch-scale triangle enumeration stays ADAPTIVE — only the
        # landed-parquet loop below goes non-adaptive
        tri = mat(triangles(clean_edges, mat=mat), "tri-static")
        mat.release()
    # loop width (plans.scoped_shuffle_partitions): the loop shuffles
    # the SAME known-size state every round.  Counted before no_aqe so
    # the count plans adaptively, like the batch scans.
    n_edges = clean_edges.count()
    with no_aqe(spark), scoped_shuffle_partitions(spark, n_edges, 4):
        global_cc_total = vertices.agg(F.sum("cc").alias("s")).first()["s"] or 0.0
        global_cc = float(global_cc_total) / float(vertex_count)  # DistributedWCC.scala:261-262

        caches: dict[int, DataFrame] = {}  # loop-owned, freed at exit
        # the static triangle list is scanned once per round by the WCC
        # eval (intra_triangle_counts) — persist it for the loop like
        # loop_edges below, so rounds read the cache instead of
        # re-decoding the parquet 16+ times (r12).  Persist only when
        # the caller hasn't (so the exit unpersist never drops a
        # caller's cache).
        if not tri.is_cached:
            tri = tri.persist()
            caches[id(tri)] = tri
        # One src-hash shuffle up front, reused every round: the label
        # maps broadcast, so the triplets build preserves this
        # partitioning and the per-src aggregations (vcd, vtC) and
        # vId-keyed joins downstream need no further exchange.
        loop_edges = clean_edges.repartition("src").persist()
        caches[id(loop_edges)] = loop_edges

        def _eval(labels: DataFrame) -> tuple[DataFrame, DataFrame, float]:
            """Fused community-adjacency cache + stats + WCC for one labeling.

            ``cs`` is persist()ed but never forced with its own job: the
            ``global_wcc`` action below materializes it together with the
            ``vcd`` cache it derives from, so the movement pass's two
            broadcasts of the stats read the cache instead of re-running
            the aggregate (a parquet round-trip per round would cost a
            write+read job for no lineage benefit — the lineage root is
            the cached vcd).  The loop materializes only the final
            accepted stats.
            """
            vcd = community_adjacency(labels, loop_edges).persist()
            cs = community_stats(labels, loop_edges, vcd=vcd).persist()
            caches.update({id(vcd): vcd, id(cs): cs})
            wcc = global_wcc(labels, loop_edges, cs, vertex_count, vcd=vcd, tri=tri)
            return vcd, cs, wcc

        def _unpersist(*dfs: DataFrame) -> None:
            for df in dfs:
                caches.pop(id(df)).unpersist(False)

        try:
            # r13 MEASURED NEGATIVE (record): fusing the WCC eval into
            # the round landing (persist the raw movement output, build
            # vcd/cs/tC over it, ride the per-vertex WCC sum on the
            # landing as an Observation) removed one job per round ON
            # PAPER but returned caches whose ANALYZED plans rooted at
            # the raw movement plan instead of the landed parquet — each
            # round's cache plan embedded the previous round's, the
            # analysis tree grew exponentially, and the driver OOM'd
            # inside Catalyst resolution at sf0.001.  The eval must
            # build over the LANDED state, which forces the separate
            # job; the [landing][stats-broadcast-build][eval] round
            # shape stays.
            # an already-landed input needs no second landing (r12
            # callers re-landed it as "best" unconditionally — one full
            # write+read of the initial labeling per run for nothing);
            # the loop never drops caller-owned state (`initial_input`)
            best = vertices if mat.is_landed(vertices) else mat(vertices, "best")
            initial_input = best
            best_vcd, best_cs, best_wcc = _eval(best)
            if history is not None:
                history.append(best_wcc)

            retries = max_retries
            rounds = 0
            while retries > 0:
                obs = Observation()
                # r13 MEASURED NEGATIVE (record): landing the round
                # states via localCheckpoint instead of parquet was
                # 2.7-3x SLOWER at sf0.1 (interleaved A/B,
                # plans/r13/ab_refine_light_NEGATIVE_sf01.txt: light
                # 136-156 s vs parquet 50 s for identical results and
                # job counts).  The loop plans non-adaptively, so join
                # strategies come from STATIC stats; a LogicalRDD
                # carries the origin plan's ESTIMATED stats, and the
                # movement plan's inner-join estimates (size products)
                # blow past the 64 MB broadcast threshold immediately —
                # the label-map joins flip to shuffle joins inside
                # otherwise-identical jobs.  Parquet's true file-size
                # stats are load-bearing here.
                moved = mat(
                    best_movement(
                        best, loop_edges, best_cs, global_cc, vertex_count,
                        mat=mat, vcd=best_vcd, moves_observation=obs,
                    ),
                    "moved",
                )
                rounds += 1
                if obs.get["moves"] == 0:
                    # fixed point: identical labels ⇒ identical stats ⇒
                    # the evaluate-and-compare below would conclude "no
                    # improvement" after recomputing everything — skip it
                    mat.drop(moved)
                    break
                new_vcd, new_cs, new_wcc = _eval(moved)
                retries -= 1
                if new_wcc <= best_wcc:
                    _unpersist(new_vcd, new_cs)
                    mat.drop(moved)
                    break
                # Scala's newWcc/bestWcc - 1 > threshold is Infinity >
                # 0.01 when bestWcc == 0, so an improvement from 0 also
                # resets the retry budget (DistributedWCC.scala:309-312).
                if best_wcc <= 0 or (new_wcc / best_wcc - 1.0) > threshold:
                    retries = max_retries
                # the accepted state is on parquet: nothing live reads
                # the superseded state or the round's ephemeral caches
                mat.release()
                _unpersist(best_vcd, best_cs)
                if best is not initial_input:
                    # caller-owned input state is never dropped (it may
                    # be reused across calls)
                    mat.drop(best)
                best, best_cs, best_wcc, best_vcd = moved, new_cs, new_wcc, new_vcd
                if history is not None:
                    history.append(best_wcc)
            mat.release()  # any ephemeral caches from a final rejected round
            # the returned stats must outlive the caches they derive from
            best_cs = mat(best_cs, "cs-final")
        finally:
            mat.release()
            # newest first: the stats and vcd caches, then loop_edges, tri
            for df in reversed(list(caches.values())):
                df.unpersist(False)
    return best, best_cs, best_wcc, global_cc, rounds


def run_wcc(
    edges: DataFrame,
    max_retries: int = MAX_RETRIES,
    threshold: float = THRESHOLD,
    keep_internals: bool = False,
    pre: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    mat: Materializer | None = None,
) -> WCCResult:
    """E1/E3 — full batch WCC community detection.

    ``edges`` must be the symmetrized doubled-edge set
    (``sources.edges.symmetrize_edges``).  Mirrors
    ``DistributedWCC.run`` (``DistributedWCC.scala:34-82``): vertices
    pruned in preprocessing keep their own singleton community in the
    final result (``DistributedWCC.scala:63-78``).

    ``pre``: optional already-MATERIALIZED ``(tri, clean_vertices,
    clean_edges)`` for these edges — callers that preprocessed the
    graph for other queries (``__spark_entry__._graph``) skip the
    second triangle enumeration + cleanup.  ``edges`` must itself be
    materialized in that case (it is re-scanned for the vertex set).
    """
    mat = mat or Materializer(edges.sparkSession)
    if pre is None:
        edges = mat(edges, "edges")
    all_vertices = edges.select(F.col("src").alias("vId")).distinct()
    vertex_count = all_vertices.count()
    if vertex_count == 0:
        spark = edges.sparkSession
        return WCCResult(
            communities=spark.createDataFrame([], "vId LONG, cId LONG"),
            stats=spark.createDataFrame([], "cId LONG, r INT, a DOUBLE, b LONG, d DOUBLE"),
            global_wcc=0.0,
            global_cc=0.0,
            vertex_count=0,
            iterations=0,
        )

    # One triangle enumeration serves preprocessing AND every refinement
    # round (tC via the static-list join): clean_edges keeps every
    # triangle edge, so triangles(clean) == triangles(full).
    if pre is not None:
        tri, vertices, clean_edges = pre
    else:
        tri = mat(triangles(edges, mat=mat), "tri")
        mat.release()  # oriented-edge cache
        vertices, clean_edges = preprocess(edges, mat=mat, tri=tri)
        clean_edges = mat(clean_edges, "clean-edges")
        vertices = mat(vertices, "clean-vertices")
    init = mat(initial_partition(vertices, clean_edges, mat=mat), "init")
    mat.release()  # MIS "higher" edge cache

    history: list = []
    best, best_cs, best_wcc, global_cc, rounds = refine_partition(
        init, clean_edges, vertex_count, max_retries, threshold, mat=mat,
        tri=tri, history=history,
    )
    # only `edges` (feeds all_vertices), `best`, and `best_cs` survive
    # into the returned plans — free the pipeline intermediates (the
    # cleaned graph stays when the caller asked to reuse it, and
    # caller-owned `pre` artifacts are never touched)
    # best IS init when the loop accepted no round (refine_partition no
    # longer re-lands an already-landed input, r13) — the returned
    # communities plan still reads init's files then
    superseded = [init] if best is not init else []
    if pre is None and not keep_internals:
        superseded += [tri, clean_edges, vertices]
    for df in superseded:
        mat.drop(df)

    communities = all_vertices.join(best.select("vId", "cId"), "vId", "left").select(
        "vId", F.coalesce("cId", F.col("vId")).alias("cId")
    )
    return WCCResult(
        communities=communities,
        stats=best_cs,
        global_wcc=best_wcc,
        global_cc=global_cc,
        vertex_count=vertex_count,
        iterations=rounds,
        clean_vertices=vertices if keep_internals else None,
        clean_edges=clean_edges if keep_internals else None,
        tri=tri if keep_internals else None,
        wcc_history=history,
    )
