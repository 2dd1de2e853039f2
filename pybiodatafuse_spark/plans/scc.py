"""Strongly connected components — FW-BW coloring with trim.

The reference analyzes graphs via driver-side networkx
(``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:60-80`` builds the
graph and reports component structure); directed-reachability structure at
web scale (bow-tie CORE/IN/OUT of a crawl graph) needs a distributed SCC.

Spark-first restatement of the FW-BW-Trim coloring algorithm (Orzan'04 /
Hong et al. "On Fast Parallel Detection of Strongly Connected Components",
the standard MapReduce/Pregel SCC):

outer rounds, each over the still-active subgraph:
1. **trim to fixpoint** — a vertex with in-degree 0 or out-degree 0 in the
   active subgraph cannot lie on a cycle → it is its own singleton SCC.
   On crawl graphs trimming removes the vast majority of vertices (the
   bow-tie TENDRILS) before any propagation runs.
2. **forward coloring** — min-label flooding along edge direction to a
   fixpoint: ``f(v) = min id u with a path u ⇝ v`` (including ``v``).
3. **backward settle within color** — ``v`` belongs to the SCC of root
   ``r = f(v)`` iff ``v`` also reaches ``r``; found by flooding "settled"
   backwards from the roots (``f(v) = v``) along edges, never crossing a
   color boundary. Settled vertices get ``scc = f(v)`` and leave the game.

Every inner loop shuffles only the O(active) label/frontier state: the
active edge list is pinned on each join key once per outer round
(``plans.superstep.pinned``), so per-superstep joins reuse the cached
exchange. State lineage is cut by ``localCheckpoint`` each superstep.

Outer-round count is bounded by the number of "hidden" SCC layers — small
for real web graphs (the giant SCC + trim absorbs almost everything in
round 1).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.superstep import no_aqe, pinned


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_outer: int = 25,
    max_inner: int = 10_000,
) -> DataFrame:
    """Returns ``(id: long, scc: long)`` for every vertex; ``scc`` is the
    minimum vertex id in the strongly connected component (singletons map to
    themselves, matching the Tarjan/transitive-closure oracle in
    tests/test_scc.py and the q54 recursive-CTE gate).

    Every inner loop (trim peel, forward min-label coloring, backward
    settle) runs to its FIXPOINT; ``max_inner`` is a pure safety valve that
    raises ``RuntimeError`` rather than silently truncating — min-label
    flooding needs O(diameter) supersteps, so a long directed chain/cycle
    legitimately needs more than any small fixed cap (a 150-vertex cycle is
    one SCC, not 150 singletons)."""
    with no_aqe(spark):
        return _scc_body(spark, edges, vertex_ids(edges, vertices), max_outer, max_inner)


def _scc_body(spark, edges, verts, max_outer, max_inner):
    active_v = verts.select("id").localCheckpoint(eager=True)
    active_e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    assigned: DataFrame | None = None  # (id, scc)

    def assign(df: DataFrame) -> None:
        nonlocal assigned
        assigned = (
            df if assigned is None else assigned.unionByName(df)
        ).localCheckpoint(eager=True)

    n_active = active_v.count()
    for _outer in range(max_outer):
        if n_active == 0:
            break

        # ---- 1. trim to fixpoint ------------------------------------------
        # a vertex with in-degree 0 or out-degree 0 in the active subgraph is
        # a singleton SCC: drop it from the active sets and let the final
        # unassigned→self coalesce label it (no per-round assignment needed).
        # ONE shuffle per peel: both degree bits in a single groupBy-agg.
        # (terminates: n_active strictly decreases every non-break pass, so
        # the cap can only fire on a bug — raise, never truncate silently)
        for _trim_it in range(max_inner + 1):
            if _trim_it == max_inner:
                raise RuntimeError(
                    f"SCC trim did not reach fixpoint in {max_inner} peels"
                )
            keep = (
                active_e.select(
                    F.col("src").alias("id"), F.lit(1).alias("o"), F.lit(0).alias("i")
                )
                .unionByName(
                    active_e.select(
                        F.col("dst").alias("id"), F.lit(0).alias("o"),
                        F.lit(1).alias("i"),
                    )
                )
                .groupBy("id")
                .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                .where((F.col("o") == 1) & (F.col("i") == 1))
                .select("id")
                .localCheckpoint(eager=True)
            )
            n_keep = keep.count()
            if n_keep == n_active:
                break
            active_v = keep
            n_active = n_keep
            if n_active == 0:
                break
            active_e = (
                active_e.join(
                    keep.select(F.col("id").alias("src")), "src", "left_semi"
                ).join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
        if n_active == 0:
            break

        # loop-invariant adjacency for this outer round: one copy pinned per
        # inner-join key so neither inner loop re-exchanges the edge list
        # (forward coloring joins on src; backward settle joins on dst)
        with contextlib.ExitStack() as pins:
            e_by_src = pins.enter_context(pinned(active_e, "src"))
            e_by_dst = pins.enter_context(pinned(active_e, "dst"))

            # ---- 2. forward coloring: f(v) = min id reaching v ------------
            # min-label flooding to FIXPOINT (monotone on a finite lattice →
            # converges in ≤ diameter supersteps); cap raises, never truncates.
            f = active_v.select("id", F.col("id").alias("f")).localCheckpoint(eager=True)
            for _fwd_it in range(max_inner + 1):
                if _fwd_it == max_inner:
                    raise RuntimeError(
                        f"SCC forward coloring did not converge in {max_inner} "
                        f"supersteps (changed={changed})"
                    )
                nbr_min = (
                    f.hint("shuffle_hash")
                    .join(e_by_src, f["id"] == e_by_src["src"])
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("f").alias("in_f"))
                )
                new_f = (
                    f.join(nbr_min, "id", "left").select(
                        "id",
                        F.least(F.col("f"), F.coalesce("in_f", F.col("f"))).alias("f"),
                        (F.coalesce("in_f", F.col("f")) < F.col("f"))
                        .cast("long")
                        .alias("chg"),
                    )
                    .localCheckpoint(eager=True)
                )
                changed = new_f.agg(F.sum("chg")).first()[0] or 0
                f = new_f.select("id", "f")
                if changed == 0:
                    break

            # ---- 3. backward settle within color --------------------------
            # settled(v): v reaches its root f(v) through same-colored vertices.
            # Flood backwards: an edge (v → u) with settled(u) and f(u) = f(v)
            # settles v. Frontier-driven: only newly settled ids join per step.
            f = pins.enter_context(pinned(f, "id"))
            settled = (
                f.where(F.col("id") == F.col("f"))
                .select("id", "f")
                .localCheckpoint(eager=True)
            )
            frontier = settled
            # backward settle to FIXPOINT (frontier strictly shrinks the
            # unsettled set → terminates); cap raises, never truncates.
            for _bwd_it in range(max_inner + 1):
                if _bwd_it == max_inner:
                    raise RuntimeError(
                        f"SCC backward settle did not converge in {max_inner} "
                        f"supersteps (frontier still non-empty)"
                    )
                preds = (
                    frontier.hint("shuffle_hash")
                    .join(e_by_dst, frontier["id"] == e_by_dst["dst"])
                    .select(F.col("src").alias("id"), F.col("f").alias("root"))
                    .dropDuplicates(["id", "root"])
                )
                newly = (
                    preds.join(f, "id")
                    .where(F.col("root") == F.col("f"))
                    .select("id", "f")
                    .join(settled.select("id"), "id", "left_anti")
                    .dropDuplicates(["id"])
                    .localCheckpoint(eager=True)
                )
                if newly.isEmpty():
                    break
                settled = settled.unionByName(newly).localCheckpoint(eager=True)
                frontier = newly

        assign(settled.select("id", F.col("f").alias("scc")))
        active_v = (
            active_v.join(settled.select("id"), "id", "left_anti").localCheckpoint(eager=True)
        )
        n_active = active_v.count()
        active_e = (
            active_e.join(
                active_v.select(F.col("id").alias("src")), "src", "left_semi"
            ).join(active_v.select(F.col("id").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    if n_active != 0:  # max_outer hit with leftovers
        raise RuntimeError(f"SCC did not converge in {max_outer} outer rounds")

    if assigned is None:
        return verts.select("id", F.col("id").alias("scc"))
    return verts.join(assigned, "id", "left").select(
        "id", F.coalesce("scc", F.col("id")).alias("scc")
    )


def bowtie_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_inner: int = 10_000,
    scc: DataFrame | None = None,
) -> DataFrame:
    """Bow-tie structure of a directed graph (Broder et al., "Graph structure
    in the web", WWW'00): per-vertex class over {CORE, IN, OUT, OTHER}.

    ``scc``: optionally pass a precomputed ``(id, scc)`` labeling (from
    :func:`strongly_connected_components` on the SAME edge set) to reuse it
    instead of recomputing — the SCC pass dominates the cost.

    - CORE: the largest SCC (ties broken by smallest scc id);
    - IN:   reaches CORE but is not in it;
    - OUT:  reachable from CORE but not in it;
    - OTHER: tendrils/tubes/disconnected (everything else).

    Returns ``(id: long, cls: string)``. Reachability = two frontier floods
    from the CORE set (one along reversed edges for IN, one forward for OUT),
    each shuffling only the growing reached set.
    """
    if scc is None:
        scc = strongly_connected_components(spark, edges, vertices)
    sizes = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
    top = sizes.orderBy(F.desc("n"), F.asc("scc")).limit(1)
    core_id = top.first()
    if core_id is None:
        return scc.select("id", F.lit("OTHER").alias("cls")).limit(0)
    core_scc = core_id["scc"]
    core = scc.where(F.col("scc") == F.lit(core_scc)).select("id").localCheckpoint(
        eager=True
    )

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    out_set = _flood(spark, e, core, max_inner)  # forward: reachable from core
    in_set = _flood(
        spark,
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        core,
        max_inner,
    )
    return (
        scc.join(core.select("id", F.lit(1).alias("_c")), "id", "left")
        .join(in_set.select("id", F.lit(1).alias("_i")), "id", "left")
        .join(out_set.select("id", F.lit(1).alias("_o")), "id", "left")
        .select(
            "id",
            F.when(F.col("_c").isNotNull(), F.lit("CORE"))
            .when(F.col("_i").isNotNull(), F.lit("IN"))
            .when(F.col("_o").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("OTHER"))
            .alias("cls"),
        )
    )


def _flood(spark, edges, seeds, max_inner):
    """Vertices reachable from ``seeds`` along ``edges``; seed vertices are
    ALWAYS excluded from the result (even when re-reached through a cycle) —
    bowtie classification labels CORE first, so re-reached seeds never need
    an IN/OUT label. Frontier-driven BFS to fixpoint; the edge list is
    pinned on the join key once; ``max_inner`` is a safety cap that raises
    rather than silently truncating reachability."""
    with pinned(edges.dropDuplicates(["src", "dst"]), "src") as e:
        reached = seeds.select("id").localCheckpoint(eager=True)
        frontier = reached
        out: DataFrame | None = None
        for _fl_it in range(max_inner + 1):
            if _fl_it == max_inner:
                raise RuntimeError(
                    f"reachability flood did not converge in {max_inner} hops"
                )
            nxt = (
                frontier.hint("shuffle_hash")
                .join(e, frontier["id"] == e["src"])
                .select(F.col("dst").alias("id"))
                .dropDuplicates(["id"])
                .join(reached, "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            out = (nxt if out is None else out.unionByName(nxt)).localCheckpoint(eager=True)
            reached = reached.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
    if out is None:
        return reached.limit(0)
    return out.join(seeds.select("id"), "id", "left_anti")
