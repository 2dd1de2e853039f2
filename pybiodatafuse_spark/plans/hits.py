"""HITS (hubs & authorities) as checkpointed DataFrame supersteps.

Like PageRank (plans/pagerank.py) this operator is absent from the reference
(SURVEY.md §2.8 G14 names the iterative-graph family); the structural template
is the same convergence loop as the reference's EM training
(``/root/reference/src/pyBiodatafuse/algorithms/DREAMwalk/generate_embeddings.py:165-188``).

Semantics (classic Kleinberg power iteration):

    auth_{k+1}(v) = Σ_{(u,v)∈E} hub_k(u)
    hub_{k+1}(u)  = Σ_{(u,v)∈E} auth_{k+1}(v)

with L2 normalization. Because the final answer is normalized, any positive
per-iteration scalar cancels — so the loop keeps *semi-normalized* raw values
(each update divides by the PREVIOUS iteration's carried L2 norm, which keeps
magnitudes O(1) without needing the new norm mid-superstep) and the exact
L2-normalized scores are produced once at the end from the last carried norms.
The per-superstep fused agg carries ``Σ auth²``/``Σ hub²`` and the L1 delta of
the semi-normalized auth vector (which converges iff the normalized iteration
converges, since the scale factors converge to the principal singular value).

Scale design:
- two loop-invariant copies of the edge list, each pinned on its join key
  (``src`` for the auth update, ``dst`` for the hub update) with
  ``plans.superstep.pinned``, so neither O(E) side re-exchanges across
  supersteps — only the O(V) score rows move;
- one superstep = two join+partial-agg rounds + one outer assemble, one
  action (the fused count/delta/norm agg), lineage truncated every superstep
  by the shared superstep engine (AQE off inside the loop so checkpointed
  state keeps its partitioning — see plans/superstep.no_aqe).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pinned
from pybiodatafuse_spark.storage import Storage


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    tol: float | None = 1e-8,
    max_iter: int = 20,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ``(id, auth, hub)`` with both score vectors L2-normalized.

    ``edges(src, dst, ...)`` directed, deduplicated; parallel edges would
    count multiply (callers dedup — build_edges already does). ``vertices``
    optional (defaults to edge endpoints). ``tol`` is the L1 delta of the
    semi-normalized auth vector; ``tol=None`` runs exactly ``max_iter``
    supersteps (the SQL-unrollable form the driver gate uses).
    """
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    verts = vertex_ids(e, vertices)
    n = verts.count()
    if n == 0:
        raise ValueError("hits: empty vertex set")

    state0 = verts.select(
        "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
    )
    norm_aggs = [
        F.sum(F.col("auth") * F.col("auth")).alias("_a2"),
        F.sum(F.col("hub") * F.col("hub")).alias("_h2"),
    ]

    # loop-invariant: one pinned copy per join key, so neither half-superstep
    # re-exchanges an edge side
    with pinned(e, "src") as e_by_src, pinned(e, "dst") as e_by_dst:

        def step(state: DataFrame, k: int, carry: dict):
            # norms of the CURRENT state: carried from the previous superstep's
            # fused agg; closed-form on the 1-vector init (||1||² = n); a resumed
            # run's first superstep recomputes them from the checkpointed state
            if "_a2" not in carry:
                carry = {"_a2": n, "_h2": n} if k <= 1 else state.agg(*norm_aggs).first()
            a_norm = math.sqrt(carry["_a2"])
            h_norm = math.sqrt(carry["_h2"])
            hubs = state.select("id", (F.col("hub") / F.lit(h_norm)).alias("h")).hint(
                "shuffle_hash"
            )
            auth_new = (
                hubs.join(e_by_src, hubs["id"] == e_by_src["src"])
                .groupBy("dst")
                .agg(F.sum("h").alias("auth_new"))
            )
            # hub update consumes the *semi-normalized* new auth (divide by the
            # previous auth norm — any positive scalar cancels in the final
            # normalization; see module docstring)
            an = auth_new.select(
                F.col("dst").alias("aid"), (F.col("auth_new") / F.lit(a_norm)).alias("a")
            ).hint("shuffle_hash")
            hub_new = (
                an.join(e_by_dst, an["aid"] == e_by_dst["dst"])
                .groupBy("src")
                .agg(F.sum("a").alias("hub_new"))
            )
            new_state = (
                state.join(auth_new, state["id"] == auth_new["dst"], "left")
                .join(hub_new, state["id"] == hub_new["src"], "left")
                .select(
                    state["id"],
                    (F.coalesce(F.col("auth_new"), F.lit(0.0)) / F.lit(a_norm)).alias(
                        "auth"
                    ),
                    F.coalesce(F.col("hub_new"), F.lit(0.0)).alias("hub"),
                    state["auth"].alias("prev_auth"),
                )
            )
            # delta over the stored (semi-normalized) auth values: they stabilize
            # exactly when the normalized iteration converges
            delta = F.sum(F.abs(F.col("auth") - F.col("prev_auth")))
            return new_state, delta, norm_aggs

        result: SuperstepResult = iterate(
            spark,
            state0,
            step,
            algorithm="hits",
            max_iter=max_iter,
            tol=tol,
            checkpoint_every=checkpoint_every,
            storage=storage,
            run_id=run_id,
        )
    # final exact L2 normalization: one cheap O(V) agg on the cached state
    norms = result.state.agg(
        F.sum(F.col("auth") * F.col("auth")).alias("a2"),
        F.sum(F.col("hub") * F.col("hub")).alias("h2"),
    ).first()
    a_n = math.sqrt(norms["a2"]) or 1.0
    h_n = math.sqrt(norms["h2"]) or 1.0
    return result.state.select(
        "id",
        (F.col("auth") / F.lit(a_n)).alias("auth"),
        (F.col("hub") / F.lit(h_n)).alias("hub"),
    )
