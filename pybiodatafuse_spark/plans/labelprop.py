"""Synchronous label propagation (north rule G14; absent from reference).

Semantics (deterministic, matching tests/oracles.py::lpa_oracle exactly):
labels init to vertex id; each superstep every vertex simultaneously adopts
the most frequent label among its undirected neighbors, ties broken by the
smallest label; isolated vertices keep their label; stop when no label
changed or after ``max_iter`` supersteps (synchronous LPA can oscillate, so
the cap is part of the definition).

Scale notes: the mode-per-vertex aggregation is two partial-aggregatable
groupBys — (vertex, label) counts, then argmax via ``max(struct(cnt, -label))``
— no window function, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import symmetrize, vertex_ids
from pybiodatafuse_spark.plans.superstep import iterate, pinned
from pybiodatafuse_spark.storage import Storage


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_iter: int = 10,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ``(id: long, label: long)``."""
    state0 = vertex_ids(edges, vertices).select(
        "id", F.col("id").alias("label"), F.lit(1).alias("changed")
    )
    # pinned adjacency: only the O(V) label state shuffles per superstep
    with pinned(symmetrize(edges), "src") as sym:

        def step(state: DataFrame, k: int, carry: dict):
            # shuffle_hash: the O(V) state side builds the hash map; SMJ would
            # re-sort the cached adjacency every superstep
            nbr_labels = state.hint("shuffle_hash").join(
                sym, state["id"] == sym["src"]
            ).select(F.col("dst").alias("id"), "label")
            winner = (
                nbr_labels.groupBy("id", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .groupBy("id")
                .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("best"))
                .select("id", (-F.col("best.neg")).alias("new_label"))
            )
            new = (
                state.select("id", "label")
                .join(winner, "id", "left")
                .select(
                    "id",
                    F.coalesce("new_label", "label").alias("label"),
                    (F.coalesce("new_label", "label") != F.col("label"))
                    .cast("int")
                    .alias("changed"),
                )
            )
            return new, F.sum("changed").cast("double"), None

        res = iterate(
            spark,
            state0,
            step,
            algorithm="label_propagation",
            max_iter=max_iter,
            tol=0.5,
            checkpoint_every=checkpoint_every,
            storage=storage,
            run_id=run_id,
        )
    return res.state.select("id", "label")
