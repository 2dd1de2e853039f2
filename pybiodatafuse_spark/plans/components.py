"""Connected components (north rule G4; reference counts them via networkx at
``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:67``).

:func:`components` runs the small-star / large-star alternation of Kiveris
et al., "Connected Components in MapReduce and Beyond" (SOCC'14) —
O(log^2 n) supersteps, each superstep a pair of groupBy-min + join rounds
over the shrinking edge-pair state. Convergence: the edge-pair multiset
reaches a fixpoint, detected by a deterministic state fingerprint (sum of
per-pair xxhash64) staying equal on two consecutive supersteps.

Component id = min vertex id in the component (matches the union-find oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.superstep import iterate
from pybiodatafuse_spark.storage import Storage


def _large_star(pairs: DataFrame) -> DataFrame:
    nbrs = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    ordered = pairs.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = ordered.groupBy("u").agg(F.min("v").alias("m"))  # all v < u here
    with_self = ordered.unionByName(
        ordered.select("u", F.col("u").alias("v")).dropDuplicates(["u"])
    )
    return (
        with_self.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .dropDuplicates(["u", "v"])
    )


def _fingerprint() -> Column:
    # Deterministic multiset fingerprint of the pair state; equal on two
    # consecutive supersteps ⇒ fixpoint (hash-sum collision negligible).
    return F.sum(F.xxhash64("u", "v").cast("double"))


def components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_iter: int = 50,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ``(id: long, component: long)`` for every vertex (isolated
    vertices map to themselves)."""
    pairs0 = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )

    def step(state: DataFrame, k: int, carry: dict):
        return _small_star(_large_star(state)), _fingerprint(), None

    pairs = iterate(
        spark,
        pairs0,
        step,
        algorithm="components_two_phase",
        max_iter=max_iter,
        stop_when=lambda ds: len(ds) >= 2 and ds[-1] == ds[-2],
        checkpoint_every=checkpoint_every,
        storage=storage,
        run_id=run_id,
    ).state
    # At fixpoint the pair set is a union of stars (v → component-min m).
    roots = pairs.select(F.col("v").alias("id")).dropDuplicates(["id"])
    labels = (
        pairs.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(roots.select("id", F.col("id").alias("component")))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
    return (
        vertex_ids(edges, vertices).join(labels, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
