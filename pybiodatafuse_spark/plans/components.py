"""Connected components (north rule G4; reference counts them via networkx at
``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:67``).

:func:`components` runs the small-star / large-star alternation of Kiveris
et al., "Connected Components in MapReduce and Beyond" (SOCC'14) —
O(log^2 n) supersteps over the shrinking edge-pair state. Each star operator
reads its input once and takes the neighbourhood minimum with a window over
``partitionBy(u)``, so a superstep is two window-min passes and one dedup:
three shuffle exchanges, no broadcast, two scans of the state. At scale a
hub's window group is buffered in WindowExec's spillable row buffer, not
held as one in-memory array. Convergence: the edge-pair set reaches a
fixpoint, detected by an exact state fingerprint (decimal sum of per-pair
xxhash64) staying equal on two consecutive supersteps.

Component id = min vertex id in the component (matches the union-find oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.superstep import iterate
from pybiodatafuse_spark.storage import Storage


def _large_star(pairs: DataFrame) -> DataFrame:
    """Link every larger neighbour of u to u's closed-neighbourhood min.
    Duplicates are left in: small-star reads the pairs as a set."""
    nbrs = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        nbrs.select("u", "v", m.alias("m"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """Link u and every smaller neighbour of u to the min of those
    neighbours."""
    ordered = pairs.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = F.min("v").over(Window.partitionBy("u"))
    return (
        ordered.select("u", "v", m.alias("m"))
        .select(F.explode(F.array("v", "u")).alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _fingerprint() -> Column:
    # Exact, order-independent fingerprint of the pair state (a decimal sum
    # of 64-bit hashes never rounds); equal on two consecutive supersteps ⇒
    # fixpoint (hash-sum collision negligible).
    return F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))


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
    # At fixpoint the pair set is a union of stars (leaf u → component-min
    # v, always v < u): a root has no pair as u and keeps its own id.
    labels = pairs.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    return (
        vertex_ids(edges, vertices).join(labels, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
