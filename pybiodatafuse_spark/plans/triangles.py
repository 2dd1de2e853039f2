"""Triangle counting via degree-ordered edge orientation (north rule G14).

Each undirected edge {a, b} is oriented low→high by the total order
``(degree, id)`` — every triangle {a ≺ b ≺ c} is counted exactly once as the
wedge (a→b, a→c) closed by b→c. Wedge generation is a self-join of the
oriented edge list on its source; high-degree vertices sit on the *high* end
of the order, so the wedge fan-out per source is bounded (the classic skew
defense for triangle enumeration).

Broadcast-aware: when the oriented edge list fits the broadcast threshold,
the closing join broadcasts it (no shuffle); otherwise Catalyst/AQE picks a
shuffled join with skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import symmetrize

# oriented-edge count up to which the closing join broadcasts the edge list
BROADCAST_THRESHOLD = 5_000_000


def _oriented(edges: DataFrame) -> DataFrame:
    """Oriented edge list (u, v) with (deg, id)-order u ≺ v, carrying the
    order keys (dv, v) needed for ≺ comparisons downstream."""
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    half = sym.where(F.col("src") < F.col("dst"))  # one row per undirected edge
    ds = deg.select(F.col("id").alias("src"), F.col("deg").alias("d_src"))
    dd = deg.select(F.col("id").alias("dst"), F.col("deg").alias("d_dst"))
    with_deg = half.join(ds, "src").join(dd, "dst")
    src_first = (F.col("d_src") < F.col("d_dst")) | (
        (F.col("d_src") == F.col("d_dst")) & (F.col("src") < F.col("dst"))
    )
    return with_deg.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(src_first, F.col("d_dst")).otherwise(F.col("d_src")).alias("dv"),
    )


def triangles(spark: SparkSession, edges: DataFrame) -> tuple[int, DataFrame]:
    """Returns ``(total, per_vertex)`` where per_vertex = (id, triangles)
    for every vertex participating in ≥1 triangle."""
    e = _oriented(edges).persist()
    n_edges = e.count()

    e1 = e.select(F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    e2 = e.select(F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = e1.join(e2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = e.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    if n_edges <= BROADCAST_THRESHOLD:
        closing = F.broadcast(closing)
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    tris = tris.persist()
    total = tris.count()
    per_vertex = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return total, per_vertex


def triangle_count(spark: SparkSession, edges: DataFrame) -> int:
    return triangles(spark, edges)[0]
