"""Edge/vertex builder vs the numpy oracle edge list (SURVEY.md §7 step 3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import degrees, symmetrize
from tests.graph_fixture import id_maps, oracle_edges, spark_graph

N = 400


def test_vertices_one_per_page(spark, pages_df):
    verts, _ = spark_graph(pages_df)
    assert verts.count() == N
    assert verts.select("id").distinct().count() == N  # no xxhash64 collisions


def test_edges_match_oracle(spark, pages_df):
    verts, edges = spark_graph(pages_df)
    _, page_to_id = id_maps(verts)
    expected = sorted(oracle_edges(N, page_to_id))
    got = sorted(
        (r["src"], r["dst"], r["weight"])
        for r in edges.select("src", "dst", "weight").collect()
    )
    assert got == expected


def test_graph_shape_guarantees(spark, pages_df):
    """FIXTURES.md: dangling pages exist; hub in-degree >> median; no self-loops."""
    verts, edges = spark_graph(pages_df)
    deg = degrees(edges)
    n_dangling = verts.join(
        edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    ).count()
    assert n_dangling >= 1
    in_degs = sorted(r["in_deg"] for r in deg.collect())
    assert in_degs[-1] >= 20 * max(1, in_degs[len(in_degs) // 2])
    assert edges.where(F.col("src") == F.col("dst")).count() == 0


def test_symmetrize(spark, pages_df):
    _, edges = spark_graph(pages_df)
    sym = symmetrize(edges)
    fwd = {(r["src"], r["dst"]) for r in sym.collect()}
    assert all((d, s) in fwd for s, d in fwd)
