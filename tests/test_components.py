"""Connected components: the two-phase (small-star / large-star) algorithm
exact vs union-find oracle, on the pages fixture and on adversarial random
graphs (paths, stars, forests). The ``algorithm`` parameter only names the
algorithm in the test ids."""

from __future__ import annotations

import numpy as np
import pytest

from pybiodatafuse_spark.plans.components import _fingerprint, components
from tests.graph_fixture import oracle_edges
from tests.oracles import components_oracle

N = 400


@pytest.mark.parametrize("algorithm", ["two_phase"])
def test_components_match_oracle_on_pages(spark, graph400, algorithm):
    verts, edges, page_to_id = graph400
    got = {
        r["id"]: r["component"]
        for r in components(spark, edges, verts).collect()
    }
    want = components_oracle(
        [(s, d) for s, d, _ in oracle_edges(N, page_to_id)], set(page_to_id.values())
    )
    assert got == want
    assert len(set(got.values())) >= 2  # fixture guarantees ≥2 components


@pytest.mark.parametrize("algorithm", ["two_phase"])
@pytest.mark.parametrize("case", ["path", "random_forest", "star", "isolated"])
def test_components_adversarial(spark, algorithm, case):
    rng = np.random.default_rng(7)
    if case == "path":  # long path: worst case for plain min-flooding
        # 24 vertices: still far past the O(log n) rounds of the two-phase
        # algorithm (the property under test), at ~60% of the superstep cost
        # of the old 40-vertex path
        vs = list(range(100, 124))
        es = [(vs[i], vs[i + 1]) for i in range(len(vs) - 1)]
    elif case == "random_forest":
        vs = list(range(200))
        es = [(int(rng.integers(0, i)), i) for i in range(1, 200) if rng.random() < 0.7]
    elif case == "star":
        vs = list(range(50))
        es = [(49, i) for i in range(49)]  # min id at a leaf
    else:
        vs = list(range(10))
        es = [(1, 2)]
    edges = spark.createDataFrame(
        [(int(a), int(b), 1.0, 1) for a, b in es], "src long, dst long, weight double, etype int"
    )
    verts = spark.createDataFrame([(int(v),) for v in vs], "id long")
    got = {
        r["id"]: r["component"]
        for r in components(spark, edges, verts, max_iter=60).collect()
    }
    want = components_oracle(es, set(vs))
    assert got == want


def test_fingerprint_exact_across_orders_and_partitionings(spark):
    """The fixpoint test compares two consecutive fingerprints for equality,
    so the same pair set must give the bit-identical fingerprint whatever the
    row order and partitioning (a floating-point hash sum does not)."""
    rng = np.random.default_rng(3)
    rows = [(int(a), int(b)) for a, b in rng.integers(0, 10**6, size=(2000, 2))]
    fwd = spark.createDataFrame(rows, "u long, v long").repartition(1)
    rev = spark.createDataFrame(rows[::-1], "u long, v long").repartition(7, "v")
    prints = [df.agg(_fingerprint()).first()[0] for df in (fwd, rev)]
    assert prints[0] == prints[1]


def test_components_on_union_of_edge_sources(spark):
    """An edge table unioned from two derived sources (two spark.range
    projections here) carries per-branch constraints into the pair state;
    the superstep plan must still analyse and match the oracle."""
    from pyspark.sql import functions as F

    path = spark.range(100, 123).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    chords = spark.range(1, 50).select(
        F.col("id").alias("src"), ((F.col("id") * 7) % 50).alias("dst")
    )
    edges = path.unionByName(chords)
    es = [(i, i + 1) for i in range(100, 123)] + [(i, i * 7 % 50) for i in range(1, 50)]
    vs = {v for e in es for v in e}
    got = {r["id"]: r["component"] for r in components(spark, edges).collect()}
    assert got == components_oracle(es, vs)
