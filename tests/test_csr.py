"""CSR fast path: identical results to the DataFrame PageRank (1e-12),
convergence, and block-cache invalidation on re-spill."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.csr import pagerank_csr
from pybiodatafuse_spark.plans.pagerank import pagerank


@pytest.fixture(scope="module")
def graph(graph400):
    verts, edges, _ = graph400
    return verts, edges


def test_csr_matches_dataframe_path(spark, graph):
    verts, edges = graph
    a = pagerank(spark, edges, verts, tol=None, max_iter=8, hub_threshold=5)
    b = pagerank_csr(spark, edges, verts, tol=None, max_iter=8, num_blocks=8)
    ra = {r["id"]: r["rank"] for r in a.state.select("id", "rank").collect()}
    rb = {r["id"]: r["rank"] for r in b.state.select("id", "rank").collect()}
    assert ra.keys() == rb.keys()
    assert max(abs(ra[k] - rb[k]) for k in ra) < 1e-12


def test_csr_convergence(spark, graph):
    """The CSR path's STOPPING machinery (tol reached → converged flag, mass
    conserved). tol=1e-4 keeps this ~30 supersteps cheaper than a full 1e-6
    run; the north-rule 1e-6 convergence itself is covered once in
    test_pagerank (DataFrame path) + gate q40, and CSR↔DataFrame identity is
    pinned at 1e-12 by test_csr_matches_dataframe_path above."""
    verts, edges = graph
    res = pagerank_csr(spark, edges, verts, tol=1e-4, max_iter=120, num_blocks=8)
    assert res.converged and res.deltas[-1] < 1e-4
    total = res.state.agg(F.sum("rank").alias("s")).first()["s"]
    assert abs(total - 1.0) < 1e-9


def test_sidecar_respill_same_store_invalidates(spark, tmp_path):
    """Re-spilling DIFFERENT edges into the SAME store path must not serve
    stale cached blocks from reused Python workers (content-aware cache key)."""
    store = str(tmp_path / "csr_store")
    e1 = spark.createDataFrame(
        [(i, (i + 1) % 20, 1.0, 1) for i in range(20)],
        "src long, dst long, weight double, etype int",
    )
    e2 = spark.createDataFrame(
        [(i, (i + 7) % 20, 1.0, 1) for i in range(20)]
        + [(0, 13, 4.0, 1), (5, 2, 2.0, 1)],
        "src long, dst long, weight double, etype int",
    )
    # run 1 populates worker caches for this store path
    pagerank_csr(spark, e1, tol=None, max_iter=3, num_blocks=4, block_store=store)
    # run 2 re-spills different edges into the SAME path
    got = pagerank_csr(spark, e2, tol=None, max_iter=5, num_blocks=4, block_store=store)
    want = pagerank_csr(
        spark, e2, tol=None, max_iter=5, num_blocks=4,
        block_store=str(tmp_path / "fresh_store"),
    )
    g = {r["id"]: r["rank"] for r in got.state.select("id", "rank").collect()}
    w = {r["id"]: r["rank"] for r in want.state.select("id", "rank").collect()}
    assert g.keys() == w.keys()
    assert max(abs(g[k] - w[k]) for k in g) < 1e-15
