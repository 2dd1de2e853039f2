"""PageRank vs pure-Python oracle.

Structure (kept fast: supersteps cost ~1s of Spark overhead each):
- fixed-iteration equivalence (25 steps, fp-noise-only tolerance) proves the
  per-superstep semantics — dangling mass, damping, weighted contribs;
- ONE full tol=1e-6 convergence run (north rule) vs a tol=1e-9 oracle
  "truth", allclose 1e-6, shared by several assertions via a module fixture;
- hub-salting equivalence at fixed iterations;
- checkpoint/resume identity + metrics lineage.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.pagerank import pagerank, top_ranks
from pybiodatafuse_spark.storage import Storage, new_run_id
from tests.graph_fixture import oracle_edges
from tests.oracles import pagerank_oracle

N = 400


@pytest.fixture(scope="module")
def graph(graph400):
    return graph400


@pytest.fixture(scope="module")
def converged(spark, graph):
    verts, edges, page_to_id = graph
    res = pagerank(spark, edges, verts, tol=1e-6, max_iter=120, hub_threshold=5)
    got = {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}
    truth = pagerank_oracle(
        oracle_edges(N, page_to_id), set(page_to_id.values()), tol=1e-9, max_iter=300
    )
    return res, got, truth


def _max_diff(got, want):
    assert got.keys() == want.keys()
    return max(abs(got[k] - want[k]) for k in want)


def test_fixed_iteration_equivalence(spark, graph):
    verts, edges, page_to_id = graph
    res = pagerank(spark, edges, verts, tol=None, max_iter=12, hub_threshold=5)
    got = {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}
    want = pagerank_oracle(
        oracle_edges(N, page_to_id), set(page_to_id.values()), tol=0.0, max_iter=12
    )
    assert _max_diff(got, want) < 1e-12
    assert res.supersteps == 12 and not res.converged


def test_convergence_north_rule(spark, converged):
    res, got, truth = converged
    assert res.converged and res.deltas[-1] < 1e-6
    assert _max_diff(got, truth) < 1e-6  # allclose 1e-6 vs converged truth
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)  # mass conserved
    assert all(d >= 0 for d in res.deltas)


def test_top_ranks_hub_first(spark, converged, graph):
    res, _, _ = converged
    _, _, page_to_id = graph
    top = top_ranks(res, 5).collect()
    id_to_page = {v: k for k, v in page_to_id.items()}
    # first page of the big component is the preferential-attachment hub
    assert id_to_page[top[0]["id"]] == 0
    assert top[0]["rank"] > top[1]["rank"] or (
        top[0]["rank"] == top[1]["rank"] and top[0]["id"] < top[1]["id"]
    )


def test_salting_does_not_change_result(spark, graph):
    verts, edges, _ = graph
    unsalted = pagerank(
        spark, edges, verts, tol=None, max_iter=6, hub_threshold=10**9, num_salts=1
    )
    salted = pagerank(
        spark, edges, verts, tol=None, max_iter=6, hub_threshold=2, num_salts=4
    )
    a = {r["id"]: r["rank"] for r in unsalted.state.select("id", "rank").collect()}
    b = {r["id"]: r["rank"] for r in salted.state.select("id", "rank").collect()}
    assert _max_diff(a, b) < 1e-12


def test_checkpoint_resume_and_metrics(spark, graph, tmp_path):
    verts, edges, _ = graph
    store = Storage(str(tmp_path / "store"))
    run_id = new_run_id()
    partial = pagerank(
        spark, edges, verts, tol=None, max_iter=6, hub_threshold=5,
        storage=store, run_id=run_id, checkpoint_every=3,
    )
    assert store.last_checkpoint_step("pagerank", run_id) == 6
    state = store.read_checkpoint(spark, "pagerank", run_id, 6)
    assert state.count() == N
    # snapshot == live state (resumability: the checkpoint IS the state)
    live = {r["id"]: r["rank"] for r in partial.state.select("id", "rank").collect()}
    snap = {r["id"]: r["rank"] for r in state.select("id", "rank").collect()}
    assert live == snap
    metrics = store.read_metrics(spark).where(F.col("run_id") == run_id)
    glob = metrics.where("partition_id = -1")
    assert glob.count() == 6  # one global row per superstep
    assert glob.where(F.col("l1_delta").isNull()).count() == 0
    per_part = metrics.where("partition_id >= 0")
    total_rows = {
        r["superstep"]: r["s"]
        for r in per_part.groupBy("superstep").agg(F.sum("rows_out").alias("s")).collect()
    }
    # every superstep's per-partition lineage sums to the state size
    assert total_rows == {k: N for k in range(1, 7)}


def test_warm_start_converges_fast_and_exact(spark, graph, converged):
    """init_ranks = previous converged vector → re-convergence in a handful
    of supersteps, same fixpoint (the incremental daily-snapshot path)."""
    verts, edges, page_to_id = graph
    res, got, truth = converged
    prev = res.state.select("id", "rank")
    warm = pagerank(
        spark, edges, verts, tol=1e-6, max_iter=120, hub_threshold=5,
        init_ranks=prev,
    )
    assert warm.supersteps <= 3, warm.supersteps  # cold run needs dozens
    warm_got = {r["id"]: r["rank"] for r in warm.state.select("id", "rank").collect()}
    assert _max_diff(warm_got, truth) < 1e-5


def test_warm_start_with_new_vertices_matches_cold(spark, graph, converged):
    """Warm start over a GROWN graph (new edges + vertices vs the prior
    vector) reaches the same fixpoint as a cold start. The prior vector is
    the module's already-converged tol=1e-6 run (shared fixture — no third
    full convergence here)."""
    verts, edges, page_to_id = graph
    base, _, _ = converged
    extra = spark.createDataFrame(
        [(10_000_001, 10_000_002, 1.0, 1), (10_000_002, 10_000_001, 1.0, 1)],
        "src long, dst long, weight double, etype int",
    )
    grown = edges.select("src", "dst", "weight", "etype").unionByName(extra)
    cold = pagerank(spark, grown, tol=1e-4, max_iter=200, hub_threshold=5)
    warmr = pagerank(
        spark, grown, tol=1e-4, max_iter=200, hub_threshold=5,
        init_ranks=base.state.select("id", "rank"),
    )
    cold_got = {r["id"]: r["rank"] for r in cold.state.collect()}
    warm_got = {r["id"]: r["rank"] for r in warmr.state.collect()}
    assert cold_got.keys() == warm_got.keys()
    # both runs stop at L1 delta < 1e-4, so the two fixpoint approximations
    # agree to ~tol/(1-d); the warm start must land there in fewer steps
    assert max(abs(cold_got[k] - warm_got[k]) for k in cold_got) < 1e-3
    assert warmr.supersteps < cold.supersteps


def test_incremental_snapshot_rerank_end_to_end(spark, tmp_path):
    """The daily-crawl incremental loop: snapshot v1 → converge → append a
    crawl delta (snapshot v2) → edge_delta identifies the change →
    warm-start re-rank over v2 matches a cold run on v2."""
    from pybiodatafuse_spark.operators.edges import edge_delta
    from pybiodatafuse_spark.storage import Storage

    st = Storage(str(tmp_path / "store"))
    e1 = spark.createDataFrame(
        [(i, (i + 1) % 30, 1.0, 1) for i in range(30)],
        "src long, dst long, weight double, etype int",
    )
    snap1 = st.append(e1, "edges")
    base = pagerank(
        spark, st.read_table(spark, "edges", snapshot_id=snap1),
        tol=1e-6, max_iter=200, hub_threshold=5,
    )
    delta = spark.createDataFrame(
        [(i, (i + 7) % 30, 1.0, 1) for i in range(0, 30, 3)],
        "src long, dst long, weight double, etype int",
    )
    snap2 = st.append(delta, "edges")
    old = st.read_table(spark, "edges", snapshot_id=snap1)
    new = st.read_table(spark, "edges", snapshot_id=snap2)
    changes = edge_delta(old, new).collect()
    assert {r["change"] for r in changes} == {"added"}
    assert len(changes) == 10 - sum(
        1 for i in range(0, 30, 3) if (i + 7) % 30 == (i + 1) % 30
    )
    warm = pagerank(
        spark, new, tol=1e-6, max_iter=200, hub_threshold=5,
        init_ranks=base.state.select("id", "rank"),
    )
    cold = pagerank(spark, new, tol=1e-6, max_iter=200, hub_threshold=5)
    wg = {r["id"]: r["rank"] for r in warm.state.collect()}
    cg = {r["id"]: r["rank"] for r in cold.state.collect()}
    assert max(abs(wg[k] - cg[k]) for k in cg) < 1e-4
