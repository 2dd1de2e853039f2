"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

These assert the *plan*, not the result — regressions here are silent
performance bugs at 100 TB even when outputs stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages_path(spark, pages_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_df.write.mode("overwrite").parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark, pages_path):
    df = spark.read.parquet(pages_path).where(F.col("lang") == "en").select("url")
    plan = _fmt(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruned_scan(spark, pages_path):
    df = spark.read.parquet(pages_path).select("url", "lang")
    plan = _fmt(df)
    # html/text (the heavy columns) must NOT be read for a url/lang projection
    assert "ReadSchema: struct<url:string,lang:string>" in plan


def test_small_dim_join_broadcasts(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    dim = spark.createDataFrame([("en", "english")], "lang string, name string")
    j = pages.join(dim, "lang")
    assert "BroadcastHashJoin" in _plan(j)


def test_superstep_join_is_not_broadcast_or_sortmerge(spark):
    """The PageRank contribs path must stay shuffle-hash (no per-superstep
    sort of the edge table, no single-threaded broadcast build)."""
    from pybiodatafuse_spark.plans.pagerank import _prepare

    edges = spark.createDataFrame(
        [(i, (i + 1) % 50, 1.0, 1) for i in range(50)],
        "src long, dst long, weight double, etype int",
    )
    edges_norm, init, salted = _prepare(edges, None, 4, 1000, None)
    assert not salted  # hub-free graph → adaptive unsalted plan
    ranks = init.select("id", F.lit(0.02).alias("rank")).hint("shuffle_hash")
    joined = ranks.join(edges_norm, ranks["id"] == edges_norm["src"])
    plan = _plan(joined)
    assert "ShuffledHashJoin" in plan
    edges_norm.unpersist()


def test_superstep_edge_side_never_reshuffles(spark):
    """The loop-invariant edge table is pre-partitioned on the join keys, so
    the executed superstep join must read it straight from the cache with NO
    Exchange above the InMemoryTableScan — each superstep shuffles only the
    O(V) rank rows. Regressing this re-shuffles O(E) per superstep (measured
    1.6× superstep cost at 27M edges and the collapse of N→4N scaling)."""
    from pybiodatafuse_spark.plans.pagerank import _prepare

    edges = spark.createDataFrame(
        [(i, (i + 3) % 60, 1.0, 1) for i in range(60)],
        "src long, dst long, weight double, etype int",
    )
    edges_norm, init, salted = _prepare(edges, None, 4, 1000, None)
    assert not salted  # hub-free graph → unsalted join on src alone
    ranks = init.select("id", F.lit(0.02).alias("rank")).hint("shuffle_hash")
    joined = ranks.join(edges_norm, ranks["id"] == edges_norm["src"])
    joined.count()  # execute so AQE finalizes the plan
    plan = _plan(joined)
    assert "InMemoryTableScan" in plan and "ShuffledHashJoin" in plan, plan
    # the join's edge child (the right branch, ending at the cache scan) must
    # contain NO Exchange: its cached partitioning satisfies the join
    lines = plan.splitlines()
    scan_i = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    start_i = next(
        i for i in range(scan_i, -1, -1) if lines[i].lstrip().startswith("+- ")
        and len(lines[i]) - len(lines[i].lstrip()) <= 3
    )
    edge_branch = "\n".join(lines[start_i:scan_i])
    assert "Exchange" not in edge_branch, plan
    edges_norm.unpersist()


def test_whole_stage_codegen_in_agg(spark, pages_path):
    # the session fixture disables codegen for suite speed; this gate is
    # ABOUT codegen, so flip it on for the duration of this one plan
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        df = (
            spark.read.parquet(pages_path)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        df.collect()  # AQE: codegen ids appear in the FINAL plan only
        # agg runs inside WholeStageCodegen spans
        assert "[codegen id :" in _fmt(df)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")


def test_em_sample_filter_below_wedge_join(spark, tmp_path):
    """G8 scale gate: the EM edge sample must be applied BELOW the wedge
    self-join (pushed into both scan sides) so the O(Σ deg²) wedge set is
    never materialized — the sampled predicate appears as a Filter in each
    join child, not once above the join."""
    from pybiodatafuse_spark.plans.em import sampled_wedges

    p = str(tmp_path / "edges")
    spark.createDataFrame(
        [(i, (i + 1) % 40, 1.0, i % 2) for i in range(40)],
        "src long, dst long, weight double, etype int",
    ).write.mode("overwrite").parquet(p)
    edges = spark.read.parquet(p)
    w = sampled_wedges(edges, it=1, sample_mod=2)
    plan = _plan(w)
    join_i = plan.index("Join") if "Join" in plan else plan.index("join")
    below = plan[join_i:]
    # the md5-hash sample predicate must occur in BOTH children below the join
    assert below.count("pmod(cast(conv(substring(md5") >= 2, plan


def test_metrics_prefix_scan_has_no_single_partition_window(spark):
    """evaluate_predictions' prefix scan must stay distributed: the executed
    plan of the curve relation may not contain a SinglePartition exchange
    (the signature of an unpartitioned Window.orderBy, which coalesces the
    whole scored relation into one task — the 100-TB scale-killer q47 had
    in r2). The windows must be partitioned (hashpartitioning on pid)."""
    from pybiodatafuse_spark.operators.linkpred import _score_curve

    scored = spark.range(5000).select(
        (F.pmod(F.xxhash64("id"), 1000) / 1000.0).alias("score"),
        (F.col("id") % 3 == 0).cast("int").alias("label"),
    )
    curve, rb, n, npos = _score_curve(scored, "score", "label")
    curve.count()  # execute so AQE finalizes
    plan = _plan(curve)
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan
    rb.unpersist()


def test_walk_adjacency_side_never_reshuffles(spark):
    """The walk adjacency is loop-invariant: _pin hash-partitions it on src
    with the session shuffle-partition count and persists, so every hop's
    frontier ⋈ adjacency join must read it straight from the cache with NO
    Exchange above the InMemoryTableScan — each hop shuffles only the
    O(active walks) frontier (the defect class pagerank._prepare documents;
    walks had it until r3)."""
    from pybiodatafuse_spark.plans.walks import _pin, _typed_adjacency

    edges = spark.createDataFrame(
        [(i, (i + 3) % 60, 1.0, i % 2) for i in range(60)],
        "src long, dst long, weight double, etype int",
    )
    adj = _pin(_typed_adjacency(edges))
    frontier = spark.range(40).select(
        F.col("id").alias("walk_id"), (F.col("id") % 60).alias("cur")
    )
    joined = frontier.hint("shuffle_hash").join(
        adj, frontier["cur"] == adj["src"], "left"
    )
    joined.count()  # execute so AQE finalizes the plan
    plan = _plan(joined)
    assert "InMemoryTableScan" in plan, plan
    lines = plan.splitlines()
    scan_i = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    start_i = next(
        i for i in range(scan_i, -1, -1) if lines[i].lstrip().startswith("+- ")
        and len(lines[i]) - len(lines[i].lstrip()) <= 3
    )
    edge_branch = "\n".join(lines[start_i:scan_i])
    assert "Exchange" not in edge_branch, plan
    adj.unpersist()


def _no_exchange_above_cache_scan(plan: str) -> None:
    lines = plan.splitlines()
    scan_i = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    start_i = next(
        i for i in range(scan_i, -1, -1) if lines[i].lstrip().startswith("+- ")
        and len(lines[i]) - len(lines[i].lstrip()) <= 3
    )
    assert "Exchange" not in "\n".join(lines[start_i:scan_i]), plan


def test_scc_inner_loops_never_reshuffle_edges(spark):
    """Both SCC inner loops (forward coloring joins on src, backward settle
    joins on dst) must read their pinned edge copy straight from cache with
    no Exchange — per-superstep shuffle is O(active labels), not O(E)."""
    from pybiodatafuse_spark.plans.scc import _pin

    edges = spark.createDataFrame(
        [(i, (i + 7) % 80, ) for i in range(80)], "src long, dst long"
    )
    e_src = _pin(edges, "src")
    e_dst = _pin(edges, "dst")
    labels = spark.range(80).select("id", F.col("id").alias("f"))
    fwd = labels.hint("shuffle_hash").join(e_src, labels["id"] == e_src["src"])
    fwd.count()
    _no_exchange_above_cache_scan(_plan(fwd))
    bwd = labels.hint("shuffle_hash").join(e_dst, labels["id"] == e_dst["dst"])
    bwd.count()
    _no_exchange_above_cache_scan(_plan(bwd))
    e_src.unpersist()
    e_dst.unpersist()


def test_bfs_frontier_join_never_reshuffles_edges(spark):
    from pybiodatafuse_spark.plans.bfs import _pin_edges

    edges = spark.createDataFrame(
        [(i, (i + 3) % 70) for i in range(70)], "src long, dst long"
    )
    e = _pin_edges(edges, "src")
    frontier = spark.range(20).select("id")
    j = frontier.hint("shuffle_hash").join(e, frontier["id"] == e["src"])
    j.count()
    _no_exchange_above_cache_scan(_plan(j))
    e.unpersist()


def test_anf_hll_union_is_partial_aggregated(spark):
    """The ANF flood's hll_union_agg must run as a two-phase aggregate
    (partial merge map-side before the shuffle): the executed plan has two
    ObjectHashAggregate nodes for the union, so the shuffle carries one
    sketch per (partition, src), not one per edge."""
    from pybiodatafuse_spark.plans.bfs import _pin_edges

    edges = spark.createDataFrame(
        [(i, (i + 3) % 50) for i in range(50)], "src long, dst long"
    )
    e = _pin_edges(edges, "dst")
    sk = spark.range(50).select("id").groupBy("id").agg(
        F.hll_sketch_agg("id", F.lit(12)).alias("sk")
    )
    nbr = (
        sk.hint("shuffle_hash")
        .join(e, sk["id"] == e["dst"])
        .groupBy(F.col("src").alias("id"))
        .agg(F.hll_union_agg("sk").alias("nbr_sk"))
    )
    nbr.count()
    plan = _plan(nbr)
    assert plan.count("ObjectHashAggregate") >= 2, plan
    assert "partial_hll_union_agg" in plan or "partial_hllunionagg" in plan.lower(), plan
    e.unpersist()


def _count_jobs(spark, monkeypatch, run) -> dict:
    """Run ``run()`` with each PageRank superstep in its own job group.
    Returns {superstep: Spark jobs it started}, key 0 for the jobs before the
    first superstep. A superstep's group spans its step function, its fused
    action, its checkpoint and its metrics commit."""
    import uuid

    import pybiodatafuse_spark.plans.pagerank as pr

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    steps = [0]
    orig = pr.iterate

    def spy(spark_, state, step_fn, **kw):
        def step(st, k, carry):
            steps.append(k)
            sc.setJobGroup(f"{tag}-{k}", "superstep")
            return step_fn(st, k, carry)

        return orig(spark_, state, step, **kw)

    sc.setJobGroup(f"{tag}-0", "prep")
    try:
        with monkeypatch.context() as m:
            m.setattr(pr, "iterate", spy)
            run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return {k: len(st.getJobIdsForGroup(f"{tag}-{k}")) for k in steps}


def _cycle_edges(spark, n: int, sink: bool):
    rows = [(i, (i + 1) % n, 1.0, 1) for i in range(n)]
    if sink:
        rows.append((0, n, 1.0, 1))  # vertex n has no out-edge: dangling
    return spark.createDataFrame(rows, "src long, dst long, weight double, etype int")


def test_dangling_free_graph_runs_no_extra_jobs(spark, monkeypatch):
    """The dangling-mass carry is 0, not null, when no vertex is dangling: a
    null carry would re-run the recompute-from-state job every superstep."""
    from pybiodatafuse_spark.plans.pagerank import pagerank

    def jobs(sink):
        edges = _cycle_edges(spark, 12, sink)
        return sum(_count_jobs(spark, monkeypatch, lambda: pagerank(
            spark, edges, tol=None, max_iter=4, hub_threshold=1000
        )).values())

    assert jobs(sink=False) == jobs(sink=True)


@pytest.mark.parametrize("durable", [False, True], ids=["storage_off", "storage_on"])
def test_one_job_per_non_checkpoint_superstep(spark, monkeypatch, tmp_path, durable):
    """A superstep that writes no snapshot is ONE Spark job, storage on or
    off: with storage on, the per-partition row counts come from the fused
    action and the run_metadata rows wait for the next checkpoint."""
    from pybiodatafuse_spark.plans.pagerank import pagerank
    from pybiodatafuse_spark.storage import Storage

    edges = _cycle_edges(spark, 12, sink=True)
    kw = dict(storage=Storage(str(tmp_path / "store")), checkpoint_every=3) if durable else {}
    jobs = _count_jobs(spark, monkeypatch, lambda: pagerank(
        spark, edges, tol=None, max_iter=4, hub_threshold=1000, **kw
    ))
    # superstep 1 also materializes the loop-invariant inputs (edge table,
    # initial state); with storage on, 3 and 4 write snapshots
    non_checkpoint = [2] if durable else [2, 3, 4]
    assert {k: jobs[k] for k in non_checkpoint} == {k: 1 for k in non_checkpoint}
