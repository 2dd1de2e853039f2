"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

These assert the *plan*, not the result — regressions here are silent
performance bugs at 100 TB even when outputs stay correct.
"""

from __future__ import annotations

import contextlib
import importlib
import re

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.superstep import no_aqe, pinned


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
    with _prepare(edges, None, 4, 1000) as (edges_norm, init, salted):
        assert not salted  # hub-free graph → adaptive unsalted plan
        ranks = init.select("id", F.lit(0.02).alias("rank")).hint("shuffle_hash")
        joined = ranks.join(edges_norm, ranks["id"] == edges_norm["src"])
        plan = _plan(joined)
    assert "ShuffledHashJoin" in plan


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
    with _prepare(edges, None, 4, 1000) as (edges_norm, init, salted):
        assert not salted  # hub-free graph → unsalted join on src alone
        ranks = init.select("id", F.lit(0.02).alias("rank")).hint("shuffle_hash")
        joined = ranks.join(edges_norm, ranks["id"] == edges_norm["src"])
        joined.count()  # execute so AQE finalizes the plan
        plan = _plan(joined)
    assert "ShuffledHashJoin" in plan, plan
    # the join's edge child (ending at the cache scan) must contain NO
    # Exchange: its cached partitioning satisfies the join
    _no_exchange_above_cache_scan(plan)


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
    """The walk adjacency is loop-invariant: pinned() hash-partitions it on
    src with the session shuffle-partition count and persists, so every hop's
    frontier ⋈ adjacency join must read it straight from the cache with NO
    Exchange above the InMemoryTableScan — each hop shuffles only the
    O(active walks) frontier (the defect class pagerank._prepare documents;
    walks had it until r3)."""
    from pybiodatafuse_spark.plans.walks import _typed_adjacency

    edges = spark.createDataFrame(
        [(i, (i + 3) % 60, 1.0, i % 2) for i in range(60)],
        "src long, dst long, weight double, etype int",
    )
    with pinned(_typed_adjacency(edges), "src") as adj:
        frontier = spark.range(40).select(
            F.col("id").alias("walk_id"), (F.col("id") % 60).alias("cur")
        )
        joined = frontier.hint("shuffle_hash").join(
            adj, frontier["cur"] == adj["src"], "left"
        )
        joined.count()  # execute so AQE finalizes the plan
        _no_exchange_above_cache_scan(_plan(joined))


def _node_col(line: str) -> int:
    """Column where a plan tree line's node name starts."""
    m = re.search(r"[+:]- ", line)
    return m.end() if m else len(line) - len(line.lstrip())


def _no_exchange_above_cache_scan(plan: str, n_scans: int = 1) -> None:
    """Every InMemoryTableScan (at least ``n_scans`` of them) reaches its
    consuming join with no Exchange in between: the pinned side's cached
    partitioning satisfies the join."""
    lines = plan.splitlines()
    scans = [i for i, l in enumerate(lines) if "InMemoryTableScan" in l]
    assert len(scans) >= n_scans, plan
    for i in scans:
        col = _node_col(lines[i])
        for line in reversed(lines[:i]):  # walk up the scan's ancestors
            if _node_col(line) < col:
                col = _node_col(line)
                node = line[col:]
                if "Join" in node:
                    break
                assert "Exchange" not in node, plan


def test_scc_inner_loops_never_reshuffle_edges(spark):
    """Both SCC inner loops (forward coloring joins on src, backward settle
    joins on dst) must read their pinned edge copy straight from cache with
    no Exchange — per-superstep shuffle is O(active labels), not O(E)."""
    edges = spark.createDataFrame(
        [(i, (i + 7) % 80, ) for i in range(80)], "src long, dst long"
    )
    with pinned(edges, "src") as e_src, pinned(edges, "dst") as e_dst:
        labels = spark.range(80).select("id", F.col("id").alias("f"))
        fwd = labels.hint("shuffle_hash").join(e_src, labels["id"] == e_src["src"])
        fwd.count()
        _no_exchange_above_cache_scan(_plan(fwd))
        bwd = labels.hint("shuffle_hash").join(e_dst, labels["id"] == e_dst["dst"])
        bwd.count()
        _no_exchange_above_cache_scan(_plan(bwd))


def test_bfs_frontier_join_never_reshuffles_edges(spark):
    from pybiodatafuse_spark.plans.bfs import _simple

    edges = spark.createDataFrame(
        [(i, (i + 3) % 70) for i in range(70)], "src long, dst long"
    )
    with pinned(_simple(edges), "src") as e:
        frontier = spark.range(20).select("id")
        j = frontier.hint("shuffle_hash").join(e, frontier["id"] == e["src"])
        j.count()
        _no_exchange_above_cache_scan(_plan(j))


def _ring_edges(spark, n: int = 40):
    rows = [(i, (i + 1) % n, 1.0, 1) for i in range(n)]
    rows += [(i, (i + 7) % n, 1.0, 1) for i in range(0, n, 2)]
    return spark.createDataFrame(rows, "src long, dst long, weight double, etype int")


# plan module → (call(module, spark, edges) running one superstep, pinned
# relations its superstep joins against)
PINNING_ITERATE_USERS = {
    "hits": (lambda m, s, e: m.hits(s, e, tol=None, max_iter=1), 2),
    "kcore": (lambda m, s, e: m.k_core(s, e, k=3, max_rounds=1), 1),
    "labelprop": (lambda m, s, e: m.label_propagation(s, e, max_iter=1), 1),
}


@pytest.mark.parametrize("mod_name", list(PINNING_ITERATE_USERS))
def test_iterate_users_never_reshuffle_pinned_side(spark, monkeypatch, mod_name):
    """HITS, k-core and LPA pin their edge relation with pinned(): one
    superstep built from the plan's own (state0, step_fn) and executed with
    AQE off reads every pinned copy straight from cache, with no Exchange
    above any InMemoryTableScan — only the O(V) state side shuffles."""
    call, n_scans = PINNING_ITERATE_USERS[mod_name]
    mod = importlib.import_module(f"pybiodatafuse_spark.plans.{mod_name}")
    orig = mod.iterate
    plans = []

    def spy(spark_, state0, step_fn, **kw):
        # still inside the plan's pinned() block: plan superstep 1 as
        # iterate() does, before anything has materialized the pinned cache
        with no_aqe(spark_):
            new_state, _, _ = step_fn(state0.localCheckpoint(eager=False), 1, {})
            new_state.collect()
            plans.append(_plan(new_state))
        return orig(spark_, state0, step_fn, **kw)

    monkeypatch.setattr(mod, "iterate", spy)
    call(mod, spark, _ring_edges(spark))
    assert len(plans) == 1
    _no_exchange_above_cache_scan(plans[0], n_scans)


def _spy_pinned(monkeypatch, mod) -> list:
    """Record every DataFrame that ``mod``'s pinned() yields."""
    yielded = []

    @contextlib.contextmanager
    def spy(df, *keys):
        with pinned(df, *keys) as out:
            yielded.append(out)
            yield out

    monkeypatch.setattr(mod, "pinned", spy)
    return yielded


def test_pinned_inputs_released_when_bfs_raises(spark, monkeypatch):
    """bfs_distances raises when the frontier is still expanding at the hop
    cap; its pinned O(E) edge copy is unpersisted on that path too."""
    import pybiodatafuse_spark.plans.bfs as bfs

    yielded = _spy_pinned(monkeypatch, bfs)
    path = spark.createDataFrame([(i, i + 1) for i in range(4)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "id long")
    with pytest.raises(RuntimeError, match="still expanding"):
        bfs.bfs_distances(spark, path, seeds, max_hops=1)
    assert yielded
    for df in yielded:
        assert not df.is_cached and df.storageLevel == StorageLevel.NONE


def test_pinned_inputs_released_when_loop_raises(spark, monkeypatch):
    """An iterate() failure inside label_propagation still unpersists its
    pinned adjacency."""
    import pybiodatafuse_spark.plans.labelprop as lp

    yielded = _spy_pinned(monkeypatch, lp)

    def failing_iterate(*a, **kw):
        raise RuntimeError("superstep failed")

    monkeypatch.setattr(lp, "iterate", failing_iterate)
    with pytest.raises(RuntimeError, match="superstep failed"):
        lp.label_propagation(spark, _ring_edges(spark), max_iter=2)
    assert yielded
    for df in yielded:
        assert not df.is_cached and df.storageLevel == StorageLevel.NONE


def test_anf_hll_union_is_partial_aggregated(spark):
    """The ANF flood's hll_union_agg must run as a two-phase aggregate
    (partial merge map-side before the shuffle): the executed plan has two
    ObjectHashAggregate nodes for the union, so the shuffle carries one
    sketch per (partition, src), not one per edge."""
    from pybiodatafuse_spark.plans.bfs import _simple

    edges = spark.createDataFrame(
        [(i, (i + 3) % 50) for i in range(50)], "src long, dst long"
    )
    with pinned(_simple(edges), "dst") as e:
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


def _spy_steps(monkeypatch, mod, wrap) -> None:
    """Patch ``mod.iterate`` so that every superstep runs
    ``wrap(step_fn)(state, k, carry)`` in place of the plan's own step."""
    orig = mod.iterate

    def spy(spark_, state, step_fn, **kw):
        return orig(spark_, state, wrap(step_fn), **kw)

    monkeypatch.setattr(mod, "iterate", spy)


def _count_jobs(spark, monkeypatch, mod, run) -> dict:
    """Run ``run()`` with each superstep of plan module ``mod`` in its own
    job group. Returns {superstep: Spark jobs it started}, key 0 for the jobs
    before the first superstep. A superstep's group spans its step function,
    its fused action, its checkpoint and its metrics commit."""
    import uuid

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    steps = [0]

    def wrap(step_fn):
        def step(st, k, carry):
            steps.append(k)
            sc.setJobGroup(f"{tag}-{k}", "superstep")
            return step_fn(st, k, carry)

        return step

    sc.setJobGroup(f"{tag}-0", "prep")
    try:
        with monkeypatch.context() as m:
            _spy_steps(m, mod, wrap)
            run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return {k: len(st.getJobIdsForGroup(f"{tag}-{k}")) for k in steps}


def _superstep_plan(monkeypatch, mod, run, k: int = 2) -> str:
    """Executed plan of the new state that superstep ``k`` of ``mod``'s loop
    builds (planned inside iterate(), so with AQE off as the loop runs it)."""
    plans = {}

    def wrap(step_fn):
        def step(st, j, carry):
            out = step_fn(st, j, carry)
            if j == k:
                plans[j] = _plan(out[0])
            return out

        return step

    with monkeypatch.context() as m:
        _spy_steps(m, mod, wrap)
        run()
    return plans[k]


def _cycle_edges(spark, n: int, sink: bool):
    rows = [(i, (i + 1) % n, 1.0, 1) for i in range(n)]
    if sink:
        rows.append((0, n, 1.0, 1))  # vertex n has no out-edge: dangling
    return spark.createDataFrame(rows, "src long, dst long, weight double, etype int")


def test_dangling_free_graph_runs_no_extra_jobs(spark, monkeypatch):
    """The dangling-mass carry is 0, not null, when no vertex is dangling: a
    null carry would re-run the recompute-from-state job every superstep."""
    import pybiodatafuse_spark.plans.pagerank as pr

    def jobs(sink):
        edges = _cycle_edges(spark, 12, sink)
        return sum(_count_jobs(spark, monkeypatch, pr, lambda: pr.pagerank(
            spark, edges, tol=None, max_iter=4, hub_threshold=1000
        )).values())

    assert jobs(sink=False) == jobs(sink=True)


@pytest.mark.parametrize("durable", [False, True], ids=["storage_off", "storage_on"])
def test_one_job_per_non_checkpoint_superstep(spark, monkeypatch, tmp_path, durable):
    """A superstep that writes no snapshot is ONE Spark job, storage on or
    off: with storage on, the per-partition row counts come from the fused
    action and the run_metadata rows wait for the next checkpoint."""
    import pybiodatafuse_spark.plans.pagerank as pr
    from pybiodatafuse_spark.storage import Storage

    edges = _cycle_edges(spark, 12, sink=True)
    kw = dict(storage=Storage(str(tmp_path / "store")), checkpoint_every=3) if durable else {}
    jobs = _count_jobs(spark, monkeypatch, pr, lambda: pr.pagerank(
        spark, edges, tol=None, max_iter=4, hub_threshold=1000, **kw
    ))
    # superstep 1 also materializes the loop-invariant inputs (edge table,
    # initial state); with storage on, 3 and 4 write snapshots
    non_checkpoint = [2] if durable else [2, 3, 4]
    assert {k: jobs[k] for k in non_checkpoint} == {k: 1 for k in non_checkpoint}


def _node(line: str) -> str:
    return line[_node_col(line):]


def _children(lines: list[str], i: int) -> list[int]:
    """Line indices of the direct children of plan node ``lines[i]``."""
    col = _node_col(lines[i])
    out = []
    for j in range(i + 1, len(lines)):
        c = _node_col(lines[j])
        if c <= col:
            break
        if c == col + 3:
            out.append(j)
    return out


@pytest.mark.parametrize("form", ["join", "csr"])
def test_pagerank_state_join_adds_no_exchange(spark, monkeypatch, form):
    """The superstep's state join (state LEFT JOIN contributions on id) adds
    no Exchange on either side: the checkpointed state keeps its
    hashpartitioning(id), and the contribution aggregate's
    hashpartitioning(dst) already satisfies the join: the only exchange
    between contributions and state is the aggregate's own."""
    import pybiodatafuse_spark.plans.csr as csr
    import pybiodatafuse_spark.plans.pagerank as pr

    edges = _cycle_edges(spark, 12, sink=True)
    if form == "join":
        mod, run = pr, lambda: pr.pagerank(
            spark, edges, tol=None, max_iter=2, hub_threshold=1000
        )
    else:
        mod, run = csr, lambda: csr.pagerank_csr(spark, edges, tol=None, max_iter=2)
    lines = _superstep_plan(monkeypatch, mod, run).splitlines()
    join = next(i for i, l in enumerate(lines) if "Join" in l and "LeftOuter" in l)
    inputs = []
    for i in _children(lines, join):
        while _node(lines[i]).startswith(("Project", "Filter")):
            (i,) = _children(lines, i)
        inputs.append(_node(lines[i]))
    assert len(inputs) == 2, lines
    assert inputs[0].startswith("Scan ExistingRDD"), lines
    assert inputs[1].startswith("HashAggregate"), lines


def _cc_edges(spark):
    """A 24-vertex path plus a 50-vertex cycle with chords (6 supersteps).
    Built from spark.range, not a Python list, so the optimizer knows the
    state is small, as it does for a parquet edge table, and a plan that
    joins the state back to an aggregate of itself would broadcast."""
    i = F.col("id")
    return spark.range(1, 123).where((i < 50) | (i >= 100)).select(
        i.alias("src"),
        F.when(i < 50, (i * 7) % 50).otherwise(i + 1).alias("dst"),
        F.lit(1.0).alias("weight"),
        F.lit(1).alias("etype"),
    )


def test_components_superstep_plan(spark, monkeypatch):
    """A components superstep is two window-min passes and one dedup: each
    star operator reads its input once, so the state is scanned twice (both
    directions of large-star), with exactly three shuffle exchanges and no
    broadcast."""
    import pybiodatafuse_spark.plans.components as cc

    plan = _superstep_plan(
        monkeypatch, cc, lambda: cc.components(spark, _cc_edges(spark))
    )
    nodes = [_node(l) for l in plan.splitlines()]
    assert sum(n.startswith("Exchange ") for n in nodes) == 3, plan
    assert "BroadcastExchange" not in plan, plan
    assert plan.count("Scan ExistingRDD") <= 2, plan


def test_one_job_per_components_superstep(spark, monkeypatch):
    """From superstep 2 on (storage off) a components superstep is ONE Spark
    job: the fused fingerprint action, with no broadcast job beside it."""
    import pybiodatafuse_spark.plans.components as cc

    jobs = _count_jobs(
        spark, monkeypatch, cc, lambda: cc.components(spark, _cc_edges(spark))
    )
    later = {k: n for k, n in jobs.items() if k >= 2}
    assert len(later) >= 2, jobs
    assert later == {k: 1 for k in later}, jobs
