"""PageRank as checkpointed DataFrame supersteps (north rule G14).

Absent from the reference (SURVEY.md §2.8 G14); its structural template is the
reference's EM convergence loop (``generate_embeddings.py:165-188`` — iterate,
L1-delta stop at tolerance).

Semantics: weighted PageRank, damping ``d`` (default 0.85), uniform teleport,
dangling mass redistributed uniformly, convergence when
``sum(abs(rank_k - rank_{k-1})) < tol`` (L1, default 1e-6).

Scale design:
- **Loop-invariant edge prep**: ``edges_norm(src, dst, frac, salt)`` —
  contribution fraction precomputed once and pinned on the join keys
  (``plans.superstep.pinned``), so each superstep's join reuses the same
  partitioning.
- **Skew (hub) handling**: sources with out-degree ≥ ``hub_threshold`` get
  per-edge salt buckets; only hub rank rows are replicated across salts
  (``explode``), so a hub's adjacency fans out over ``num_salts`` shuffle
  partitions instead of serializing one (SURVEY.md §4 item 1).
- **One superstep = one join + one partial-aggregated groupBy**; the L1 delta
  is fused into the engine's single materialization action. The dangling-mass
  scalar is a cheap filter+sum on the cached O(V) state.

One program, two physical forms: :func:`_program` owns everything but the
contribution ``state → (id, contrib)`` — init, dangling mass, teleport, the
state join and the L1 delta. :func:`pagerank` supplies the salted hop join
above; ``plans.csr.pagerank_csr`` supplies the CSR block kernel.
"""

from __future__ import annotations

import contextlib
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pinned
from pybiodatafuse_spark.storage import Storage


def _graph(edges: DataFrame, vertices: DataFrame | None):
    """Loop-invariant inputs of both physical forms: out-weights
    ``(src, out_w, out_deg)``, contribution fractions ``(src, dst, frac)`` and
    the vertex set ``(id, is_dangling)`` (defaults to the edge endpoints)."""
    out_w = edges.groupBy("src").agg(
        F.sum("weight").alias("out_w"), F.count(F.lit(1)).alias("out_deg")
    )
    fracs = edges.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("frac")
    )
    init = vertex_ids(edges, vertices).join(
        out_w.select(F.col("src").alias("id"), "out_deg"), "id", "left"
    ).select("id", F.col("out_deg").isNull().alias("is_dangling"))
    return out_w, fracs, init


@contextlib.contextmanager
def _prepare(
    edges: DataFrame,
    vertices: DataFrame | None,
    num_salts: int,
    hub_threshold: int,
):
    """Join-path prep, yielding ``(edges_norm, init, salted)`` with
    ``edges_norm`` pinned on the hop-join keys for the duration of the block
    and ``init(id, is_dangling, is_hub)``."""
    out_w, fracs, init = _graph(edges, vertices)
    hubs = out_w.where(F.col("out_deg") >= hub_threshold).select(
        F.col("src").alias("id"), F.lit(True).alias("is_hub")
    )
    # ADAPTIVE salting: replicate hub ranks over salt buckets ONLY when hubs
    # actually exist. On a hub-free graph the salt column would still sit in
    # the join key, forcing a per-superstep O(V) exchange of the rank rows
    # onto (id, salt) — but WITHOUT it the state's hashpartitioning(id) from
    # the previous superstep's join already satisfies the hop-join's
    # distribution, so the rank side crosses the wire exactly once per run
    # (first superstep) and each later superstep shuffles only the contribs
    # groupBy. Halving the per-superstep shuffles is what keeps multi-JVM
    # (separate-executor) scaling near-linear; measured in BENCH/BASELINE.md.
    n_hubs = hubs.count()
    salted = n_hubs > 0 and num_salts > 1
    edges_norm = fracs
    if salted:
        edges_norm = fracs.join(
            F.broadcast(hubs), fracs["src"] == hubs["id"], "left"
        ).select(
            "src",
            "dst",
            "frac",
            F.when(
                F.col("is_hub"), F.pmod(F.xxhash64("dst"), F.lit(num_salts))
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("salt"),
        )
    init = init.join(F.broadcast(hubs), "id", "left").select(
        "id", "is_dangling", F.coalesce(F.col("is_hub"), F.lit(False)).alias("is_hub")
    )
    # ALWAYS pin the loop-invariant side on the join keys: without it the
    # O(E) edge table re-shuffles every superstep (measured: the dominant
    # superstep cost at 27M edges, and the reason 4→16-core scaling collapsed
    # to ~1.6×).
    keys = ["src", "salt"] if salted else ["src"]
    with pinned(edges_norm, *keys) as edges_norm:
        yield edges_norm, init, salted


def _program(
    init: DataFrame,
    contrib: Callable[[DataFrame], DataFrame],
    *,
    damping: float,
    reset: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
):
    """The PageRank program shared by both physical forms. ``init(id,
    is_dangling, *flags)`` is the vertex set; every non-id column rides along
    in the state. ``contrib(state)`` is the contribution operator, returning
    ``(id, contrib)`` = Σ rank·frac over in-edges. Returns ``(state0, step)``
    for :func:`iterate`; see :func:`pagerank` for ``reset``/``init_ranks``."""
    ppr = reset is not None
    if ppr:
        seeds = (
            reset.select("id").dropDuplicates(["id"]).withColumn("_seed", F.lit(True))
        )
        init = (
            init.join(seeds, "id", "left")
            .withColumn("is_seed", F.coalesce(F.col("_seed"), F.lit(False)))
            .drop("_seed")
        )
        counts = init.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_seed").cast("long")).alias("ns"),
            F.sum((F.col("is_dangling") & F.col("is_seed")).cast("long")).alias("nds"),
        ).first()
        n, n_seeds, nd_seed = counts["n"], counts["ns"] or 0, counts["nds"] or 0
        if n_seeds == 0:
            raise ValueError("pagerank: reset seed set is empty or disjoint")
    else:
        counts = init.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_dangling").cast("long")).alias("nd"),
        ).first()
        n, n_dangling = counts["n"], counts["nd"] or 0
    if n == 0:
        raise ValueError("pagerank: empty vertex set")
    state_cols = [c for c in init.columns if c != "id"]
    if ppr:
        rank0 = F.when(F.col("is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    else:
        rank0 = F.lit(1.0 / n)
    warm = init_ranks is not None
    if warm:
        prior = init_ranks.select(
            "id", F.col("rank").cast("double").alias("_warm_rank")
        ).dropDuplicates(["id"])
        seeded = init.join(prior, "id", "left").withColumn(
            "_raw", F.coalesce("_warm_rank", rank0)
        )
        total = seeded.agg(F.sum("_raw").alias("t")).first()["t"] or 0.0
        if total <= 0.0:
            raise ValueError("pagerank: init_ranks sums to a non-positive mass")
        state0 = seeded.select(
            "id",
            (F.col("_raw") / F.lit(float(total))).alias("rank"),
            F.lit(0.0).alias("prev_rank"),
            *state_cols,
        )
    else:
        state0 = init.select(
            "id",
            rank0.alias("rank"),
            F.lit(0.0).alias("prev_rank"),
            *state_cols,
        )

    def step(state: DataFrame, k: int, carry: dict):
        # dangling mass of the CURRENT state: fused into the previous
        # superstep's materialization action (carry); first step is closed-form
        # (uniform init → n_dangling / n²... each dangling vertex holds 1/n).
        dangling_mass = carry.get("_dangling")
        if dangling_mass is None:
            if k <= 1 and not warm:
                # closed form on the known init: uniform → 1/n per dangling
                # vertex; PPR → 1/|S| per dangling SEED, 0 elsewhere
                dangling_mass = (
                    nd_seed / n_seeds if ppr else n_dangling / n
                )
            else:  # resumed from checkpoint: one-off recompute from state
                row = state.where("is_dangling").agg(F.sum("rank").alias("m")).first()
                dangling_mass = row["m"] if row and row["m"] is not None else 0.0
        dangling_mass = float(dangling_mass)
        # shuffle_hash: keep the state join off the broadcast-build path
        contribs = contrib(state).hint("shuffle_hash")
        if ppr:
            # teleport + dangling mass return only to the seed set
            base_seed = (1.0 - damping) / n_seeds + damping * dangling_mass / n_seeds
            base_expr = F.when(F.col("is_seed"), F.lit(base_seed)).otherwise(
                F.lit(0.0)
            )
        else:
            base = (1.0 - damping) / n + damping * dangling_mass / n
            base_expr = F.lit(base)
        new_state = (
            state.join(contribs, "id", "left")
            .select(
                "id",
                (base_expr + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
                F.col("rank").alias("prev_rank"),
                *state_cols,
            )
        )
        delta = F.sum(F.abs(F.col("rank") - F.col("prev_rank")))
        # otherwise(0.0): with no dangling vertex the carry must be 0, not
        # null — a null carry reads as "unknown" and re-runs the recompute job
        next_dangling = F.sum(
            F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0)
        ).alias("_dangling")
        return new_state, delta, [next_dangling]

    return state0, step


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    num_salts: int = 8,
    hub_threshold: int = 1000,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
    reset: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
) -> SuperstepResult:
    """Returns SuperstepResult whose state is ``(id, rank, prev_rank, ...)``.

    ``edges(src, dst, weight, ...)``; ``vertices(id, ...)`` optional (defaults
    to edge endpoints). Ranks sum to 1. Given ``storage`` and the ``run_id``
    of an interrupted run, continues from its last committed checkpoint
    (north rule: any run resumable from its last checkpoint; see
    :func:`iterate`).

    ``reset``: optional seed set ``(id, ...)`` → PERSONALIZED PageRank: the
    teleport vector is uniform over the seeds instead of all vertices, and
    dangling mass likewise returns to the seeds. ``rank_0 = 1/|S|`` on seeds,
    0 elsewhere. The uniform path (``reset=None``) keeps its exact per-row
    expression shape (no extra conditional in the hot superstep).

    ``init_ranks``: optional ``(id, rank)`` WARM START — e.g. yesterday's
    converged ranks re-ranked over today's crawl delta. New vertices get the
    uniform prior, then the whole vector is renormalized to sum 1; the
    fixpoint is init-independent, so warm starts converge in a handful of
    supersteps instead of O(50) (the incremental path a daily 10^12-page
    snapshot needs). A resumed run ignores it (checkpoint state wins).
    """
    with _prepare(edges, vertices, num_salts, hub_threshold) as (
        edges_norm, init, salted
    ):
        salts = F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<int>")

        def contrib(state: DataFrame) -> DataFrame:
            # shuffle_hash hints: the rank side is the small build side — SHJ
            # avoids re-sorting the (loop-invariant, persisted) edge table every
            # superstep, and keeps the contribs join off the single-threaded
            # broadcast-build path (both measured wins; see BENCH/BASELINE.md).
            if salted:
                ranks = state.select(
                    "id",
                    "rank",
                    F.explode(
                        F.when(
                            F.col("is_hub"), salts
                        ).otherwise(F.array(F.lit(0).cast("int")))
                    ).alias("salt"),
                ).hint("shuffle_hash")
                cond = (ranks["id"] == edges_norm["src"]) & (
                    ranks["salt"] == edges_norm["salt"]
                )
            else:
                # hub-free: no salt column anywhere, so the rank side's
                # hashpartitioning(id) from the previous superstep's join
                # satisfies the hop-join distribution — zero rank-side exchange
                ranks = state.select("id", "rank").hint("shuffle_hash")
                cond = ranks["id"] == edges_norm["src"]
            return (
                ranks.join(edges_norm, cond)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("frac")).alias("contrib"))
                .withColumnRenamed("dst", "id")
            )

        state0, step = _program(
            init, contrib, damping=damping, reset=reset, init_ranks=init_ranks
        )
        return iterate(
            spark,
            state0,
            step,
            algorithm="pagerank",
            max_iter=max_iter,
            tol=tol,
            checkpoint_every=checkpoint_every,
            storage=storage,
            run_id=run_id,
        )


def top_ranks(result: SuperstepResult, k: int = 20) -> DataFrame:
    """Top-k vertices by rank, deterministic tie-break on id (TakeOrdered —
    no global sort materialization)."""
    return (
        result.state.select("id", "rank")
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(k)
    )
