"""Generic checkpointed-iteration (superstep) engine — SURVEY.md §7 step 4.

Structural template taken from the reference's only convergence-driven loop,
DREAMwalk EM training (``/root/reference/src/pyBiodatafuse/algorithms/DREAMwalk/
generate_embeddings.py:165-188``: iterate → L1-delta convergence test →
persist), restated for Spark:

    state_{k+1} = step_fn(state_k, k)        # pure DataFrame program
    materialize (persist + single fused agg action → rows_out, L1 delta,
    carried scalars and, with storage on, per-partition row counts)
    every `checkpoint_every` steps: write snapshot (lineage truncation + resume
    point), then commit the buffered run_metadata rows of the supersteps since
    the last snapshot
    stop when delta < tol or k == max_iter

Design notes:
- ONE action per superstep: ``groupBy(<keys>).agg(count(*), <delta_expr>,
  *<carry_aggs>)`` on the new state, whose partials the driver adds up. With
  storage on the key is ``spark_partition_id()``, so the same action yields
  the per-partition row counts for run_metadata; without storage the key list
  is empty and it is one global aggregate.
- run_metadata rows are committed once per durable checkpoint, right after
  the snapshot is published, as one driver-written file. Every returning run
  ends on a checkpoint, and a resumed run recomputes and logs the supersteps
  after its snapshot, so each superstep has its rows exactly once. A crash
  between the snapshot rename and the metrics commit loses that segment's
  rows; it never duplicates them.
- Lineage is truncated either by the storage checkpoint (parquet/Iceberg
  round-trip) or, without storage, ``localCheckpoint`` — iterative plans
  otherwise grow O(k) and stall the optimizer (SURVEY.md §4 item 2).
- Resume: :func:`iterate` given storage and the ``run_id`` of a run with a
  committed snapshot continues from that snapshot, so every algorithm built
  on it is resumable by re-running it with the same ``run_id``.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.storage import Storage, new_run_id

# step_fn(state, superstep, carry) -> (new_state, delta_expr, carry_aggs)
#   carry: dict of scalar values from the previous superstep's fused agg action
#   carry_aggs: extra aliased aggregate Columns evaluated over new_state in the
#   SAME action as the delta (zero extra Spark jobs) and handed to the next call
#   delta_expr and carry_aggs must be additive sums (F.sum of a per-row term):
#   with storage on they are computed per partition and added up on the
#   driver, null partials skipped (all-null stays null, as in SQL)
StepFn = Callable[
    [DataFrame, int, dict],
    tuple[DataFrame, "Column | None", "list[Column] | None"],
]


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps: int
    deltas: list[float] = field(default_factory=list)
    run_id: str = ""
    converged: bool = False
    walls: list[float] = field(default_factory=list)  # per-superstep seconds


def _add(values) -> int | float | None:
    """SQL ``sum`` over partials: nulls skipped, all-null (or none) → null."""
    values = [v for v in values if v is not None]
    return sum(values) if values else None


@contextlib.contextmanager
def no_aqe(spark: SparkSession):
    """Disable adaptive query execution for the duration of an iterative
    loop. Two reasons, both measured in BENCH/BASELINE.md:

    - AQE wraps every plan in AdaptiveSparkPlanExec, whose outputPartitioning
      is unknown at checkpoint time — so ``localCheckpoint`` LOSES the
      state's hashpartitioning and every superstep re-exchanges the O(V)
      rank/state rows. With AQE off the checkpointed LogicalRDD keeps its
      partitioning and the hop join needs NO state-side exchange.
    - AQE materializes each exchange as a blocking query stage with a
      driver-side replan barrier: on a 10-superstep loop that is tens of
      extra sync points of pure fixed cost, which is exactly the term that
      does NOT shrink with more executors (it capped N→4N executor scaling
      below 0.8 in r2).

    Inside the loop, skew is handled by the engine's EXPLICIT hub salting
    (plans/pagerank._prepare), so losing AQE's runtime skew-join backstop
    here costs nothing. Non-iterative queries keep AQE on.
    """
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


@contextlib.contextmanager
def pinned(df: DataFrame, *keys: str):
    """Pin a loop-invariant relation for the duration of an iterative loop:
    hash-partition it on the join ``keys`` with exactly
    ``spark.sql.shuffle.partitions`` partitions and persist it
    (``MEMORY_AND_DISK``). The cached exchange output then *satisfies* every
    superstep join's ClusteredDistribution on ``keys``, so EnsureRequirements
    adds no exchange on the pinned side and each superstep shuffles only the
    O(state) side (DESIGN.md §6b).

    Persisting is lazy: the first superstep action materializes the cache,
    with no extra Spark job. The cached plan is built at ``persist`` time,
    so it is built with AQE off: an adaptive cached plan reports an unknown
    partitioning until it has run, and superstep 1 (planned before that)
    would re-exchange the pinned side. The copy is unpersisted on exit,
    including when the loop raises."""
    spark = df.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with no_aqe(spark):
        out = df.repartition(parts, *keys).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield out
    finally:
        out.unpersist()


def _free(df: DataFrame) -> None:
    """Release a superseded state snapshot. DataFrame.unpersist() does not
    drop localCheckpoint blocks (they belong to the internal RDD), which
    leaks ~state-size per superstep over a 100-superstep run — unpersist the
    underlying RDD explicitly."""
    try:
        df._jdf.queryExecution().toRdd().unpersist(False)
    except Exception:
        pass
    try:
        df.unpersist()
    except Exception:
        pass


def iterate(
    spark: SparkSession,
    state: DataFrame,
    step_fn: StepFn,
    *,
    algorithm: str,
    max_iter: int,
    tol: float | None = None,
    checkpoint_every: int = 5,
    storage: Storage | None = None,
    run_id: str | None = None,
    stop_when: Callable[[list[float]], bool] | None = None,
) -> SuperstepResult:
    """Run ``step_fn`` to convergence. ``step_fn(state, k)`` returns
    ``(new_state, delta_expr)`` where ``delta_expr`` is an aggregate Column
    over ``new_state`` evaluating to the L1 delta (or None → no convergence
    test, run ``max_iter`` steps).

    Convergence: ``stop_when(deltas)`` if given (e.g. fixpoint detection via
    two equal consecutive state fingerprints), else ``deltas[-1] < tol``.

    Resume: given ``storage`` and a ``run_id`` that already has a committed
    snapshot for ``algorithm``, ``state`` is ignored and the run continues
    from the last snapshot's superstep. ``step_fn`` then sees an empty
    ``carry`` on a superstep ``k > 1``. ``supersteps`` counts from the start
    of the run, ``deltas``/``walls`` only the supersteps of this call."""
    step = 0
    if storage is not None and run_id is not None:
        step = storage.last_checkpoint_step(algorithm, run_id) or 0
        if step:
            state = storage.read_checkpoint(spark, algorithm, run_id, step)
    run_id = run_id or new_run_id()
    with no_aqe(spark):
        state = state.localCheckpoint(eager=False)
        rows_in = state.count() if storage is not None else None  # metrics only
        deltas: list[float] = []
        walls: list[float] = []
        pending: list[dict] = []  # run_metadata rows since the last snapshot
        converged = False
        carry: dict = {}
        keys = [F.spark_partition_id().alias("_pid")] if storage is not None else []
        for step in range(step + 1, max_iter + 1):
            t0 = time.monotonic()
            new_state, delta_expr, carry_aggs = step_fn(state, step, carry)
            # Truncate lineage EVERY superstep: persisted-but-unchecked plans
            # grow per iteration (exponentially for self-referencing steps like
            # large-star) and Catalyst/AQE re-analysis comes to dominate wall
            # time. localCheckpoint materializes to executor-local storage (one
            # job); durable parquet/Iceberg snapshots below stay on the
            # `checkpoint_every` cadence for resume.
            # eager=False: the checkpoint materializes lazily inside the SAME
            # action as the fused agg below — one Spark job per superstep
            # instead of two (materialize + agg), halving per-superstep fixed
            # overhead.
            new_state = new_state.localCheckpoint(eager=False)
            aggs = [F.count(F.lit(1)).alias("_n")]
            if delta_expr is not None:
                aggs.append(delta_expr.alias("_delta"))
            aggs.extend(carry_aggs or [])
            partials = new_state.groupBy(*keys).agg(*aggs)
            cols = [c for c in partials.columns if c != "_pid"]
            # in pid order: r[0] is the key; without keys there is one row
            parts = sorted(partials.coalesce(1).collect(), key=lambda r: r[0])
            carry = {c: _add(r[c] for r in parts) for c in cols}
            rows_out = carry["_n"] or 0
            delta = float(carry["_delta"]) if carry.get("_delta") is not None else None
            if delta is not None:
                deltas.append(delta)
            if stop_when is not None:
                hit_tol = bool(deltas) and stop_when(deltas)
            else:
                hit_tol = tol is not None and delta is not None and delta < tol
            is_checkpoint = (
                storage is not None
                and (step % checkpoint_every == 0 or hit_tol or step == max_iter)
            )
            ckpt_path = None
            if is_checkpoint:
                ckpt_path = storage.write_checkpoint(new_state, algorithm, run_id, step)
                reloaded = storage.read_checkpoint(spark, algorithm, run_id, step)
                _free(new_state)
                new_state = reloaded.persist(StorageLevel.MEMORY_AND_DISK)
            wall = time.monotonic() - t0
            walls.append(wall)
            if storage is not None:
                pending.append(dict(
                    superstep=step,
                    rows_in=rows_in,
                    rows_out=rows_out,
                    l1_delta=delta,
                    wall_ms=int(wall * 1000),
                    checkpoint_path=ckpt_path,
                    partition_rows={r["_pid"]: r["_n"] for r in parts},
                ))
            if is_checkpoint:
                storage.log_metrics(spark, run_id=run_id, algorithm=algorithm, supersteps=pending)
                pending = []
            _free(state)
            state = new_state
            rows_in = rows_out
            if hit_tol:
                converged = True
                break
    return SuperstepResult(
        state=state, supersteps=step, deltas=deltas, run_id=run_id,
        converged=converged, walls=walls,
    )
