"""Per-partition CSR adjacency blocks + numpy superstep kernel (north star;
SURVEY.md §7 step 6, §4 custom-physical item 3).

The pure-DataFrame PageRank superstep is `ranks ⋈ edges → groupBy(dst)`. At
scale the join re-shuffles the (loop-invariant!) adjacency every iteration.
This operator materializes the adjacency ONCE as compressed sparse rows,
block-partitioned by `pmod(src, num_blocks)`, spilled to one .npz per pid
(`spill_csr_blocks`: srcs, indptr, dsts, fracs). Reused Python workers
memo-load their blocks on first touch (`_WORKER_BLOCK_CACHE`), so after the
build the O(E) adjacency crosses the JVM→Arrow→Python boundary ZERO times —
each superstep ships only the O(V) rank rows. The per-block numpy kernel
pre-aggregates per dst locally (np.add.reduceat — the numpy analogue of a
map-side combine); the only shuffle is the partial-contribution
redistribution, bounded by distinct dsts per block.

``pagerank_csr`` passes this kernel as the contribution operator of the
PageRank program in ``plans.pagerank``, which owns init, dangling mass, the
state join and the delta (tests assert 1e-12 vs the DataFrame path).

`num_blocks` defaults to the session's core count — one block per core
(measured optimum; more blocks multiply duplicate per-dst partials, fewer
underutilize).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.pagerank import _graph, _program
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate
from pybiodatafuse_spark.storage import Storage

# Worker-side CSR block cache: Python workers are reused across tasks
# (spark.python.worker.reuse, default true), so a block loaded for pid k in
# superstep 1 is a module-global cache hit in supersteps 2..n — the adjacency
# crosses the JVM→Python boundary ZERO times after the build. Keyed by
# (store_path, pid, file mtime_ns, file size): CONTENT-AWARE, so re-spilling
# different edges into the same store path invalidates cached blocks in
# long-lived reused workers (a stale cache here would silently corrupt
# PageRank — tests/test_csr.py::test_sidecar_respill_same_store_invalidates).
_WORKER_BLOCK_CACHE: dict = {}


def _load_block(store: str, pid: int):
    f = os.path.join(store, f"pid_{pid}.npz")
    try:
        st = os.stat(f)
    except FileNotFoundError:
        return None  # pid with no edges
    key = (store, pid, st.st_mtime_ns, st.st_size)
    blk = _WORKER_BLOCK_CACHE.get(key)
    if blk is None:
        # evict blocks of OTHER stores (previous runs) and stale stamps of
        # THIS (store, pid) so a long-lived worker holds one run's share
        stale = [k for k in _WORKER_BLOCK_CACHE if k[0] != store or k[:2] == (store, pid)]
        for k in stale:
            del _WORKER_BLOCK_CACHE[k]
        with np.load(f) as z:
            blk = (z["srcs"], z["indptr"], z["dsts"], z["fracs"])
        _WORKER_BLOCK_CACHE[key] = blk
    return blk


def spill_csr_blocks(
    edges_norm: DataFrame, store: str, num_blocks: int = 64
) -> list[int]:
    """Materialize per-partition CSR adjacency as ONE .npz per pid under
    ``store`` (the executor-local/shared block store). Runs distributed:
    each pid group builds and writes its own block. Returns the pids written.

    On a multi-executor cluster ``store`` is a shared filesystem (or each
    executor's local disk populated via a locality-preserving job); workers
    memo-load their blocks on first touch (see _WORKER_BLOCK_CACHE)."""
    os.makedirs(store, exist_ok=True)

    def writer(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        src = pdf["src"].to_numpy(dtype=np.int64)
        srcs, counts = np.unique(src, return_counts=True)
        indptr = np.zeros(len(srcs) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        # executor-side makedirs (driver-side alone is not enough on a
        # multi-executor shared store) + write-temp-then-rename so a failed,
        # retried, or speculative task can never leave a torn .npz that a
        # later superstep's _load_block would read
        os.makedirs(store, exist_ok=True)
        final = os.path.join(store, f"pid_{pid}.npz")
        tmp = os.path.join(store, f".tmp_{pid}_{os.getpid()}.npz")
        np.savez(
            tmp,
            srcs=srcs,
            indptr=indptr,
            dsts=pdf["dst"].to_numpy(dtype=np.int64),
            fracs=pdf["frac"].to_numpy(dtype=np.float64),
        )
        os.replace(tmp, final)
        return pd.DataFrame({"pid": [pid], "n_edges": [len(pdf)]})

    rows = (
        edges_norm.withColumn("pid", F.pmod(F.col("src"), F.lit(num_blocks)).cast("int"))
        .groupBy("pid")
        .applyInPandas(writer, schema="pid int, n_edges long")
        .collect()
    )
    return [r["pid"] for r in rows]


def _block_contrib(
    rid: np.ndarray, rvals: np.ndarray, blk
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block contribution math: rank lookup via searchsorted, per-edge
    frac multiply, LOCAL pre-aggregation per dst (np.add.reduceat — the numpy
    analogue of a map-side combine)."""
    srcs, indptr, dsts, fracs = blk
    pos = np.searchsorted(rid, srcs)
    if pos.size and (pos.max() >= rid.size or not np.array_equal(rid[pos], srcs)):
        raise ValueError("csr kernel: rank state does not cover all edge sources")
    per_edge = np.repeat(rvals[pos], np.diff(indptr)) * fracs
    sort_idx = np.argsort(dsts, kind="mergesort")
    dsts_sorted = dsts[sort_idx]
    uniq, starts = np.unique(dsts_sorted, return_index=True)
    return uniq, np.add.reduceat(per_edge[sort_idx], starts)


def _make_sidecar_kernel(store: str):
    def kernel(key, ranks_pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        blk = _load_block(store, pid)
        if blk is None or ranks_pdf.empty:
            return pd.DataFrame(
                {"dst": pd.Series(dtype="int64"), "contrib": pd.Series(dtype="float64")}
            )
        rid = ranks_pdf["id"].to_numpy(dtype=np.int64)
        rvals = ranks_pdf["rank"].to_numpy(dtype=np.float64)
        order = np.argsort(rid, kind="mergesort")
        uniq, sums = _block_contrib(rid[order], rvals[order], blk)
        return pd.DataFrame({"dst": uniq, "contrib": sums})

    return kernel


def pagerank_csr(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
    block_store: str | None = None,
) -> SuperstepResult:
    """PageRank over CSR blocks; identical semantics to plans.pagerank.

    The adjacency is spilled ONCE to per-pid .npz block files under
    ``block_store`` (a temp dir, removed afterwards, when None) and
    memo-loaded inside reused Python workers — per superstep only the O(V)
    rank rows cross the JVM→Arrow→Python boundary."""
    _, edges_norm, init = _graph(edges, vertices)
    if num_blocks is None:
        # one block per core is the sweet spot: fewer blocks underutilize,
        # more blocks multiply duplicate per-dst partials across blocks
        # (measured at 27M edges, local[16]: 16→7.8 s/step, 32→9.1, 64→12.1,
        # 8→19.7)
        num_blocks = spark.sparkContext.defaultParallelism
    own_store = None
    if block_store is None:
        own_store = tempfile.mkdtemp(prefix="csr_blocks_")
        block_store = own_store
    spill_csr_blocks(edges_norm, block_store, num_blocks=num_blocks)
    kernel = _make_sidecar_kernel(block_store)

    def contrib(state: DataFrame) -> DataFrame:
        return (
            state.select(
                "id", "rank", F.pmod(F.col("id"), F.lit(num_blocks)).cast("int").alias("pid")
            )
            .groupBy("pid")
            .applyInPandas(kernel, schema="dst long, contrib double")
            .groupBy("dst")
            .agg(F.sum("contrib").alias("contrib"))
            .withColumnRenamed("dst", "id")
        )

    state0, step = _program(init, contrib, damping=damping)
    result = iterate(
        spark,
        state0,
        step,
        algorithm="pagerank_csr",
        max_iter=max_iter,
        tol=tol,
        checkpoint_every=checkpoint_every,
        storage=storage,
        run_id=run_id,
    )
    if own_store is not None:
        shutil.rmtree(own_store, ignore_errors=True)
    return result
