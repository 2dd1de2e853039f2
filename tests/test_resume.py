"""North-rule resumability: kill after superstep k, resume from the durable
checkpoint, final state matches the uninterrupted run."""

from __future__ import annotations

import importlib
import random
import shutil

import pytest
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.components import components
from pybiodatafuse_spark.plans.csr import pagerank_csr
from pybiodatafuse_spark.plans.hits import hits
from pybiodatafuse_spark.plans.kcore import k_core
from pybiodatafuse_spark.plans.labelprop import label_propagation
from pybiodatafuse_spark.plans.pagerank import pagerank
from pybiodatafuse_spark.plans.superstep import iterate
from pybiodatafuse_spark.storage import Storage, new_run_id
from tests.graph_fixture import spark_graph


@pytest.fixture(scope="module")
def tiny_edges(spark):
    """41 vertices shaped so every iterate user runs several supersteps: a
    random 30-vertex core, a 4-edge tail path hanging off it (k-core peels
    it one vertex per round, its end is dangling), a separate 4-cycle, and
    three sink vertices."""
    rng = random.Random(11)
    es = {(rng.randrange(30), rng.randrange(30)) for _ in range(90)}
    es = {(u, v) for u, v in es if u != v}
    es |= {(29 + i, 30 + i) for i in range(4)}
    es |= {(40, 41), (41, 42), (42, 43), (43, 40), (0, 44), (5, 45), (9, 46)}
    rows = [(u, v, 1.0 + (7 * u + v) % 3, 1) for u, v in sorted(es)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double, etype int")
    return e.cache()


def _cells(df) -> dict:
    """{(id, column): value} — comparable with pytest.approx."""
    return {(r[0], c): r[c] for r in df.collect() for c in df.columns[1:]}


# name → (plan module, run(spark, edges, max_iter, **storage_kw) → cells,
#         max_iter). Every plan but two_phase stops on an L1-style delta;
#         two_phase stops on two equal state fingerprints.
RESUME_CASES = {
    "pagerank": ("pagerank", lambda s, e, n, **kw: _cells(pagerank(
        s, e, tol=3e-2, max_iter=n, hub_threshold=5, num_salts=4, **kw
    ).state.select("id", "rank")), 40),
    "pagerank_csr": ("csr", lambda s, e, n, **kw: _cells(pagerank_csr(
        s, e, tol=3e-2, max_iter=n, num_blocks=4, **kw
    ).state.select("id", "rank")), 40),
    # this graph's HITS delta settles at a non-zero level: stopped by max_iter
    "hits": ("hits", lambda s, e, n, **kw: _cells(
        hits(s, e, tol=None, max_iter=n, **kw)
    ), 4),
    "k_core": ("kcore", lambda s, e, n, **kw: _cells(
        k_core(s, e, k=2, max_rounds=n, **kw)
    ), 40),
    "components_two_phase": ("components", lambda s, e, n, **kw: _cells(
        components(s, e, max_iter=n, **kw)
    ), 40),
    # synchronous LPA oscillates on this graph: stopped by max_iter
    "label_propagation": ("labelprop", lambda s, e, n, **kw: _cells(
        label_propagation(s, e, max_iter=n, **kw)
    ), 4),
}


@pytest.mark.parametrize("name", list(RESUME_CASES))
def test_resume_matches_uninterrupted(spark, tiny_edges, tmp_path, monkeypatch, name):
    """Every iterate() user resumes: a run stopped at superstep k and called
    again with the same run_id continues from its snapshot and ends where the
    uninterrupted run ends (1e-12 for scores, exact for labels and cores),
    with the same per-superstep deltas from k on."""
    mod_name, run, max_iter = RESUME_CASES[name]
    k = 2  # the interrupted run's last superstep
    results = []

    def spy(*a, **kw):
        results.append(iterate(*a, **kw))
        return results[-1]

    monkeypatch.setattr(
        importlib.import_module(f"pybiodatafuse_spark.plans.{mod_name}"), "iterate", spy
    )
    want = run(spark, tiny_edges, max_iter)
    full = results[-1]
    assert full.supersteps > k + 1

    store = Storage(str(tmp_path / "store"))
    run_id = new_run_id()
    run(spark, tiny_edges, k, storage=store, run_id=run_id, checkpoint_every=100)
    assert results[-1].supersteps == k
    got = run(spark, tiny_edges, max_iter, storage=store, run_id=run_id, checkpoint_every=100)
    resumed = results[-1]
    assert resumed.supersteps - len(resumed.walls) == k  # continued, not restarted
    assert got == pytest.approx(want, rel=0, abs=1e-12)
    assert resumed.supersteps == full.supersteps
    if name != "components_two_phase":
        assert resumed.deltas == pytest.approx(full.deltas[k:], rel=0, abs=1e-12)


def test_torn_snapshot_is_skipped_on_resume(spark, tmp_path):
    """A crash between the snapshot's temp write (which already wrote
    _SUCCESS) and its rename leaves ``step=<k>.tmp-<hex>``: resume ignores it
    and continues from the last committed step."""
    store = Storage(str(tmp_path / "store"))
    state0 = spark.range(4).select("id", F.lit(0).alias("x"))

    def step(state, k, carry):
        return state.select("id", (F.col("x") + 1).alias("x")), None, None

    kw = dict(algorithm="count", storage=store, run_id="r1")
    iterate(spark, state0, step, max_iter=3, **kw)
    shutil.copytree(
        store.checkpoint_path("count", "r1", 3),
        store.checkpoint_path("count", "r1", 6) + ".tmp-deadbeef",
    )
    assert store.last_checkpoint_step("count", "r1") == 3
    res = iterate(spark, state0, step, max_iter=5, **kw)
    assert (res.supersteps, len(res.walls)) == (5, 2)
    assert {r["x"] for r in res.state.collect()} == {5}


def test_run_metadata_exactly_once_across_resume(spark, tmp_path):
    """run_metadata rows commit with the snapshot: a run that dies at
    superstep 5 (snapshot at 3) loses step 4's pending row, and the resumed
    run logs 4-6 once — one partition_id = -1 row per superstep."""
    store = Storage(str(tmp_path / "store"))
    state0 = spark.range(6).select("id", F.lit(0).alias("x"))
    crash_at = 5

    def step(state, k, carry):
        if k == crash_at:
            raise RuntimeError("crash")
        new = state.select("id", (F.col("x") + 1).alias("x"))
        return new, F.sum(F.lit(1.0)), None

    kw = dict(algorithm="toy", storage=store, run_id="r1", checkpoint_every=3)
    with pytest.raises(RuntimeError, match="crash"):
        iterate(spark, state0, step, max_iter=6, **kw)
    crash_at = None
    res = iterate(spark, state0, step, max_iter=6, **kw)
    assert (res.supersteps, len(res.walls)) == (6, 3)
    metrics = store.read_metrics(spark).where(F.col("run_id") == "r1").collect()
    glob = sorted(r["superstep"] for r in metrics if r["partition_id"] == -1)
    assert glob == [1, 2, 3, 4, 5, 6]
    per_step = {}
    for r in metrics:
        if r["partition_id"] >= 0:
            per_step[r["superstep"]] = per_step.get(r["superstep"], 0) + r["rows_out"]
    assert per_step == {k: 6 for k in range(1, 7)}


def test_driver_and_spark_written_snapshots_read_back(spark, tmp_path):
    """A table may mix Spark-written (DataFrame) and driver-written
    (pyarrow.Table) snapshots: every row reads back through read_table and
    read_metrics with the run_metadata types."""
    from datetime import datetime, timezone

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pybiodatafuse_spark.schema import RUN_METADATA_SCHEMA
    from pybiodatafuse_spark.storage import RUN_METADATA_TABLE

    ts = datetime(2024, 5, 1, 12, 30, tzinfo=timezone.utc)
    row = dict(run_id="r", algorithm="a", partition_id=-1, rows_in=3,
               rows_out=3, l1_delta=0.5, wall_ms=7, checkpoint_path=None, ts=ts)
    store = Storage(str(tmp_path / "store"))
    store.append(
        spark.createDataFrame([dict(row, superstep=1)], RUN_METADATA_SCHEMA),
        RUN_METADATA_TABLE,
    )
    store.append(
        pa.Table.from_pylist([dict(row, superstep=2)],
                             schema=to_arrow_schema(RUN_METADATA_SCHEMA)),
        RUN_METADATA_TABLE,
    )
    assert [s["id"] for s in store.snapshots(RUN_METADATA_TABLE)] == [1, 2]
    table = store.read_table(spark, RUN_METADATA_TABLE)
    types = {f.name: f.dataType for f in table.schema.fields}
    assert types == {f.name: f.dataType for f in RUN_METADATA_SCHEMA.fields}
    got = [r.asDict() for r in store.read_metrics(spark).collect()]
    want = [dict(row, superstep=k) for k in (1, 2)]
    # Spark returns session-local naive timestamps: compare the two files'
    # instants with each other, every other column with what was written
    assert isinstance(got[0]["ts"], datetime) and got[0]["ts"] == got[1]["ts"]
    assert [dict(r, ts=ts) for r in got] == want


@pytest.mark.slow_e2e
def test_interrupt_and_resume_matches_uninterrupted(spark, pages_df, tmp_path):
    verts, edges = spark_graph(pages_df)
    edges = edges.cache()
    store = Storage(str(tmp_path / "store"))
    run_id = new_run_id()

    full = pagerank(spark, edges, verts, tol=None, max_iter=12, hub_threshold=5)

    # "crash" after 6 supersteps (checkpoint_every=3 → snapshot at step 6)
    pagerank(
        spark, edges, verts, tol=None, max_iter=6, hub_threshold=5,
        storage=store, run_id=run_id, checkpoint_every=3,
    )
    resumed = pagerank(
        spark, edges, verts, tol=None, max_iter=12, hub_threshold=5,
        storage=store, run_id=run_id, checkpoint_every=3,
    )
    assert resumed.supersteps == 12

    a = {r["id"]: r["rank"] for r in full.state.select("id", "rank").collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.select("id", "rank").collect()}
    assert a.keys() == b.keys()
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12

    # lineage: metrics rows exist for both segments (1-6 live, 7-12 resumed)
    steps = {
        r["superstep"]
        for r in store.read_metrics(spark)
        .where((F.col("run_id") == run_id) & (F.col("partition_id") == -1))
        .collect()
    }
    assert steps == set(range(1, 13))


def test_table_snapshot_commit_and_time_travel(spark, tmp_path):
    """Iceberg commit model on the parquet backing: snapshot-commit appends
    (atomic metadata swap — readers never see uncommitted data dirs) +
    VERSION AS OF / TIMESTAMP AS OF time travel."""
    import os

    from pybiodatafuse_spark.storage import Storage

    st = Storage(str(tmp_path / "store"))
    s1 = st.append(spark.createDataFrame([(1,)], "x long"), "t")
    s2 = st.append(spark.createDataFrame([(2,)], "x long"), "t")
    assert (s1, s2) == (1, 2)
    assert {r["x"] for r in st.read_table(spark, "t").collect()} == {1, 2}
    assert {r["x"] for r in st.read_table(spark, "t", snapshot_id=1).collect()} == {1}
    snaps = st.snapshots("t")
    assert len(snaps) == 2
    assert {r["x"] for r in st.read_table(spark, "t", as_of=snaps[0]["ts"]).collect()} == {1}
    # an uncommitted (orphan) data dir is invisible to readers
    orphan = os.path.join(st.table_path("t"), "snap-99-deadbeef")
    spark.createDataFrame([(99,)], "x long").write.parquet(orphan)
    assert {r["x"] for r in st.read_table(spark, "t").collect()} == {1, 2}
    # resume still finds the highest atomic checkpoint
    st.write_checkpoint(spark.createDataFrame([(7,)], "x long"), "alg", "r1", 3)
    assert st.last_checkpoint_step("alg", "r1") == 3


def test_concurrent_appends_drop_no_snapshot(spark, tmp_path):
    """The commit lock gives real optimistic-concurrency semantics: N
    parallel appends → N committed snapshots with distinct consecutive ids
    (without the lock, racing read-modify-writes of metadata.json silently
    drop committed snapshots — the log_metrics-from-parallel-runs case)."""
    from concurrent.futures import ThreadPoolExecutor

    st = Storage(str(tmp_path / "store"))
    dfs = [spark.createDataFrame([(i,)], "x long") for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        ids = list(ex.map(lambda d: st.append(d, "t"), dfs))
    assert sorted(ids) == list(range(1, 9))
    assert len(st.snapshots("t")) == 8
    assert {r["x"] for r in st.read_table(spark, "t").collect()} == set(range(8))


def test_iceberg_mode_is_honest(spark, tmp_path):
    """table_format='iceberg' never silently degrades to parquet: it demands
    a catalog at construction and a configured spark.sql.catalog.<name> at
    first use; parquet mode is unchanged."""
    import pytest

    with pytest.raises(ValueError, match="catalog"):
        Storage(str(tmp_path), table_format="iceberg")
    st = Storage(str(tmp_path), table_format="iceberg", catalog="prod")
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(RuntimeError, match="spark.sql.catalog.prod"):
        st.append(df, "t")
    with pytest.raises(RuntimeError, match="spark.sql.catalog.prod"):
        st.read_table(spark, "t")


def test_compact_and_expire_snapshots(spark, tmp_path):
    """Iceberg maintenance pair: compaction rewrites the live state into one
    base snapshot (same rows, fewer files); expiration then reclaims exactly
    the superseded pre-compaction dirs while time travel to retained
    snapshots keeps working."""
    import os

    st = Storage(str(tmp_path / "store"))
    for lo in (0, 10, 20):
        st.append(
            spark.createDataFrame([(i,) for i in range(lo, lo + 10)], "v long"),
            "t",
        )
    before = st.file_stats("t")
    assert before["n_snapshots"] == 3
    want = set(range(30))

    snap4 = st.compact(spark, "t")
    assert snap4 == 4
    after = st.file_stats("t")
    # live slice is now the single base snapshot, bin-packed
    assert after["n_snapshots"] == 1
    assert after["n_files"] < before["n_files"]
    got = {r["v"] for r in st.read_table(spark, "t").collect()}
    assert got == want
    # time travel BEFORE the compaction still reads the original dirs
    got2 = {r["v"] for r in st.read_table(spark, "t", snapshot_id=2).collect()}
    assert got2 == set(range(20))

    # pure-append history without a base is never expirable (dirs still
    # referenced by the latest state)
    st2 = Storage(str(tmp_path / "store2"))
    st2.append(spark.createDataFrame([(1,)], "v long"), "u")
    st2.append(spark.createDataFrame([(2,)], "v long"), "u")
    assert st2.expire_snapshots("u", keep_last=1) == []

    # expiring after compaction drops snapshots 1-3 and deletes their dirs
    dirs_before = {
        s["dir"]: s["id"] for s in st.snapshots("t")
    }
    expired = st.expire_snapshots("t", keep_last=1)
    assert expired == [1, 2, 3]
    assert [s["id"] for s in st.snapshots("t")] == [4]
    for d, sid in dirs_before.items():
        exists = os.path.isdir(os.path.join(st.table_path("t"), d))
        assert exists == (sid == 4)
    # the retained state is intact; expired time travel is gone
    assert {r["v"] for r in st.read_table(spark, "t").collect()} == want
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        st.read_table(spark, "t", snapshot_id=2)

    # appends stack on top of the base as usual
    st.append(spark.createDataFrame([(99,)], "v long"), "t")
    assert {r["v"] for r in st.read_table(spark, "t").collect()} == want | {99}


def test_compact_retries_on_concurrent_append(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency compaction (Iceberg rewrite_data_files commit
    validation): an append that commits BETWEEN compaction's pinned read and
    its pointer swap must never be lost. The hook lands an append right
    after compact()'s first read resolves — the stale rewrite must be
    detected under the lock, discarded, and retried against the new state."""
    import os

    st = Storage(str(tmp_path / "store"))
    for lo in (0, 10):
        st.append(
            spark.createDataFrame([(i,) for i in range(lo, lo + 10)], "v long"),
            "t",
        )

    orig_read = Storage.read_table
    hooked = {"fired": False}

    def read_then_race(self, spk, name, **kw):
        df = orig_read(self, spk, name, **kw)
        if not hooked["fired"]:
            hooked["fired"] = True
            # concurrent writer commits while the rewrite is in flight
            self.append(spk.createDataFrame([(999,)], "v long"), name)
        return df

    monkeypatch.setattr(Storage, "read_table", read_then_race)
    snap = st.compact(spark, "t")
    monkeypatch.undo()

    assert hooked["fired"]
    # the racing append's rows survive the compaction
    got = {r["v"] for r in st.read_table(spark, "t").collect()}
    assert got == set(range(20)) | {999}
    # the committed base snapshot sits on top of the racing append
    snaps = st.snapshots("t")
    assert snaps[-1]["id"] == snap and snaps[-1].get("base") is True
    assert [s["id"] for s in snaps] == [1, 2, 3, 4]
    # the abandoned first rewrite dir was cleaned up: only referenced dirs
    live_dirs = {s["dir"] for s in snaps}
    on_disk = {
        d for d in os.listdir(st.table_path("t")) if os.path.isdir(
            os.path.join(st.table_path("t"), d)
        )
    }
    assert on_disk == live_dirs
