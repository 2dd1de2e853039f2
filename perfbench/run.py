"""Link-graph benchmark: one command, seeded workloads, oracle-checked.

    python3 perfbench/run.py --workload durable --seed 1 --seconds 1 --trace 0

Each run is one driver process at ``local[nproc]`` that sets the session up,
then runs the workload's job in a closed loop (one job at a time, next job
after the previous one returns) until ``--seconds`` of job time have passed,
then checks every job's output against numpy oracles. The last stdout line is
a JSON summary; with ``--trace 0`` it carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced job. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

import numpy as np

# the program under test; a checkout without it fails here, before any output
from pybiodatafuse_spark.storage import Storage  # noqa: E402

from perfbench import oracles  # noqa: E402
from perfbench import trace as tr  # noqa: E402

N_PAGES = 4000
PAGERANK_SUPERSTEPS = 3  # max_iter of both PageRanks
LPA_SUPERSTEPS = 5  # max_iter of label propagation; every other knob is the program default
SETUPS = 3
WORKLOADS = ("durable", "structure")


# --- host ------------------------------------------------------------------


def host_sizing() -> dict:
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # a sixteenth of MemTotal for the driver heap: the inputs are small and
    # the host is shared, and a capped heap keeps peak RSS steady run to run
    return {"cpus": cpus, "mem_total_gb": round(mem_kb / 2**20, 1),
            "driver_mem_gb": max(1, int(mem_kb / 2**20 / 16))}


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def calibrate() -> float:
    """Seconds for a fixed numpy sort (median of 3): a quiet-box covariate."""
    a = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        np.sort(a, kind="quicksort")
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _tree_pids() -> list[int]:
    """This process and all its descendants: driver, JVM and Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over the process tree."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree so far, including
    children it has reaped. Time the host steals from the VM is not counted,
    which is why the gated metrics use CPU time rather than wall time."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


# --- session and inputs ----------------------------------------------------


class Bench:
    def __init__(self, workload: str, traced: bool, sizing: dict) -> None:
        self.workload = workload
        self.traced = traced
        self.sizing = sizing
        self.spark = None
        self.tables: dict = {}
        self.tracer = tr.NullTracer()
        self.storage_cls = Storage
        self._jobs = 0

    def setup(self, data_dir: str) -> dict:
        """Session up and inputs open. Returns the setup's timings."""
        from pybiodatafuse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        extra = {"spark.ui.showConsoleProgress": "false"}
        if self.traced:
            extra.update(tr.event_log_conf(os.path.join(WORK, "eventlog")))
        t = time.monotonic()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.sizing['cpus']}]", extra_conf=extra
        )
        t_session = time.monotonic()
        read = self.spark.read.parquet
        self.tables = {
            name: read(os.path.join(data_dir, f"{name}.parquet"))
            for name in ("pages", "edges", "vertices")
        }
        return {"get_spark_s": t_session - t, "open_s": time.monotonic() - t_session}

    def job_dir(self) -> str:
        self._jobs += 1
        d = os.path.join(WORK, "jobs", f"{os.getpid()}-{self._jobs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


# --- jobs ------------------------------------------------------------------


def job_durable(b: Bench) -> dict:
    """Ingest (pages → vertices + edges, committed with Storage.append), then
    PageRank over the generator's edge table with storage on."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from pybiodatafuse_spark.functions.extraction import extract_links_udf
    from pybiodatafuse_spark.operators.edges import build_edges, build_vertices
    from pybiodatafuse_spark.plans.pagerank import pagerank

    spark, t, trc = b.spark, b.tables, b.tracer
    root = b.job_dir()
    out = {"root": root, "phases": {}}
    t0 = time.monotonic()
    st = b.storage_cls(os.path.join(root, "ingest"))
    pages = t["pages"]
    if trc.enabled:
        # materialise each step so that the layer times separate
        with trc.span("extraction.links", "extraction") as rec:
            rec["links"] = pages.select(
                F.explode(extract_links_udf(F.col("html"), F.col("url")))
            ).count()
        out["links_extracted"] = rec["links"]
        with trc.span("edges.build_vertices", "edges"):
            v = build_vertices(pages).persist(StorageLevel.MEMORY_AND_DISK)
            v.count()
        with trc.span("edges.build_edges", "edges"):
            e = build_edges(pages, v).persist(StorageLevel.MEMORY_AND_DISK)
            e.count()
    else:
        v = build_vertices(pages)
        e = build_edges(pages, v)
    st.append(v, "vertices")
    st.append(e, "edges")
    t1 = time.monotonic()
    out["phases"]["ingest_s"] = t1 - t0
    out["ingest_storage"] = st
    pr_st = b.storage_cls(os.path.join(root, "pagerank"))
    cpu1 = tree_cpu_s()
    with trc.span("pagerank.call", "pagerank"):
        res = pagerank(
            spark, t["edges"], t["vertices"], storage=pr_st,
            checkpoint_every=5, max_iter=PAGERANK_SUPERSTEPS,
        )
    out["pagerank_cpu_s"] = tree_cpu_s() - cpu1
    out["phases"]["pagerank_s"] = time.monotonic() - t1
    out["pagerank"] = res
    out["pagerank_storage"] = pr_st
    return out


def job_structure(b: Bench) -> dict:
    """CSR PageRank, components, label propagation and triangles over the
    generator's edge table, storage off."""
    from pybiodatafuse_spark.plans.components import components
    from pybiodatafuse_spark.plans.csr import pagerank_csr
    from pybiodatafuse_spark.plans.labelprop import label_propagation
    from pybiodatafuse_spark.plans.triangles import triangles

    spark, t, trc = b.spark, b.tables, b.tracer
    out = {"root": b.job_dir(), "phases": {}}
    edges, verts = t["edges"], t["vertices"]
    t0, cpu0 = time.monotonic(), tree_cpu_s()
    with trc.span("csr.call", "csr"):
        out["pagerank"] = pagerank_csr(spark, edges, verts, max_iter=PAGERANK_SUPERSTEPS)
    out["pagerank_cpu_s"] = tree_cpu_s() - cpu0
    t1 = time.monotonic()
    with trc.span("components.call", "components"):
        out["components"] = components(spark, edges, verts).collect()
    t2 = time.monotonic()
    with trc.span("labelprop.call", "labelprop"):
        out["labels"] = label_propagation(spark, edges, verts, max_iter=LPA_SUPERSTEPS).collect()
    t3 = time.monotonic()
    with trc.span("triangles.call", "triangles"):
        out["triangles"] = triangles(spark, edges)[0]
    t4 = time.monotonic()
    out["phases"] = {"pagerank_s": t1 - t0, "components_s": t2 - t1,
                     "label_propagation_s": t3 - t2, "triangles_s": t4 - t3}
    return out


JOBS = {"durable": job_durable, "structure": job_structure}


# --- checks ----------------------------------------------------------------


class Expected:
    """Oracle inputs for one generated graph, loaded after timing stops."""

    def __init__(self, data_dir: str) -> None:
        z = np.load(os.path.join(data_dir, "links.npz"))
        self.link_src, self.link_dst = z["src"], z["dst"]
        self.urls = z["urls"]
        ids = z["ids"]
        order = np.argsort(ids)
        self.ids = ids[order]
        import pyarrow.parquet as pq

        e = pq.read_table(os.path.join(data_dir, "edges.parquet")).to_pandas()
        self.src = e["src"].to_numpy()
        self.dst = e["dst"].to_numpy()
        self.weight = e["weight"].to_numpy()


def check_ranks(res, exp: Expected) -> list[str]:
    pdf = res.state.select("id", "rank").toPandas().sort_values("id")
    from pybiodatafuse_spark.plans.pagerank import pagerank

    want, steps = oracles.pagerank(
        exp.ids, exp.src, exp.dst, exp.weight, max_iter=PAGERANK_SUPERSTEPS,
        damping=program_default(pagerank, "damping"), tol=program_default(pagerank, "tol"),
    )
    got = pdf["rank"].to_numpy()
    errs = []
    if not np.array_equal(pdf["id"].to_numpy(), exp.ids):
        return ["pagerank: vertex set differs from the generator's"]
    if len(res.walls) != steps:
        errs.append(f"pagerank: {len(res.walls)} supersteps, oracle {steps}")
    if not np.allclose(got, want, rtol=0.0, atol=1e-6):
        errs.append(f"pagerank: max |rank - oracle| = {np.abs(got - want).max():.3g}")
    if abs(got.sum() - 1.0) > 1e-9:
        errs.append(f"pagerank: total mass {got.sum()!r}")
    return errs


def check_ingest(b: Bench, out: dict, exp: Expected) -> list[str]:
    st = out["ingest_storage"]
    v = st.read_table(b.spark, "vertices").toPandas()
    e = st.read_table(b.spark, "edges").toPandas()
    errs = []
    if sorted(v["url"]) != sorted(exp.urls.tolist()) or v["id"].nunique() != len(v):
        errs.append("ingest: vertex urls/ids differ from the generator's pages")
    out["edges_built"] = len(e)
    out["edge_weight_sum"] = float(e["weight"].sum())
    url_of = dict(zip(v["id"], v["url"]))
    got = sorted(
        (url_of[s], url_of[d], w) for s, d, w in zip(e["src"], e["dst"], e["weight"])
    )
    pairs, counts = np.unique(
        np.stack([exp.link_src, exp.link_dst], axis=1), axis=0, return_counts=True
    )
    want = sorted(
        (exp.urls[s], exp.urls[d], float(c)) for (s, d), c in zip(pairs.tolist(), counts)
    )
    if got != want:
        errs.append(f"ingest: edge multiset differs ({len(got)} edges vs {len(want)})")
    return errs


def program_default(fn, name: str):
    return inspect.signature(fn).parameters[name].default


def check(b: Bench, out: dict, exp: Expected) -> list[str]:
    errs = check_ranks(out["pagerank"], exp)
    if b.workload == "durable":
        errs += check_ingest(b, out, exp)
        out["run_metadata_files"] = out["pagerank_storage"].file_stats("run_metadata")["n_files"]
        return errs
    want_cc = dict(zip(exp.ids.tolist(), oracles.components(exp.ids, exp.src, exp.dst).tolist()))
    if {r["id"]: r["component"] for r in out["components"]} != want_cc:
        errs.append("components: labels differ from the oracle")
    lpa = oracles.label_propagation(exp.ids, exp.src, exp.dst, max_iter=LPA_SUPERSTEPS)
    if {r["id"]: r["label"] for r in out["labels"]} != dict(zip(exp.ids.tolist(), lpa.tolist())):
        errs.append("label_propagation: labels differ from the oracle")
    want_tri = oracles.triangles(exp.ids, exp.src, exp.dst)
    if out["triangles"] != want_tri:
        errs.append(f"triangles: {out['triangles']} vs oracle {want_tri}")
    return errs


# --- metrics ---------------------------------------------------------------


def end_to_end(cpus, setups, rss_mb, traversals) -> dict:
    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
        "edge_traversals_per_cpu_s": {"value": statistics.median(traversals), "unit": "1/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def summary_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def _pct(values, q) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def per_layer(trc: tr.Tracer, out: dict, wall: float, untraced: float | None,
              setup: dict, tasks: dict, exp_stats: dict) -> dict:
    """Per-layer metrics of one traced job. Layers the workload does not run
    report 0."""
    spans = trc.spans
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def total(name, pred=lambda s: True):
        return sum(dur(s) for s in by_name.get(name, []) if pred(s))

    parent_name = {s["id"]: s["name"] for s in spans}
    top_append = [s for s in by_name.get("storage.append", [])
                  if parent_name.get(s["parent"]) != "storage.log_metrics"]
    log_appends = [s for s in by_name.get("storage.append", [])
                   if parent_name.get(s["parent"]) == "storage.log_metrics"]
    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (setup["get_spark_s"], "s")
    m["session.cold_setup_s"] = (setup["cold_setup_s"], "s")

    links_s = total("extraction.links")
    links = out.get("links_extracted", 0)
    m["extraction.links_s"] = (links_s, "s")
    m["extraction.links_per_s"] = (links / links_s if links_s else 0.0, "1/s")
    m["edges.build_vertices_s"] = (total("edges.build_vertices"), "s")
    m["edges.build_edges_s"] = (total("edges.build_edges"), "s")
    ingest_s = out["phases"].get("ingest_s", 0.0)
    m["edges.pages_per_s"] = (exp_stats["pages"] / ingest_s if ingest_s else 0.0, "1/s")
    in_corpus = out.get("edge_weight_sum", 0.0)
    n_edges_built = out.get("edges_built", 0)
    m["edges.dedup_ratio"] = (n_edges_built / in_corpus if in_corpus else 0.0, "ratio")
    m["edges.corpus_keep_ratio"] = (in_corpus / links if links else 0.0, "ratio")

    m["storage.append_s"] = (sum(dur(s) for s in top_append), "s")
    m["storage.append_bytes"] = (sum(s.get("bytes", 0) for s in top_append), "B")
    m["storage.log_metrics_s"] = (total("storage.log_metrics"), "s")
    m["storage.log_metrics_calls"] = (len(by_name.get("storage.log_metrics", [])), "count")
    m["storage.run_metadata_files"] = (out.get("run_metadata_files", 0), "count")
    m["storage.write_checkpoint_s"] = (total("storage.write_checkpoint"), "s")
    m["storage.read_checkpoint_s"] = (total("storage.read_checkpoint"), "s")
    ckpt_bytes = sum(s.get("bytes", 0) for s in by_name.get("storage.write_checkpoint", []))
    m["storage.checkpoint_bytes"] = (ckpt_bytes, "B")
    steps_pr = sum(it["supersteps"] for it in trc.iterations if it["layer"] == "pagerank")
    rank_bytes = 8 * exp_stats["pages"] * steps_pr
    written = ckpt_bytes + sum(s.get("bytes", 0) for s in log_appends)
    m["storage.bytes_written_per_rank_byte"] = (written / rank_bytes if rank_bytes else 0.0, "ratio")

    its = trc.iterations
    iterate_s = total("superstep.iterate")
    walls_sum = sum(sum(it["walls"]) for it in its)
    supersteps = sum(it["supersteps"] for it in its)
    m["superstep.iterate_s"] = (iterate_s, "s")
    m["superstep.supersteps"] = (supersteps, "count")
    jobs = sum(it.get("jobs_in_steps", 0) for it in its)
    m["superstep.jobs_per_superstep"] = (jobs / supersteps if supersteps else 0.0, "count")
    m["superstep.unattributed_s"] = (iterate_s - walls_sum - m["storage.log_metrics_s"][0], "s")

    ckpt_by_step: dict[int, float] = {}
    for name in ("storage.write_checkpoint", "storage.read_checkpoint"):
        for s in by_name.get(name, []):
            ckpt_by_step[s["step"]] = ckpt_by_step.get(s["step"], 0.0) + dur(s)

    def step_walls(layer):
        ws = []
        for it in its:
            if it["layer"] == layer:
                ws += [w - ckpt_by_step.get(k + 1, 0.0) for k, w in enumerate(it["walls"])]
        return ws

    span_by_id = {s["id"]: s for s in spans}

    def prep(layer, call):
        """From the plan call until its first ``iterate`` starts."""
        calls = by_name.get(call, [])
        it = next((it for it in its if it["layer"] == layer), None)
        return span_by_id[it["span"]]["start"] - calls[0]["start"] if calls and it else 0.0

    pr = step_walls("pagerank")
    m["pagerank.prep_s"] = (prep("pagerank", "pagerank.call"), "s")
    m["pagerank.first_superstep_s"] = (pr[0] if pr else 0.0, "s")
    m["pagerank.superstep_s_p50"] = (_pct(pr, 50), "s")
    m["pagerank.superstep_s_p99"] = (_pct(pr, 99), "s")

    cs = step_walls("csr")
    m["csr.prep_s"] = (prep("csr", "csr.call") - total("csr.spill") if cs else 0.0, "s")
    m["csr.spill_s"] = (total("csr.spill"), "s")
    m["csr.block_bytes"] = (sum(s.get("bytes", 0) for s in by_name.get("csr.spill", [])), "B")
    m["csr.superstep_s_p50"] = (_pct(cs, 50), "s")
    m["csr.superstep_s_p99"] = (_pct(cs, 99), "s")

    for layer, call in (("components", "components.call"), ("labelprop", "labelprop.call")):
        ws = step_walls(layer)
        m[f"{layer}.wall_s"] = (total(call), "s")
        m[f"{layer}.supersteps"] = (len(ws), "count")
        m[f"{layer}.superstep_s_p50"] = (_pct(ws, 50), "s")
    m["triangles.wall_s"] = (total("triangles.call"), "s")

    for layer in tr.TASK_LAYERS:
        t = tasks.get(layer, {})
        for key, unit in (("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "B"),
                          ("shuffle_read_bytes", "B"), ("spill_bytes", "B"), ("task_skew", "ratio")):
            m[f"{layer}.{key}"] = (t.get(key, 0), unit)

    top = [s for s in spans if s["parent"] is None]
    m["trace.layer_sum_share"] = (sum(dur(s) for s in top) / wall, "ratio")
    m["trace.overhead_s"] = (wall - untraced if untraced is not None else 0.0, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# --- main ------------------------------------------------------------------


def ensure_data(seed: int) -> str:
    """Generate (or reuse) the seed's graph in a child process, untimed."""
    from perfbench.gen import GENERATOR_VERSION

    root = os.path.join(WORK, "data")
    out = os.path.join(root, f"v{GENERATOR_VERSION}_n{N_PAGES}_s{seed}")
    if os.path.exists(os.path.join(out, "graph.json")):
        return out
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), root, str(N_PAGES), str(seed)],
        check=True, stdout=subprocess.DEVNULL,
    )
    return out


def record_untraced(workload: str, seed: int, wall: float) -> None:
    with open(os.path.join(WORK, "untraced_walls.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": workload, "seed": seed, "wall_s": wall}) + "\n")


def recorded_untraced(workload: str) -> float | None:
    try:
        with open(os.path.join(WORK, "untraced_walls.jsonl")) as fh:
            walls = [r["wall_s"] for r in map(json.loads, fh) if r["workload"] == workload]
    except FileNotFoundError:
        return None
    return statistics.median(walls) if walls else None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sizing = host_sizing()
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(sizing["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{sizing['driver_mem_gb']}g"
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(sizing["cpus"])
    import tempfile

    tempfile.tempdir = None

    covariates = {"loadavg_before": loadavg(), "calibration_s_before": calibrate()}
    t_gen = time.monotonic()
    data_dir = ensure_data(args.seed)
    gen_s = time.monotonic() - t_gen
    with open(os.path.join(data_dir, "graph.json")) as fh:
        graph = json.load(fh)

    b = Bench(args.workload, bool(args.trace), sizing)
    setups, setup_detail = [], {}
    for i in range(SETUPS):
        t = time.monotonic()
        s = b.setup(data_dir)
        if i == 0:
            # first setup: from process start (generation excluded) — it
            # includes the imports and the JVM launch
            s["cold_setup_s"] = time.monotonic() - T_PROCESS - gen_s
            setup_detail = s
            setups.append(s["cold_setup_s"])
        else:
            setups.append(time.monotonic() - t)

    if b.traced:
        b.tracer = tr.Tracer(b.spark)
        b.storage_cls = tr.traced_storage(b.tracer)
        saved = tr.install(b.tracer)

    job = JOBS[args.workload]
    walls, cpus, outs, failures, attempted = [], [], [], [], 0
    spent = 0.0
    while True:
        attempted += 1
        t, cpu = time.monotonic(), tree_cpu_s()
        try:
            out = job(b)
        except Exception as exc:  # a failed job counts and ends the loop
            failures.append(f"job raised {type(exc).__name__}: {exc}")
            break
        wall = time.monotonic() - t
        cpus.append(tree_cpu_s() - cpu)
        walls.append(wall)
        outs.append(out)
        spent += wall
        if b.traced or spent >= args.seconds:
            break
    rss_mb = tree_peak_rss_mb()

    tracer = b.tracer
    untraced = None
    if b.traced and walls:
        tr.uninstall(saved)
        untraced = recorded_untraced(args.workload)
        if untraced is None:  # no untraced run recorded in this checkout yet
            b.tracer, b.storage_cls = tr.NullTracer(), Storage
            t = time.monotonic()
            extra = job(b)
            untraced = time.monotonic() - t
            shutil.rmtree(extra["root"], ignore_errors=True)

    exp = Expected(data_dir)
    traversals, failed = [], attempted - len(walls)
    for out in outs:
        try:
            errs = check(b, out, exp)
        except Exception as exc:
            errs = [f"check raised {type(exc).__name__}: {exc}"]
        failures += errs
        failed += bool(errs)
        steps = len(out["pagerank"].walls)
        out["phases"]["edge_traversals_per_s"] = graph["stats"]["edges"] * steps / out["phases"]["pagerank_s"]
        traversals.append(graph["stats"]["edges"] * steps / out["pagerank_cpu_s"])
    if not b.traced and walls:
        record_untraced(args.workload, args.seed, walls[0])

    app_id = b.spark.sparkContext.applicationId
    b.shutdown()
    for out in outs:
        shutil.rmtree(out["root"], ignore_errors=True)
    covariates.update({"loadavg_after": loadavg(), "calibration_s_after": calibrate()})

    if not walls:
        print(json.dumps({"failures": failures}), file=sys.stderr)
        return 1
    if b.traced:
        log_dir = os.path.join(WORK, "eventlog")
        tasks = tr.task_metrics(log_dir, app_id)
        shutil.rmtree(log_dir, ignore_errors=True)
        metrics = per_layer(tracer, outs[0], walls[0], untraced, setup_detail, tasks, graph["stats"])
    else:
        metrics = end_to_end(cpus, setups, rss_mb, traversals)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": sizing, "covariates": covariates, "graph": graph["stats"],
        "jobs": len(walls), "walls_s": walls, "cpu_s": cpus, "setups_s": setups,
        "phases": [o["phases"] for o in outs], "failures": failures,
        "ops_failed_ratio": failed / attempted,
    }
    if b.traced:
        detail["spans"] = tracer.spans
        detail["iterations"] = tracer.iterations
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}_s{args.seed}_t{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for name, mv in metrics.items():
        print(f"{args.workload} {name} = {mv['value']:.6g} {mv['unit']}")
    print(json.dumps({k: detail[k] for k in ("covariates", "jobs", "walls_s", "cpu_s", "phases",
                                              "ops_failed_ratio", "failures")}))
    print(summary_line(not failures, attempted, failed, metrics))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
