"""Tracing for the benchmark's per-layer run, built from outside the program.

- :class:`Tracer` records spans (name, layer, start, end, parent) in memory
  and sets the Spark job group of each span to its layer, so Spark's task
  metrics can be attributed to layers afterwards.
- :func:`traced_storage` returns a ``Storage`` subclass that records spans
  around ``append``, ``write_checkpoint``, ``read_checkpoint`` and
  ``log_metrics``, with the bytes each one wrote.
- :func:`install` wraps module attributes: ``iterate`` as imported by each
  plan (the wrapper also wraps the step function, to time each superstep and
  count its Spark jobs) and ``spill_csr_blocks``.
- :func:`task_metrics` reads the Spark event log (``spark.eventLog`` with
  compression and rolling off, so stdlib ``json`` can read it) and sums
  ``SparkListenerTaskEnd`` metrics per job group.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import statistics
import time

# plan module -> layer name used for its job group and metrics
PLAN_LAYERS = {
    "pybiodatafuse_spark.plans.pagerank": "pagerank",
    "pybiodatafuse_spark.plans.csr": "csr",
    "pybiodatafuse_spark.plans.components": "components",
    "pybiodatafuse_spark.plans.labelprop": "labelprop",
}
TASK_LAYERS = (
    "extraction", "edges", "storage", "superstep",
    "pagerank", "csr", "components", "labelprop", "triangles",
)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.iterations: list[dict] = []
        self._stack: list[dict] = []
        self._groups_seen: set[str] = set()
        self._group: str | None = None

    def _set_group(self, group: str | None) -> None:
        if group is not None and group != self._group:
            self.sc.setJobGroup(group, group)
            self._groups_seen.add(group)
            self._group = group

    def jobs_so_far(self) -> int:
        """Jobs started so far under any group this tracer has set."""
        st = self.sc.statusTracker()
        return sum(len(st.getJobIdsForGroup(g)) for g in self._groups_seen)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Record a span; Spark jobs started inside it carry ``layer`` as
        their job group."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        self.spans.append(rec)
        prev_group = self._group
        self._stack.append(rec)
        self._set_group(layer)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(prev_group)

    def set_step_group(self, layer: str) -> None:
        """Superstep jobs run after the step function returns, inside the
        engine: leave the group on the plan's layer until the next span."""
        self._set_group(layer)


def traced_storage(tracer: Tracer):
    from pybiodatafuse_spark.storage import Storage

    class TracedStorage(Storage):
        def append(self, df, name):
            with tracer.span("storage.append", "storage", table=name) as rec:
                snap = super().append(df, name)
            if self.table_format == "parquet":
                d = self.snapshots(name)[-1]["dir"]
                rec["bytes"] = dir_bytes(os.path.join(self.table_path(name), d))
            return snap

        def write_checkpoint(self, df, algorithm, run_id, step):
            with tracer.span("storage.write_checkpoint", "storage", step=step) as rec:
                path = super().write_checkpoint(df, algorithm, run_id, step)
            rec["bytes"] = dir_bytes(path)
            return path

        def read_checkpoint(self, spark, algorithm, run_id, step):
            with tracer.span("storage.read_checkpoint", "storage", step=step):
                return super().read_checkpoint(spark, algorithm, run_id, step)

        def log_metrics(self, spark, **kw):
            with tracer.span("storage.log_metrics", "storage", step=kw.get("superstep")):
                return super().log_metrics(spark, **kw)

    return TracedStorage


def install(tracer: Tracer) -> list:
    """Wrap the plans' ``iterate`` and ``spill_csr_blocks``. Returns
    (module, attribute, original) triples for :func:`uninstall`."""
    saved = []
    for mod_name, layer in PLAN_LAYERS.items():
        mod = importlib.import_module(mod_name)
        orig = mod.iterate
        mod.iterate = _wrap_iterate(tracer, orig, layer)
        saved.append((mod, "iterate", orig))

    csr = importlib.import_module("pybiodatafuse_spark.plans.csr")
    orig_spill = csr.spill_csr_blocks

    def spill(edges_norm, store, *a, **kw):
        with tracer.span("csr.spill", "csr") as rec:
            out = orig_spill(edges_norm, store, *a, **kw)
        rec["bytes"] = dir_bytes(store)
        return out

    csr.spill_csr_blocks = spill
    saved.append((csr, "spill_csr_blocks", orig_spill))
    return saved


def uninstall(saved: list) -> None:
    for mod, attr, orig in saved:
        setattr(mod, attr, orig)


def _wrap_iterate(tracer: Tracer, orig, layer: str):
    def iterate(spark, state, step_fn, **kw):
        it = {"layer": layer, "algorithm": kw.get("algorithm"), "step_starts": []}
        tracer.iterations.append(it)

        def step(st, k, carry):
            if not it["step_starts"]:
                it["jobs_at_first_step"] = tracer.jobs_so_far()
            it["step_starts"].append(time.time())
            tracer.set_step_group(layer)
            return step_fn(st, k, carry)

        with tracer.span("superstep.iterate", "superstep", algorithm=kw.get("algorithm")) as rec:
            result = orig(spark, state, step, **kw)
            # the engine's last action has finished; count before the span
            # restores the caller's group
            it["jobs_in_steps"] = tracer.jobs_so_far() - it.get("jobs_at_first_step", 0)
        it["span"] = rec["id"]
        it["supersteps"] = len(result.walls)
        it["walls"] = list(result.walls)
        return result

    return iterate


# --- Spark event log -------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def task_metrics(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: task CPU, GC, shuffle read/write, disk spill and the
    max/median task run time. Read after the SparkContext has stopped."""
    files = [f for f in glob.glob(os.path.join(log_dir, app_id + "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id", "")
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                group = stage_group.get(ev["Stage ID"], "")
                tasks.setdefault(group, []).append(ev["Task Metrics"])
    out = {}
    for group, ms in tasks.items():
        run = [m["Executor Run Time"] for m in ms]
        sr = [m["Shuffle Read Metrics"] for m in ms]
        out[group] = {
            "tasks": len(ms),
            "task_cpu_s": sum(m["Executor CPU Time"] for m in ms) / 1e9,
            "gc_s": sum(m["JVM GC Time"] for m in ms) / 1e3,
            "shuffle_write_bytes": sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in ms),
            "shuffle_read_bytes": sum(r["Remote Bytes Read"] + r["Local Bytes Read"] for r in sr),
            "spill_bytes": sum(m["Disk Bytes Spilled"] for m in ms),
            "task_skew": max(run) / max(statistics.median(run), 1),
        }
    return out
