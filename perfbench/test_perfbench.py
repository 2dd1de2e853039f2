"""Tiny-size tests of the benchmark itself: generator determinism, oracle
agreement with the program, metric names and the summary line.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, oracles, run  # noqa: E402
from perfbench import trace as tr  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.generate(400, 5), gen.generate(400, 5), gen.generate(400, 6)
    for key in ("ids", "src", "dst", "ext_src", "spelling"):
        assert np.array_equal(a[key], b[key])
    assert not np.array_equal(a["src"], c["src"])
    assert gen.pages_frame(a).equals(gen.pages_frame(b))


def test_generator_graph_shape():
    s = gen.stats(gen.generate(4000, 1))
    assert s["pages_out_degree_ge_1000"] >= 1  # default hub salting runs
    assert 0.005 <= s["dangling_share"] <= 0.02
    assert 0.04 <= s["external_share"] <= 0.06
    assert s["edges_weight_gt_1"] > 0
    assert len(s["components"]) >= 2 and s["singletons"] > 0


def test_oracles_on_hand_graph():
    ids = np.array([1, 2, 3, 4, 5, 6])
    src = np.array([1, 2, 3, 1, 5])
    dst = np.array([2, 3, 1, 3, 4])
    assert oracles.triangles(ids, src, dst) == 1
    assert oracles.components(ids, src, dst).tolist() == [1, 1, 1, 4, 4, 6]
    ranks, _ = oracles.pagerank(ids, src, dst, np.ones(5))
    assert abs(ranks.sum() - 1.0) < 1e-12


def test_metric_names():
    spec = _bench_json()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    e2e = run.end_to_end([1.0], [0.5], 100.0, [10.0])
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    empty = tr.NullTracer()
    empty.spans, empty.iterations = [], []
    setup = {"get_spark_s": 1.0, "cold_setup_s": 2.0}
    stats = {"pages": 10, "pages_out_degree_ge_1000": 0}
    layer = run.per_layer(empty, {"phases": {}}, 1.0, None, setup, {}, stats)
    assert set(layer) == {m["name"] for m in spec["per_layer"]}


def test_summary_line_parses():
    line = run.summary_line(True, 3, 0, run.end_to_end([1.0, 2.0], [0.5], 100.0, [10.0]))
    doc = json.loads(line)
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["metrics"]["cpu_s"] == {"value": 1.5, "unit": "s"}


@pytest.fixture(scope="module")
def spark():
    from pybiodatafuse_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    return gen.ensure(str(tmp_path_factory.mktemp("graph")), 400, 3)


def test_oracles_agree_with_program(spark, tiny):
    from pybiodatafuse_spark.plans.components import components
    from pybiodatafuse_spark.plans.csr import pagerank_csr
    from pybiodatafuse_spark.plans.labelprop import label_propagation
    from pybiodatafuse_spark.plans.pagerank import pagerank
    from pybiodatafuse_spark.plans.triangles import triangles

    e = spark.read.parquet(os.path.join(tiny, "edges.parquet"))
    v = spark.read.parquet(os.path.join(tiny, "vertices.parquet"))
    exp = run.Expected(tiny)
    # a low hub threshold exercises the salted join path on a tiny graph
    assert run.check_ranks(pagerank(spark, e, v, max_iter=run.PAGERANK_SUPERSTEPS,
                                    hub_threshold=20), exp) == []
    assert run.check_ranks(pagerank_csr(spark, e, v, max_iter=run.PAGERANK_SUPERSTEPS), exp) == []
    ids = exp.ids.tolist()
    got = {r["id"]: r["component"] for r in components(spark, e, v).collect()}
    assert got == dict(zip(ids, oracles.components(exp.ids, exp.src, exp.dst).tolist()))
    got = {r["id"]: r["label"] for r in label_propagation(spark, e, v).collect()}
    assert got == dict(zip(ids, oracles.label_propagation(exp.ids, exp.src, exp.dst).tolist()))
    lpa = label_propagation(spark, e, v, max_iter=run.LPA_SUPERSTEPS).collect()
    want = oracles.label_propagation(exp.ids, exp.src, exp.dst, max_iter=run.LPA_SUPERSTEPS)
    assert {r["id"]: r["label"] for r in lpa} == dict(zip(ids, want.tolist()))
    assert triangles(spark, e)[0] == oracles.triangles(exp.ids, exp.src, exp.dst)


def test_ingest_check_agrees_with_program(spark, tiny, tmp_path):
    from pybiodatafuse_spark.operators.edges import build_edges, build_vertices
    from pybiodatafuse_spark.storage import Storage

    pages = spark.read.parquet(os.path.join(tiny, "pages.parquet"))
    st = Storage(str(tmp_path))
    v = build_vertices(pages)
    st.append(v, "vertices")
    st.append(build_edges(pages, v), "edges")
    b = run.Bench("durable", False, {"cpus": 2})
    b.spark = spark
    assert run.check_ingest(b, {"ingest_storage": st}, run.Expected(tiny)) == []
