"""Tests of the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench -q

The central property: an operation whose output disagrees with its
reference, or that raises, is counted as failed, so a deliberately wrong
reference can never pass as a correct run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pytest

import inputs
import reference as ref
import spans
from run import _stop_processes, execute
from workloads import KIND_COMPUTE, Op


@pytest.fixture
def tracer():
    return spans.Tracer(sc=None, traced=False)


def _duck_expected(tmp_path, sql):
    pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.25, 2.0]}).to_parquet(tmp_path / "t.parquet")
    con = ref.duck(str(tmp_path))
    try:
        return ref.sql_rows(con, sql)
    finally:
        con.close()


def test_wrong_reference_counts_as_failure(tmp_path, tracer):
    got = pd.DataFrame({"k": [1, 2, 3], "v": [1.25, 2.0, 0.5]})
    right = _duck_expected(tmp_path, "SELECT k, v FROM t ORDER BY k")
    wrong = _duck_expected(tmp_path, "SELECT k, v + 1 AS v FROM t ORDER BY k")
    ok_op = Op("q", KIND_COMPUTE, lambda: got, lambda pdf: ref.check_rows(pdf, right, "q"))
    bad_op = Op("q", KIND_COMPUTE, lambda: got, lambda pdf: ref.check_rows(pdf, wrong, "q"))
    assert execute(ok_op, tracer)[1] is True
    assert execute(bad_op, tracer)[1] is False


def test_row_order_is_checked_when_the_reference_orders(tmp_path):
    expected = _duck_expected(tmp_path, "SELECT k, v FROM t ORDER BY k")
    shuffled = pd.DataFrame({"k": [2, 1, 3], "v": [2.0, 1.25, 0.5]})
    with pytest.raises(ref.CheckFailed):
        ref.check_rows(shuffled, expected, "q")


def test_operation_exception_counts_as_failure(tracer):
    def boom():
        raise RuntimeError("operation failed")

    latency, ok = execute(Op("x", KIND_COMPUTE, boom, lambda _: None), tracer)
    assert ok is False and latency >= 0.0


def test_pagerank_check_rejects_a_wrong_reference():
    ranks = {0: 0.5, 1: 0.3, 2: 0.2}
    ref.check_pagerank(pd.DataFrame({"id": [0, 1, 2], "rank": [0.5, 0.3, 0.2]}), ranks)
    with pytest.raises(ref.CheckFailed):
        ref.check_pagerank(pd.DataFrame({"id": [0, 1, 2], "rank": [0.2, 0.3, 0.5]}), ranks)


def test_pagerank_reference_converges_to_networkx():
    import networkx as nx
    from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

    g = nx.gnp_random_graph(200, 0.03, seed=1, directed=True)
    g.add_nodes_from(range(200, 205))  # dangling, isolated vertices
    ours = ref.pagerank(g, steps=300)
    theirs = _pagerank_python(g, tol=1e-13, max_iter=1000)
    assert sum(abs(ours[v] - theirs[v]) for v in g) < 1e-9


def test_label_check_rejects_a_wrong_reference():
    import networkx as nx

    g = nx.Graph([(3, 4), (4, 5), (7, 8)])
    expected = ref.min_id_labels(g)
    assert expected == {3: 3, 4: 3, 5: 3, 7: 7, 8: 7}
    right = pd.DataFrame({"id": [3, 4, 5, 7, 8], "component": [3, 3, 3, 7, 7]})
    ref.check_labels(right, "component", expected, "cc")
    for wrong in ([3, 3, 3, 7, 8], [3, 3, 3, 3, 3]):
        with pytest.raises(ref.CheckFailed):
            ref.check_labels(right.assign(component=wrong), "component", expected, "cc")
    with pytest.raises(ref.CheckFailed):  # a vertex missing
        ref.check_labels(right.iloc[:4], "component", expected, "cc")


def test_image_feature_check_rejects_a_wrong_reference():
    expected = {0: (1.0, 0.0, 1.0, 1.0, 1.0, 1.0, 0.0), 1: (2.0, 0.5, 2.0, 1.0, 3.0, 1.0, 0.25)}
    pdf = pd.DataFrame(
        [(i, *v) for i, v in expected.items()],
        columns=["id", "mean", "std", "median", "min", "max", "corrcoef", "covariance"],
    )
    ref.check_image_features(pdf, expected)
    with pytest.raises(ref.CheckFailed):
        ref.check_image_features(pdf.assign(std=[0.0, 0.6]), expected)


def test_change_feed_summary_counts_every_write():
    narrow = ([5, 6], [1.25, 2.5])
    wide = ([1, 5], [3.0, 4.0])
    assert ref.batch_summary([narrow, wide]) == (4, 17, 1075)


def test_table_model_detects_a_lost_write():
    model = ref.TableModel([1, 2], [10.0, 20.0])
    model.upsert([2, 3], [25.5, 30.0])
    ref.check_summary((3, 6, 6550), model, "t")
    with pytest.raises(ref.CheckFailed):  # the upsert of key 3 went missing
        ref.check_summary((2, 3, 3550), model, "t")
    ref.check_summary((1, 3, 3000), model, "t", lo=3, hi=9)


def test_kmeans_reference_is_a_stable_partition():
    import numpy as np

    rng = np.random.default_rng(0)
    centres = np.array([[1.0, 0.0], [0.0, 1.0]])
    vecs = np.concatenate([centres[0] + rng.normal(0, 0.05, (20, 2)), centres[1] + rng.normal(0, 0.05, (20, 2))])
    ids = np.arange(40)
    assign = ref.kmeans(vecs, ids, k=2, max_iter=5)
    assert len(set(assign[:20])) == 1 and len(set(assign[20:])) == 1
    pdf = pd.DataFrame({"id": ids, "cid": assign})
    ref.check_kmeans(pdf, ids, assign)
    with pytest.raises(ref.CheckFailed):
        ref.check_kmeans(pdf, ids, 1 - assign)


def test_stop_processes_leaves_no_child_running():
    """A child that would outlive the run is ended and reaped."""
    child = subprocess.Popen(
        [sys.executable, "-c", "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(120)"]
    )
    _stop_processes()
    assert child.poll() is not None


def test_inputs_are_seeded(tmp_path):
    d1, d2, d3 = (
        inputs.ensure_inputs(str(tmp_path / name), "graph_iterative", seed)
        for name, seed in (("a", 7), ("b", 7), ("c", 8))
    )
    # the cache key names the code that shaped the inputs
    assert os.path.basename(d1) == f"graph_iterative-7-{inputs.version()}"
    files = sorted(f for f in os.listdir(d1) if f.endswith(".parquet"))
    assert files == sorted(f for f in os.listdir(d2) if f.endswith(".parquet"))
    for f in files:
        with open(os.path.join(d1, f), "rb") as a, open(os.path.join(d2, f), "rb") as b:
            assert a.read() == b.read(), f
    m1, m2, m3 = (inputs.manifest(d) for d in (d1, d2, d3))
    assert m1 == m2 and m1 != m3
    r1 = inputs.references(d1)
    assert r1["pagerank"] and len(r1["cypher"]) == len(m1["cypher_params"])


def _write_event_log(path, events):
    os.makedirs(path)
    data = "\n".join(json.dumps(e) for e in events).encode()
    with pa.OSFile(os.path.join(path, "events_1_app.zstd"), "wb") as raw:
        with pa.CompressedOutputStream(raw, "zstd") as out:
            out.write(data)


def test_fold_event_log(tmp_path):
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
        "children": [],
    }
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 3,
        "Task Info": {
            "Failed": False,
            "Accumulables": [
                {"ID": 7, "Name": "number of output rows", "Update": "40"},
                {"ID": 9, "Name": "data sent to Python workers", "Update": "1000"},
            ],
        },
        "Task Metrics": {
            "Executor Run Time": 500,
            "Executor CPU Time": 400_000_000,
            "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 32},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "5|operators.x"}},
        task,
        task,
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [4],
         "Properties": {"spark.jobGroup.id": "5|"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [5],
         "Properties": {}},
    ]
    _write_event_log(str(tmp_path / "eventlog_v2_app"), events)
    ops, span_jobs = spans.fold_event_log(str(tmp_path))
    op = ops[5]
    assert op["jobs"] == 2 and op["stages"] == 2 and op["tasks"] == 2
    assert op["job_union_s"] == pytest.approx(3.0)  # [1, 3] u [2, 4]
    assert op["executor_run_s"] == pytest.approx(1.0)
    assert op["executor_cpu_s"] == pytest.approx(0.8)
    assert op["python_rows_received"] == 80 and op["python_bytes_sent"] == 2000
    assert op["shuffle_write_bytes"] == 128 and op["shuffle_read_bytes"] == 64
    assert span_jobs == {"operators.x": 1, "": 1}
