"""Tests of the benchmark itself: every workload executes its operator (no
plan pruning), the scan splits evenly over the cores, and each output check
can fail. Run from the repository root:

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import host  # noqa: E402
import layers  # noqa: E402
import session  # noqa: E402
from workloads import WORKLOADS, replay, sink  # noqa: E402

PYTHON_NODES = ("ArrowEvalPython", "PythonMapInArrow", "MapInArrow")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session.prepare_env(str(tmp_path_factory.mktemp("run")))
    s = session.get_session("perfbench-test")
    yield s
    session.stop(s)


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    """A small image table laid out like a seed window: 2 x nproc files."""
    from tzspark.datasets import images_df

    out = str(tmp_path_factory.mktemp("images") / "t")
    n_files = 2 * session.nproc()
    images_df(spark, 500 * n_files, partitions=n_files).write.parquet(out)
    return sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def ready(request, spark):
    w = WORKLOADS[request.param]()
    w.setup(spark, w.zone_set())
    return w


def test_scan_splits_are_a_multiple_of_nproc(spark, paths):
    parts = spark.read.parquet(*paths).rdd.getNumPartitions()
    assert parts == len(paths) and parts % session.nproc() == 0


def test_executed_plan_runs_the_operator(spark, paths, ready):
    capture = layers.PlanCapture(spark)
    try:
        nodes = capture.run(lambda: sink(ready.op(spark, spark.read.parquet(*paths))))
    finally:
        capture.close()
    names = [n for n, _ in nodes]
    assert any(n in PYTHON_NODES for n in names), names
    if ready.name == "assign_join":
        assert sum(n == "Exchange" for n in names) >= 2, names
    sql = layers.sql_layers(nodes)
    assert sql["python.bytes_in"] > 0 and sql["scan.bytes"] > 0


def test_check_passes_and_can_fail(spark, paths, ready):
    images = spark.read.parquet(*paths)
    ref = replay(ready.index(), paths, decode=ready.decodes)
    assert ready.check(spark, images, ref) == []
    bad = dict(ref, zone_id=ref["zone_id"].copy())
    bad["zone_id"][0] += 1
    assert ready.check(spark, images, bad) != []


def test_cells_counts_match_the_resolve_kernel(paths, ready):
    from tzspark.cells import cell_id

    idx = ready.index()
    ref = replay(idx, paths, decode=False)
    c = layers.cells_layers(idx, ref)
    isb = np.isin(cell_id(ref["lat"], ref["lng"], idx.max_res), idx.b_cells)
    assert c["cells.boundary_share"] == isb.mean()
    assert c["cells.knn_share"] == ref["via_knn"].mean()
    assert c["cells.edge_tests_per_row"] >= c["cells.pip_pairs_per_row"] >= 0


def test_host_readings():
    assert host.tree_rss_bytes(os.getpid()) > 0
    before = host.cpu_times()
    sum(range(10**6))
    assert 0.0 <= host.steal_frac(before, host.cpu_times()) <= 1.0
