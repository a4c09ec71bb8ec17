"""Per-layer numbers for the traced run.

* Spark runtime: raw SQL metrics of the executed plan (captured with a
  QueryExecutionListener, because the status API only serves them as
  rounded display strings) and stage/task metrics from the status REST API
  on the driver's local UI port.
* cells: exact work counts of the lookup, from the index arrays over the
  workload's points.
* kernels: ns per row of each public kernel in the driver-side replay.
"""

from __future__ import annotations

import json
import pickle
import statistics
import urllib.request

import numpy as np


class PlanCapture:
    """QueryExecutionListener that keeps the last successful QueryExecution."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._spark = spark
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.qe = None
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        self.qe = qe

    def onFailure(self, func_name, qe, exception):
        pass

    def run(self, action):
        """Run ``action()`` (one query); return its executed plan's
        (node, metrics) list. Listener events are asynchronous, so the bus
        is drained before (events of earlier queries) and after."""
        self._bus.waitUntilEmpty()
        self.qe = None
        action()
        self._bus.waitUntilEmpty()
        if self.qe is None:
            raise RuntimeError("no QueryExecution reported for the traced action")
        return plan_nodes(self.qe.executedPlan())

    def close(self):
        self._spark._jsparkSession.listenerManager().unregister(self)


def _seq(s) -> list:
    it, out = s.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(plan) -> list:
    """[(node name, {metric key: raw value})] over the executed plan,
    descending into adaptive plans, query stages, reused exchanges and
    cached relations."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        metrics = {kv._1(): kv._2().value() for kv in _seq(node.metrics())}
        out.append((node.nodeName(), metrics))
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(node.child())
        elif cls == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        stack.extend(_seq(node.children()))
    return out


def _sum(nodes, pred, key) -> int:
    return sum(m.get(key, 0) for name, m in nodes if pred(name))


def sql_layers(nodes: list) -> dict:
    is_scan = lambda n: n.startswith("Scan")  # noqa: E731
    is_py = lambda n: "Python" in n or "Arrow" in n  # noqa: E731
    return {
        "scan.bytes": _sum(nodes, is_scan, "filesSize"),
        "scan.s": _sum(nodes, is_scan, "scanTime") / 1e3,
        "python.s": _sum(nodes, is_py, "pythonTotalTime") / 1e3,
        "python.bytes_in": _sum(nodes, is_py, "pythonDataSent"),
        "python.bytes_out": _sum(nodes, is_py, "pythonDataReceived"),
    }


def _rest(port: int, app: str, path: str):
    url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_layers(spark, group: str, wall_s: float, cores: int) -> dict:
    """Stage and task metrics of every job in ``group``, from the REST API."""
    sc = spark.sparkContext
    port = int(sc.uiWebUrl.rsplit(":", 1)[1])
    app = sc.applicationId
    jobs = [j for j in _rest(port, app, "jobs") if j.get("jobGroup") == group]
    stages = [
        a
        for sid in sorted({s for j in jobs for s in j["stageIds"]})
        for a in _rest(port, app, f"stages/{sid}")
        if a["status"] == "COMPLETE"
    ]
    durations, run_ms = [], 0
    for a in stages:
        tasks = _rest(port, app, f"stages/{a['stageId']}/{a['attemptId']}/taskList?length=1000000")
        durations += [t["duration"] for t in tasks]
        run_ms += a["executorRunTime"]
    tot = lambda k: sum(a.get(k, 0) for a in stages)  # noqa: E731
    return {
        "shuffle.bytes_written": tot("shuffleWriteBytes"),
        "shuffle.fetch_wait_s": tot("shuffleFetchWaitTime") / 1e3,
        "spill.bytes": tot("diskBytesSpilled"),
        "jvm.gc_s": tot("jvmGcTime") / 1e3,
        "tasks.n": len(durations),
        "tasks.p50_s": statistics.median(durations) / 1e3 if durations else 0.0,
        "tasks.max_s": max(durations, default=0) / 1e3,
        "tasks.idle_core_s": wall_s * cores - run_ms / 1e3,
    }


def cells_layers(idx, ref: dict) -> dict:
    """Exact lookup work over the workload's valid points."""
    from tzspark.cells import cell_id

    lat, lng = ref["lat"], ref["lng"]
    n = max(len(lat), 1)
    cell = cell_id(lat, lng, idx.max_res)
    pos = np.minimum(np.searchsorted(idx.b_cells, cell), len(idx.b_cells) - 1)
    cp = pos[idx.b_cells[pos] == cell]
    n_cand = idx.b_off[cp + 1] - idx.b_off[cp]
    cand = np.repeat(idx.b_off[cp], n_cand) + (
        np.arange(n_cand.sum()) - np.repeat(np.cumsum(n_cand) - n_cand, n_cand)
    )
    edges = idx.b_edge_off[cand + 1] - idx.b_edge_off[cand]
    return {
        "cells.index_bytes": len(pickle.dumps(idx, protocol=pickle.HIGHEST_PROTOCOL)),
        "cells.boundary_share": len(cp) / n,
        "cells.knn_share": float(ref["via_knn"].sum()) / n,
        "cells.pip_pairs_per_row": float(n_cand.sum()) / n,
        "cells.edge_tests_per_row": float(edges.sum()) / n,
    }


KERNELS = {
    "extract": "imagecodec.extract_ns_per_row",
    "resolve": "cells.resolve_ns_per_row",
    "knn": "cells.knn_ns_per_row",
    "decode": "imagecodec.decode_ns_per_row",
}


def kernel_layers(replays: list) -> dict:
    """Median over replays of each kernel's ns per row it was given."""
    return {
        name: statistics.median(
            r["secs"][k] * 1e9 / max(r["rows"][k], 1) for r in replays
        )
        for k, name in KERNELS.items()
    }
