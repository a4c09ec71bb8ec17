"""tzspark benchmark: point-in-polygon lookup, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see workloads.py and README.md):
assign_bcast, assign_join, tile_onepass. One run:

1. builds the image pool once per checkout (inputs.py) and picks the seed's
   window of files; generates the zone list (untimed);
2. set-up, timed: Spark session start, then SETUPS x (cover compile
   [+ cover tables]); setup_s = session + median of the repeats;
3. warm-up reps until two consecutive reps agree, then
   --trace 0: timed reps for --seconds; rows_per_s = rows / median rep;
   --trace 1: one traced rep and the per-layer numbers (layers.py);
4. one untimed execution checked against a driver-side replay.

The last stdout line is the result JSON; a per-run record with the host
readings (steal, fault cost) and every rep time goes to stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import tzspark  # noqa: E402,F401  (fails fast outside a tzspark checkout)

import host  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import session  # noqa: E402
from workloads import WORKLOADS, replay, sink  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench")
SETUPS = 3  # set-up repeats per run; setup_s takes their median
WARMUP_MIN, WARMUP_MAX, WARMUP_TOL = 2, 3, 0.10
MIN_REPS = 3
REPLAYS = 3  # driver-side kernel replays in a traced run
TRACED_GROUP = "perfbench-traced"


def metric_units() -> tuple:
    """{name: unit} of the end-to-end and per-layer metrics, as listed in
    BENCHMARK.json; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")
    )


class Reps:
    """Runs the operator; counts attempts and failures."""

    def __init__(self, spark, workload, images):
        self.spark, self.w, self.images = spark, workload, images
        self.attempted = self.failed = 0

    def once(self):
        """One rep: (wall s, plan-build s), or None if it raised."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            df = self.w.op(self.spark, self.images)
            t1 = time.perf_counter()
            sink(df)
            t2 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            self.reset()
        return t2 - t0, t1 - t0

    def reset(self):
        """Untimed, between reps: drop what the last rep left behind.
        assign_join persists its intermediates, which a later rep must not
        read; collecting the last rep's Python handles (its DataFrames and
        assign's per-call broadcast) lets the JVM free what they pin."""
        self.spark.catalog.clearCache()
        gc.collect()

    def warm_up(self) -> list:
        times = []
        while len(times) < WARMUP_MAX:
            r = self.once()
            if r:
                times.append(r[0])
            if (
                len(times) >= WARMUP_MIN
                and abs(times[-1] - times[-2]) <= WARMUP_TOL * times[-2]
            ):
                break
        return times

    def timed(self, seconds: float) -> list:
        out, t0 = [], time.perf_counter()
        while len(out) < MIN_REPS or time.perf_counter() - t0 < seconds:
            r = self.once()
            if r:
                out.append(r)
            if self.attempted > 1000:
                break
        if not out:
            raise RuntimeError("every timed rep failed")
        return out


def same_histogram(paths: list, seed: int, name: str, hist: list) -> list:
    """assign_bcast and assign_join must produce the same (zone_id,
    via_knn) histogram for a seed: each run files its histogram beside the
    image pool and compares it with the other strategy's, if present."""
    path = os.path.join(os.path.dirname(paths[0]), f"hist-{seed}.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    others = {k for k, v in seen.items() if k != name and v != hist}
    seen[name] = hist
    with open(path, "w") as f:
        json.dump(seen, f)
    return [f"histogram differs from {k}'s" for k in sorted(others)]


def traced_rep(spark, reps: Reps) -> tuple:
    """One rep under a job group, with its executed plan captured:
    ((wall s, plan-build s), plan nodes)."""
    capture = layers.PlanCapture(spark)
    spark.sparkContext.setJobGroup(TRACED_GROUP, "traced rep")
    try:
        out = []
        nodes = capture.run(lambda: out.append(reps.once()))
    finally:
        spark.sparkContext.setJobGroup("perfbench-check", "check")
        capture.close()
    if out[0] is None:
        raise RuntimeError("the traced rep failed")
    return out[0], nodes


def measure(args, w, zones, paths, n_rows) -> tuple:
    """Set-up, warm-up, timed or traced reps, then the output check.
    Returns (reps, per-run record, end-to-end values, per-layer values)."""
    from tzspark import hostcal

    clock = time.perf_counter
    faults = [hostcal.fault_probe()]
    cpu0 = host.cpu_times()
    spark = None
    try:
        with host.PeakRss() as rss:  # session start to the last timed rep
            t = clock()
            spark = session.get_session(f"perfbench-{w.name}")
            session_s = clock() - t
            setups = [w.setup(spark, zones) for _ in range(SETUPS)]
            rss.mark("setup")
            images = spark.read.parquet(*paths)
            splits = images.rdd.getNumPartitions()
            if splits % session.nproc():
                raise RuntimeError(f"{splits} scan splits on {session.nproc()} cores")
            reps = Reps(spark, w, images)
            t = clock()
            warm = reps.warm_up()
            warm_s = clock() - t
            rss.mark("warmup")
            faults.append(hostcal.fault_probe())
            if args.trace:
                t = clock()
                rep, nodes = traced_rep(spark, reps)
                traced_wall = clock() - t
                timed = [rep]
            else:
                timed = reps.timed(args.seconds)
        cpu1 = host.cpu_times()
        faults.append(hostcal.fault_probe())

        refs = [
            replay(w.index(), paths, decode=args.trace or w.decodes)
            for _ in range(REPLAYS if args.trace else 1)
        ]
        reps.attempted += 1
        problems = w.check(spark, images, refs[0])
        if getattr(w, "histogram", None) is not None:
            problems += same_histogram(paths, args.seed, w.name, w.histogram)
        if problems:
            reps.failed += 1
        if args.trace:
            per_layer = {
                **layers.cells_layers(w.index(), refs[0]),
                **layers.kernel_layers(refs),
                **layers.sql_layers(nodes),
                **layers.stage_layers(spark, TRACED_GROUP, traced_wall, session.nproc()),
            }
    finally:
        if spark is not None:
            session.stop(spark)

    walls = [r[0] for r in timed]
    e2e = {
        "rows_per_s": n_rows / statistics.median(walls),
        "setup_s": session_s + statistics.median(sum(s.values()) for s in setups),
        "peak_rss_mb": rss.peak / 2**20,
    }
    host_rec = {
        "host.steal_frac": host.steal_frac(cpu0, cpu1),
        "host.fault_us_per_page": statistics.median(faults),
    }
    record = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "rows": n_rows, "scan_splits": splits, "session_s": session_s,
        "setups": setups, "warmup_s": warm, "rep_s": walls,
        "plan_build_s": [r[1] for r in timed], "rss_samples": rss.samples,
        "rss_peak_mb_by_phase": rss.marks, "problems": problems,
        **host_rec, **e2e,
    }
    if not args.trace:
        return reps, record, e2e, None
    per_layer.update(
        host_rec,
        **{
            "setup.session_s": session_s,
            "setup.compile_s": statistics.median(s["compile_s"] for s in setups),
            "setup.cover_tables_s": statistics.median(
                s.get("cover_tables_s", 0.0) for s in setups
            ),
            "plan.build_s": timed[0][1],
            "warmup.s": warm_s,
            "warmup.reps": len(warm),
        },
    )
    return reps, record, e2e, per_layer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import pyarrow.parquet as pq

    from tzspark import hostcal

    os.makedirs(CACHE, exist_ok=True)
    for stale in os.listdir(CACHE):  # left behind by a killed run
        if stale.startswith("run-"):
            shutil.rmtree(os.path.join(CACHE, stale), ignore_errors=True)
    tmp = os.path.join(CACHE, f"run-{os.getpid()}")
    try:
        session.prepare_env(tmp)
        hostcal.apply()
        nproc = session.nproc()
        pool = inputs.ensure_pool(CACHE, nproc)
        paths = inputs.seed_window(pool, args.seed, nproc)
        n_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        w = WORKLOADS[args.workload]()
        zones = w.zone_set()
        reps, record, e2e, per_layer = measure(args, w, zones, paths, n_rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    e2e_units, layer_units = metric_units()
    values, units = (per_layer, layer_units) if args.trace else (e2e, e2e_units)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps({
        "correct": reps.failed == 0,
        "attempted": reps.attempted,
        "failed": reps.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
