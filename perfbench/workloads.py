"""The three workloads: how each sets up, runs its operator, and checks it.

Each workload drives only public entry points (tzspark.api, tzspark.engine,
tzspark.cells, tzspark.imagecodec) and materializes the operator's full
output through the ``noop`` sink, so Catalyst cannot prune the lookup the
way it does under ``count()``.
"""

from __future__ import annotations

import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs

BATCH_ROWS = 4000  # engine.get_spark's spark.sql.execution.arrow.maxRecordsPerBatch


def sink(df):
    df.write.format("noop").mode("overwrite").save()


def blob_view(arr: pa.Array):
    """(data uint8, offsets int64) of an Arrow binary array, rebased to 0."""
    offs = np.frombuffer(arr.buffers()[1], np.int32)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(arr.buffers()[2], np.uint8)[offs[0] : offs[-1]]
    return data, offs.astype(np.int64) - offs[0]


def arrow_batches(paths: list):
    """The image payload column in the same batches Spark's Arrow crossing
    uses: per file, BATCH_ROWS rows at a time."""
    for p in paths:
        for b in pq.ParquetFile(p).iter_batches(batch_size=BATCH_ROWS, columns=["bytes"]):
            yield b.column(0)


class Workload:
    name = ""
    decodes = False  # does the check need the decoded payload?
    zone_set = staticmethod(inputs.world_window_zones)

    def setup(self, spark, zones) -> dict:
        """Compile (and lay out) the cover; return per-layer seconds."""
        raise NotImplementedError

    def index(self):
        """The CompiledIndex this workload probes."""
        raise NotImplementedError

    def op(self, spark, images):
        raise NotImplementedError

    def check(self, spark, images, ref) -> list:
        """Compare one untimed execution with the driver-side replay
        ``ref``; return a list of mismatch descriptions (empty = correct)."""
        raise NotImplementedError


class _Assign(Workload):
    def _compile(self, zones) -> dict:
        from tzspark.api import TimezoneLookup

        t = time.perf_counter()
        self.tl = TimezoneLookup(zones)
        return {"compile_s": time.perf_counter() - t}

    def index(self):
        return self.tl.idx

    def check(self, spark, images, ref) -> list:
        rows = self.op(spark, images).groupBy("zone_id", "via_knn").count().collect()
        got = {(r["zone_id"], r["via_knn"]): r["count"] for r in rows}
        self.histogram = sorted([z, v, n] for (z, v), n in got.items())
        want = Counter(zip(ref["zone_id"].tolist(), ref["via_knn"].tolist()))
        if got != dict(want):
            diff = set(got.items()) ^ set(want.items())
            return [f"(zone_id, via_knn) histogram differs in {len(diff)} entries"]
        return []


class AssignBcast(_Assign):
    """TimezoneLookup.assign: broadcast cover probed in an Arrow UDF."""

    name = "assign_bcast"

    def setup(self, spark, zones) -> dict:
        return self._compile(zones)

    def op(self, spark, images):
        return self.tl.assign(spark, images)


class AssignJoin(_Assign):
    """TimezoneLookup.assign_join: the cover as tables joined on cell id."""

    name = "assign_join"

    def setup(self, spark, zones) -> dict:
        out = self._compile(zones)
        t = time.perf_counter()
        self.tl.cover_tables(spark)
        out["cover_tables_s"] = time.perf_counter() - t
        return out

    def op(self, spark, images):
        return self.tl.assign_join(spark, images)


class TileOnepass(Workload):
    """engine.lookup_tile_onepass: per-zone and per-tile rollups from one
    scan; the whole payload column crosses into Python and is decoded."""

    name = "tile_onepass"
    decodes = True
    zone_set = staticmethod(inputs.coast_zones)

    def setup(self, spark, zones) -> dict:
        from tzspark.engine import broadcast_cover

        t = time.perf_counter()
        self.bc, _ = broadcast_cover(spark, zones)
        return {"compile_s": time.perf_counter() - t}

    def index(self):
        return self.bc.value

    def op(self, spark, images):
        from tzspark.engine import lookup_tile_onepass

        return lookup_tile_onepass(images, self.bc)

    def check(self, spark, images, ref) -> list:
        rows = self.op(spark, images).collect()
        zones = {r["key"]: (r["n"], r["n_knn"]) for r in rows if r["grp"] == 0}
        tiles = [r for r in rows if r["grp"] == 1]
        ok = ref["ok"]
        want = Counter(ref["zone_id"].tolist())
        want_knn = Counter(ref["zone_id"][ref["via_knn"]].tolist())
        bad = []
        if zones != {z: (n, want_knn.get(z, 0)) for z, n in want.items()}:
            bad.append("per-zone (n, n_knn) differ")
        if sum(r["n"] for r in tiles) != int(ok.sum()):
            bad.append("tile image total differs")
        if sum(r["n_pixels"] for r in tiles) != int(ref["n_pixels"][ok].sum()):
            bad.append("tile pixel total differs")
        return bad


WORKLOADS = {w.name: w for w in (AssignBcast, AssignJoin, TileOnepass)}


def replay(idx, paths: list, decode: bool = True) -> dict:
    """Driver-side replay of the lookup over the same Arrow batches, timing
    each public kernel (the payload decode only if ``decode``). Returns the
    reference answers (per valid row) and the summed kernel seconds and
    row counts."""
    from tzspark.cells import knn_fallback, resolve_points
    from tzspark.imagecodec import HEADER_LEN, batch_image_stats, extract_gps_batch

    secs = dict.fromkeys(("extract", "resolve", "knn", "decode"), 0.0)
    rows = dict.fromkeys(secs, 0)
    parts = {k: [] for k in ("lat", "lng", "zone_id", "via_knn", "ok", "n_pixels")}
    clock = time.perf_counter
    for col in arrow_batches(paths):
        hdr = pc.binary_slice(col, 0, HEADER_LEN).to_pylist()
        t = clock()
        lat, lng, ok = extract_gps_batch(hdr)
        secs["extract"] += clock() - t
        rows["extract"] += len(hdr)

        if decode:
            data, offs = blob_view(col)
            t = clock()
            st = batch_image_stats(data, offs)
            secs["decode"] += clock() - t
            rows["decode"] += len(col)
        else:
            st = {"ok": np.ones(len(col), bool), "n_pixels": np.zeros(len(col), np.int64)}

        ok &= (lat >= -90) & (lat <= 90) & (lng >= -180) & (lng <= 180)
        la, lg = lat[ok], lng[ok]
        t = clock()
        zid = resolve_points(idx, la, lg)
        secs["resolve"] += clock() - t
        rows["resolve"] += len(la)
        un = zid == -1
        t = clock()
        zid[un] = knn_fallback(idx, la[un], lg[un])
        secs["knn"] += clock() - t
        rows["knn"] += int(un.sum())

        for k, v in (("lat", la), ("lng", lg), ("zone_id", zid), ("via_knn", un),
                     ("ok", st["ok"] & ok), ("n_pixels", st["n_pixels"])):
            parts[k].append(v)
    ref = {k: np.concatenate(v) for k, v in parts.items()}
    ref["secs"], ref["rows"] = secs, rows
    return ref
