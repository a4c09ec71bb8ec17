"""Benchmark inputs: the image table and the two zone sets.

Image table. ``tzspark.datasets.images_df`` is deterministic in the row
index, so the benchmark generates one pool of POOL_FILES equal parquet files
(file k holds rows [k*R, (k+1)*R)) once per checkout, and a seed picks a
window of FILES_PER_CORE x nproc consecutive files. The session opens one
split per file, so the scan stage always has a multiple of nproc equal
tasks. Generation runs in its own process (and Spark session), so the
measured process starts cold in every run.

Run as a script to build the pool:
    python3 perfbench/inputs.py OUT_DIR TOTAL_ROWS N_FILES
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

ROWS = 160_000  # rows per run (rounded down to a multiple of the window)
FILES_PER_CORE = 2
POOL_FILES = 32  # window starts wrap around the pool

# datasets.synth_coords draws every coordinate inside [-6, 42] x [-6, 42];
# dropping the world zones whose box misses that square by more than
# WORLD_MARGIN degrees changes no answer (checked: identical search_many
# answers to the full 24k-polygon set on 200k rows).
COORD_LO, COORD_HI = -6.0, 42.0
WORLD_MARGIN = 4.0


def window_files(nproc: int) -> int:
    return FILES_PER_CORE * nproc


def ensure_pool(cache: str, nproc: int) -> str:
    """Build the image pool once per checkout; return its directory."""
    rows_per_file = ROWS // window_files(nproc)
    d = os.path.join(cache, f"pool_r{rows_per_file}_f{POOL_FILES}")
    if not os.path.exists(os.path.join(d, "_READY")):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), d,
             str(rows_per_file * POOL_FILES), str(POOL_FILES)],
            check=True, stdout=subprocess.DEVNULL,
        )
    return d


def seed_window(pool: str, seed: int, nproc: int) -> list:
    """The seed's window of consecutive pool files (rows are contiguous
    modulo the pool size)."""
    files = sorted(glob.glob(os.path.join(pool, "part-*.parquet")))
    if len(files) != POOL_FILES:
        raise RuntimeError(f"image pool {pool} has {len(files)} files")
    start = seed % POOL_FILES
    return [files[(start + j) % POOL_FILES] for j in range(window_files(nproc))]


def world_window_zones() -> list:
    """make_world_zones() restricted to the polygons near the image
    coordinates (1,743 of 24,000): same answers and the same probe mix,
    at a compile cost that fits a run."""
    from tzspark.zones import make_world_zones

    lo, hi = COORD_LO - WORLD_MARGIN, COORD_HI + WORLD_MARGIN
    return [
        z for z in make_world_zones()
        if z.bbox[0] <= hi and z.bbox[2] >= lo and z.bbox[1] <= hi and z.bbox[3] >= lo
    ]


def coast_zones() -> list:
    from tzspark.zones import make_zones

    return make_zones(n_coast=20000)


def _generate(out: str, total_rows: int, n_files: int):
    import pyarrow.parquet as pq

    import session
    from tzspark.datasets import images_df

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = session.get_session("perfbench-pool")
    try:
        images_df(spark, total_rows, partitions=n_files).write.parquet(tmp)
    finally:
        session.stop(spark)
    files = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    rows = {pq.ParquetFile(f).metadata.num_rows for f in files}
    if len(files) != n_files or rows != {total_rows // n_files}:
        raise RuntimeError(f"pool layout: {len(files)} files, row counts {rows}")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    open(os.path.join(out, "_READY"), "w").close()


if __name__ == "__main__":
    _generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
