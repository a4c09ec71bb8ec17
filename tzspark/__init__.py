"""tzspark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of evanoberholster/timezoneLookup
(/root/reference, Go, single-node mmap + R-tree) as a distributed
broadcast point-in-polygon join: driver-compiled compact cell cover,
broadcast to executors, probed by vectorized pandas/Arrow UDFs — no
per-row Python. See SURVEY.md for the full design mapping.
"""

from ._zippin import pin_if_worker

__version__ = "0.1.0"

# inside a PySpark worker: stop the per-task re-read of Spark's own zip
# archives (see _zippin.py)
pin_if_worker()
