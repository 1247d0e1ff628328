"""streamchange_spark — a PySpark-native time-series rollup / downsample /
retention + change-point engine.

Layers:
- ``kernels``: pure-NumPy change-point math (exact-match oracle for the
  reference library at /root/reference).
- ``operators``: Spark DataFrame operators — per-key stateful detector scans
  (grouped-map pandas UDFs), retention-tier rollups, gap-fill, Gorilla
  compression, dedup / similarity / text analysis for training-data pipelines.
- ``sources``: deterministic Common-Crawl-style pages generator and the
  snapshot (Iceberg-layout) store with resume support.
- ``functions``: column-level helpers (salting, bucketing, hashing).

Importing the package installs the zip-directory cache guard of
``_pyworker`` (a Python-worker per-task cost; see that module).
"""

from . import _pyworker

_pyworker.install()

__version__ = "0.1.0"
