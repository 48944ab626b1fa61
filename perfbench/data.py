"""Input tables for the benchmark.

``tables/`` holds the repository's sf0.01 test tables, ten parquet
files (a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``; see ``bodo_spark/sources/tables.py``) drawn with seed
42. ``prepare`` replicates them 10x with ``tools/scale_testdata.scale``
(disjoint key spaces per replica, per-key structure unchanged) into the
sf0.1-sized set the workloads time, and caches it in the benchmark's
work directory.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import os
import shutil

import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
REPLICAS = 10
# rows of the base tables; scale() keeps region and nation as they are
# and replicates the others, so every count is checked after a build
BASE_ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
             "part": 2000, "orders": 15_000, "lineitem": 60_000,
             "events": 10_000, "documents": 500, "embeddings": 500}
FIXED = {"region", "nation"}


def row_count(d: str, name: str) -> int:
    return pq.ParquetFile(os.path.join(d, f"{name}.parquet")).metadata.num_rows


def _check_rows(d: str, replicas: int) -> None:
    for name, rows in BASE_ROWS.items():
        want = rows if name in FIXED else rows * replicas
        got = row_count(d, name)
        if got != want:
            raise RuntimeError(f"{d}/{name}: {got} rows, expected {want}")


def prepare(cache: str) -> str:
    """Build (or reuse) the 10x set under ``cache``; return its
    directory. The set is published by renaming its finished directory,
    so an interrupted build is never reused."""
    _check_rows(BASE, 1)
    scaled = os.path.join(cache, "sf0.1")
    if not os.path.isdir(scaled):
        tmp = scaled + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        scale_mod = importlib.import_module("tools.scale_testdata")
        scale_mod.SRC = BASE
        with contextlib.redirect_stdout(io.StringIO()):
            scale_mod.scale(REPLICAS, tmp)
        os.rename(tmp, scaled)
    _check_rows(scaled, REPLICAS)
    return scaled
