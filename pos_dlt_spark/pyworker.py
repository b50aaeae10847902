"""The one entry point for Arrow-batched Python stages.

Every ``mapInPandas`` in the package goes through :func:`map_in_pandas`,
which starts each task by dropping the Python worker's cached
zipimporters. PySpark's worker calls ``importlib.invalidate_caches()`` at
the start of every task, and on CPython 3.11 each cached zipimporter then
re-reads its whole archive directory (pyspark.zip, py4j and the
spark-core jar, once per imported package): about 0.2 CPU-s per task on
a 4-vCPU host, more than the user function spends on a small partition.
Dropping the entries is free, because an import miss rebuilds the
importer from zipimport's directory cache. A drop takes effect from the
worker's next task, so the saving grows with the tasks per stage.
"""

from __future__ import annotations

import sys
import zipimport
from typing import Callable, Iterator

from pyspark.sql import DataFrame


def _drop_zip_finders() -> None:
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def map_in_pandas(df: DataFrame, fn: Callable[[Iterator], Iterator], schema) -> DataFrame:
    """``df.mapInPandas(fn, schema)``, with the zipimporter drop first in
    every task."""

    def run(batches: Iterator) -> Iterator:
        _drop_zip_finders()
        return fn(batches)

    return df.mapInPandas(run, schema)
