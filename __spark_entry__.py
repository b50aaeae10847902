"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship gold-inventory query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the full registry from
``pos_dlt_spark.queries`` for the DuckDB correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# executor python workers are spawned by the JVM with the DRIVER's env,
# not the driver's sys.path: when the harness imports this module from a
# foreign cwd, closures shipped to executors (applyInPandas encoders in
# the DV writers, mapInPandas codecs) reference pos_dlt_spark by module
# name and must be importable THERE too. Prepending PYTHONPATH before
# the session's JVM starts covers every such worker.
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _REPO
    )

from pos_dlt_spark.queries import load_registry  # noqa: E402

REGISTRY = load_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pyspark.sql import functions as F

    df = REGISTRY["pos_gold_inventory_current"].fn(spark, "/root/testdata/sf0.001")
    return df.orderBy(F.col("date_time").desc(), "store_id", "item_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted for
    non-SQL-expressible ops -> driver records a rows-only check)."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
