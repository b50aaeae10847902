"""Loaders for the driver-generated TESTDATA parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any SparkSession able to run our queries, whoever built it.

    Both confs are RUNTIME-settable, so setting them here (rather than only
    in session.get_spark's builder) means a vanilla
    ``SparkSession.builder.getOrCreate()`` — e.g. the correctness driver's —
    works identically to our tuned session:

    - session TZ pins event-time semantics (window/date_trunc boundaries,
      DuckDB-oracle timestamp parity).
    - ``nanosAsLong``: events.parquet stores ts as TIMESTAMP(NANOS), which
      Spark's vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL)
      unless this legacy conf surfaces it as an epoch-nanos long; callers
      then truncate to micros exactly like DuckDB does on read.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Explicit-file-list reads (Delta/Iceberg snapshots pass every live
    # file path) trip Spark's parallel partition discovery, whose default
    # parallelism is one listing task PER PATH — a 3100-file silver table
    # cost a 3100-task stat-only stage (~10 s pure scheduling at
    # local[32], r11 POS decade) on EVERY read. Cap the listing job at a
    # sane width; below the threshold (32 paths) listing stays
    # driver-side as before.
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism", "64")


def normalize_timestamps(df: DataFrame, name: str = "") -> DataFrame:
    """Surface every timestamp column as session-TZ TIMESTAMP regardless of
    the parquet writer's physical choice. The driver's generator has shipped
    two encodings across rounds:

    - TIMESTAMP(NANOS): unreadable by Spark's vectorized reader unless
      ``nanosAsLong`` surfaces it as epoch-nanos long — truncate to micros
      exactly like DuckDB does on read (events.ts only; nanos rounds).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ,
      which batch ops tolerate but ``withWatermark`` rejects outright
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). With the session TZ pinned to
      UTC the NTZ->LTZ cast is value-preserving and lands on the same
      instant DuckDB's naive read produces.

    Normalizing here (once, at the scan) means every downstream operator
    sees one stable type whatever the next regeneration emits.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, LongType, TimestampNTZType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # DATE included as generator-drift insurance (no date columns today):
    # a DATE-typed o_orderdate would otherwise surface as datetime.date
    # rows against the oracle's midnight timestamps and break date_trunc /
    # interval arithmetic; the midnight-UTC cast is value-preserving.
    fix = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (TimestampNTZType, DateType))
    ]
    for c in fix:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Load a TESTDATA table.

    ``spread=True`` round-robins the scan across all cores WHEN the file
    yields fewer input splits than the cluster has parallelism — the local
    testdata is one single-row-group parquet file per table, which Spark
    cannot split, so every downstream per-row operator would otherwise run
    in ONE task. On a real lake (thousands of files/row groups) the
    condition is false and this is a no-op; pay the tiny shuffle only for
    compute-heavy per-row operators (minhash, text features, matmuls)."""
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = normalize_timestamps(df, name)
    if spread:
        cores = spark.sparkContext.defaultParallelism
        # file count bounds the scan's split count for these single-row-group
        # files; checking it avoids df.rdd's plan->RDD conversion per call
        if len(df.inputFiles()) < cores:
            df = df.repartition(cores)
    return df


def scratch_dir(prefix: str) -> str:
    """Session-lifetime scratch directory for stream landings, replay
    files, and checkpoints: prefers tmpfs (``/dev/shm``) when present —
    streaming micro-batches fsync a WAL (offset + commit log) per
    trigger, and on a disk-backed /tmp that fixed latency is 15-30% of a
    small-batch streaming query's wall time at sf0.1 (measured). Override
    the location with ``SPARK_GRAFT_SCRATCH``.

    Scratch only: on a real cluster, checkpoints that must survive a
    driver loss go to reliable storage (S3/HDFS/ABFS) — this helper is
    for the local replay/gate/bench path where the checkpoint dies with
    the session anyway. Callers register their own atexit cleanup."""
    import tempfile

    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small literal DataFrame (sentinels, model artifacts) through the
    Arrow/pandas path — a pure-JVM LocalRelation.

    NEVER build these via ``createDataFrame(list_of_rows)``: that parks
    the data in a 32-slice pickled Python RDD, and every ACTION then
    launches Python partition iterators — measured 6-9 s for a 2-row
    ``coalesce(1).write`` (one task draining 32 Python partition streams,
    each paying a worker round-trip) vs 0.15 s on this path. The pandas
    conversion also keeps timestamp/typed columns exact because the
    target ``schema`` is applied explicitly.

    ``rows`` is a list of tuples/Rows matched positionally to ``schema``
    (StructType or DDL string). Rows must be null-free in numeric
    columns (pandas would coerce int+None to float); every engine call
    site satisfies that by construction."""
    import pandas as pd

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=names)
    return spark.createDataFrame(pdf, schema=schema)
