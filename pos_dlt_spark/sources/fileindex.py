"""Log-backed file pruning: scan an explicit live-file set with ZERO
per-path stat tasks.

``DataFrameReader.parquet(*paths)`` stats every explicit path; above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) the
stats run as a distributed listing job whose default parallelism is one
task PER PATH — the r11 POS decade measured a 3,100-task stat-only stage
on every read of a 3,100-file silver table (~10-15 s of pure scheduling
at local[32]); capping the width at 64 (r11 fix) still leaves a 64-task
stat job per read. The table log (Delta add actions / Iceberg manifests)
already knows every live file, so that stat work is pure waste — the
"next lever" SCALE.md r11 named.

The zero-stat path used here: hand Spark the table DIRECTORY (one
driver-side ``listStatus``; at cloud scale one LIST request per ~1000
keys instead of one HEAD per file) and prune to exactly the live set
with a filter on the constant metadata column ``_metadata.file_path``.
Spark >= 3.4 evaluates deterministic predicates over constant file
metadata at listing time (``FileSourceScanExec`` file pruning), so
dead/tombstoned files are dropped BEFORE any footer is opened —
``tests/test_fileindex.py`` pins scan ``numFiles == len(live)`` with a
tombstoned incompatible-schema parquet file and a non-parquet
``deletion_vector_*.bin`` sitting in the same directory. Correctness
never rides on the pruning: the predicate also filters row-by-row, so a
pruning regression costs IO, never wrong rows.

At a 1000-executor / 100 TB deployment this changes the read's metadata
cost from O(files) round-trips (per-file HEAD, a scheduling stage per
query) to O(directories) LIST calls issued once on the driver — the same
shape Delta Lake's own TahoeLogFileIndex and Iceberg's manifest-driven
scan planning achieve natively on the JVM.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, Sequence

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

# Characters the JVM's Path -> URI rendering keeps verbatim, so the
# Python-side path string equals the _metadata.file_path rendering
# (minus the scheme). Anything else (spaces, '%', '+', ':', unicode)
# would need an exact percent-encoder twin — those tables take the
# explicit-path fallback instead of risking a silent empty match.
_SAFE_PATH = re.compile(r"^[A-Za-z0-9._/=\-]+$")

# Spark's parallelPartitionDiscovery.threshold default: at or below this
# many paths the stats stay driver-side and the explicit read is already
# job-free, so the dir read would only add listing surface.
LISTING_JOB_THRESHOLD = 32


def _qualify(p: str) -> str:
    """Render an absolute local path the way _metadata.file_path does
    (scheme-qualified, single slash: 'file:/x/y'). Scheme-qualified
    inputs (s3://..., hdfs://...) never reach here — ':' fails
    _SAFE_PATH, so those tables take the explicit-path fallback."""
    return f"file:{p}"


def pruned_parquet(
    reader: "DataFrameReader",
    fpaths: Sequence[str],
    base_dir: str | None = None,
) -> "DataFrame":
    """Scan exactly ``fpaths`` through ``reader`` (schema/options already
    applied) without a distributed stat job.

    ``reader`` MUST carry an explicitly pinned schema: the dir read's
    schema inference would otherwise sample footers of UNRELATED files
    sitting in the same directory (e.g. position-delete files next to
    data files). Every call site in this repo pins the log's schema —
    keep it that way.

    Above the listing-job threshold, reads ``base_dir`` (default: the
    files' single common parent directory) and prunes to the live set
    via a ``_metadata.file_path`` filter; otherwise — or when the layout
    or path characters rule the dir read out — falls back to the
    explicit-path read, which below the threshold is stat-job-free
    anyway."""
    from pyspark.sql import functions as F

    fpaths = list(fpaths)
    if len(fpaths) <= LISTING_JOB_THRESHOLD:
        return reader.parquet(*fpaths)
    if not all(_SAFE_PATH.match(p) for p in fpaths):
        return reader.parquet(*fpaths)
    if base_dir is None:
        parents = {p.rsplit("/", 1)[0] for p in fpaths}
        if len(parents) != 1:
            return reader.parquet(*fpaths)
        base_dir = parents.pop()
    elif not _SAFE_PATH.match(base_dir):
        return reader.parquet(*fpaths)
    # one SQL IN list, parsed in one JVM call (``Column.isin`` makes a
    # py4j round trip per path); every path passed _SAFE_PATH, so none
    # holds a quote or backslash
    live = ", ".join(f"'{_qualify(p)}'" for p in fpaths)
    return reader.parquet(base_dir).where(
        F.expr(f"_metadata.file_path IN ({live})")
    )
