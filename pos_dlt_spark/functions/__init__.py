"""Engine-portable scalar helpers.

The key primitive is :func:`phash` — a 32-bit salted hash computed from the
first 8 hex digits of md5. Unlike Spark's murmur3 ``hash()`` or DuckDB's
``hash()``, md5 is bit-identical in every engine, so hash-derived results
(minhash signatures, simhash bits, hash-partitioned dedup keys) can be
verified against an external SQL oracle. md5 is ~3x slower than murmur3 per
call; swap ``phash`` for ``F.hash`` when oracle parity is not needed. As a
column expression it is codegen'd JVM-side, but inside a ``transform``
lambda it runs interpreted per element, so per-shingle hashing goes through
:func:`pos_dlt_spark.operators.dedup.shingle_hashes` (the same hash in C
md5 over Arrow batches).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def phash(col: Column, salt: str = "") -> Column:
    """Portable 32-bit hash: int(md5(salt || col)[:8], 16) as bigint."""
    s = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def phash_sql(expr: str, salt: str = "") -> str:
    """The DuckDB-SQL twin of :func:`phash`."""
    inner = f"'{salt}' || {expr}" if salt else expr
    return f"CAST(('0x' || substr(md5({inner}),1,8)) AS BIGINT)"
