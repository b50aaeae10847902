"""Focused tests for the r13 library-semantics hardening:

- ``pin_frame`` scopes its one-slot pin registry per SparkSession, so a
  pin on one session can never unpersist a frame pinned on another.
- ``_sql_json_arr`` refuses payloads that would break out of the
  single-quoted SQL string it is spliced into, with a ValueError that
  ``python -O`` keeps.
- the JPEG Huffman LUT cache is bounded (LRU), so distinct per-image
  tables cannot grow worker memory without limit.
"""

from __future__ import annotations

import pytest


def test_pin_frame_is_per_session(spark):
    from pos_dlt_spark.operators import dedup

    a = spark.range(10)
    pinned_a = dedup.pin_frame(a)
    assert pinned_a.storageLevel.useMemory

    other = spark.newSession()
    try:
        pinned_b = dedup.pin_frame(other.range(5))
        # the second session's pin must NOT have evicted the first's
        assert pinned_a.storageLevel.useMemory
        assert pinned_b.storageLevel.useMemory
        # a second pin on the FIRST session still supersedes within it
        pinned_a2 = dedup.pin_frame(spark.range(3))
        assert pinned_a2.storageLevel.useMemory
        assert not pinned_a.storageLevel.useMemory
        assert pinned_b.storageLevel.useMemory
    finally:
        for key in list(dedup._PINNED_FRAMES):
            for f in dedup._PINNED_FRAMES.pop(key):
                f.unpersist(False)


def test_pin_frame_registry_holds_sessions_weakly(spark):
    """A pin on ``spark.newSession()`` registers that session; once the
    session is dropped its entry goes too. A superseded frame whose
    unpersist fails (its session stopped) does not fail the next pin."""
    import gc

    from pos_dlt_spark.operators import dedup

    other = spark.newSession()
    pinned = dedup.pin_frame(other.range(5))
    assert other in dedup._PINNED_FRAMES
    before = len(dedup._PINNED_FRAMES)
    handle = pinned._jdf
    # PySpark's RDD.toDF patch holds the newest session: make another
    third = spark.newSession()
    del other, pinned
    gc.collect()
    assert len(dedup._PINNED_FRAMES) == before - 1
    handle.unpersist(False)

    class Stopped:
        def unpersist(self, blocking):
            raise RuntimeError("session stopped")

    dedup._PINNED_FRAMES[third] = [Stopped()]
    try:
        assert dedup.pin_frame(third.range(3)).count() == 3
    finally:
        for f in dedup._PINNED_FRAMES.pop(third):
            f.unpersist(False)


def test_sql_json_arr_rejects_quotes():
    from pos_dlt_spark.operators.similarity import _sql_json_arr

    assert "from_json" in _sql_json_arr([[1, 2], [3, 4]], "array<array<bigint>>")
    with pytest.raises(ValueError):
        _sql_json_arr(["a'b"], "array<string>")


def test_sql_json_arr_guard_survives_optimized_python():
    """The guard is a ValueError, not an assert, so ``python -O`` keeps
    it: a quoted payload (and an escaped one) is refused there too."""
    import os
    import subprocess
    import sys

    code = (
        "from pos_dlt_spark.operators.similarity import _sql_json_arr\n"
        "for bad in ([\"x') OR 1=1 --\"], ['a\"b']):\n"
        "    try:\n"
        "        _sql_json_arr(bad, 'array<string>')\n"
        "    except ValueError:\n"
        "        continue\n"
        "    raise SystemExit('accepted ' + repr(bad))\n"
    )
    res = subprocess.run(
        [sys.executable, "-O", "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stdout + res.stderr


def test_huff_lut_cache_bounded():
    from pos_dlt_spark.operators import multimodal as mm

    mm._HUFF_LUT_CACHE.clear()
    # synthesize > max distinct (bits, vals) tables: one 1-bit code each
    for i in range(mm._HUFF_LUT_MAX + 4):
        bits = [1] + [0] * 15
        mm._huff_lut(bits, [i])
    assert len(mm._HUFF_LUT_CACHE) == mm._HUFF_LUT_MAX
    # LRU: the most recent entry is retained and served from cache
    lut = mm._huff_lut([1] + [0] * 15, [mm._HUFF_LUT_MAX + 3])
    assert lut[0] >> 16 == 1
    mm._HUFF_LUT_CACHE.clear()
