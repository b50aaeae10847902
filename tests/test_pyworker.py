"""pyworker.map_in_pandas: the function runs as with ``mapInPandas``, and
no zipimporter cached by an earlier task survives into the next one."""

from pos_dlt_spark.pyworker import map_in_pandas


def test_map_in_pandas_drops_zip_finders(spark):
    def tag_and_count(batches):
        # count the zipimporters an earlier task tagged, then tag every
        # cached one for the next task in this (reused) worker
        import sys
        import zipimport

        for pdf in batches:
            finders = [
                f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            ]
            survived = sum(getattr(f, "_pos_seen", False) for f in finders)
            for f in finders:
                f._pos_seen = True
            yield pdf.assign(twice=pdf["id"] * 2, survived=survived)

    df = spark.range(0, 40, numPartitions=4)
    for _ in range(3):
        rows = map_in_pandas(df, tag_and_count, "id long, twice long, survived long").collect()
        assert sorted((r.id, r.twice) for r in rows) == [(i, 2 * i) for i in range(40)]
        assert {r.survived for r in rows} == {0}
