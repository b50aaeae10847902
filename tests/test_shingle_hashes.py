"""The Arrow-batched shingle-hash kernel (dedup.shingle_hashes) against its
DuckDB twin (functions.phash_sql) and against the SQL lambda form it
replaced, on crafted documents and crafted shingle arrays."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.functions import phash, phash_sql
from pos_dlt_spark.operators import dedup as D
from pos_dlt_spark.queries_ml import _HSH_CTE, _SH_CTE, _TOKS, _mh_sql

N = 8

DOCS = [
    (0, "Café crème brûlée au lait très chaud"),  # é, û
    (1, "日本語 の テキスト を 分割 する テスト"),  # CJK
    (2, "rocket 🚀 launch 🚀 rocket 🚀 launch 🚀 today"),  # emoji, repeats
    (3, "  leading spaces\tand\ttabs\nand\nnew lines  "),
    (4, "\tleading tab then words here"),  # leading empty token
    (5, ""),
    (6, "single"),  # 1 token: whole-doc shingle
    (7, "two tokens"),  # 2 tokens: whole-doc shingle
    (8, "a b c a b c a b c a b c"),  # repeated shingles: hsh keeps first-occurrence order
    (9, "the quick brown fox jumps over the lazy dog"),
    (10, None),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _lambda_form(sh_df, n_hashes):
    """The SQL higher-order-function form the kernel replaced."""

    def mh(i):  # one-argument lambda: a second one would get the index
        salt = f"{i}:"
        return F.array_min(F.transform("sh", lambda s: phash(s, salt))).alias(f"mh{i}")

    return sh_df.select(
        "doc_id",
        F.array_distinct(F.transform("sh", lambda s: phash(s))).alias("hsh"),
        *[mh(i) for i in range(n_hashes)],
    )


def _rows(df):
    return {r.doc_id: r.asDict() for r in df.collect()}


def _duckdb_hashes(sh_rows, n_hashes):
    """phash_sql over exactly the given shingle arrays: the per-element
    hashes in order (hsh is their first-occurrence distinct) and the mins."""
    con = duckdb.connect()
    con.register("sh_t", pd.DataFrame(sh_rows, columns=["doc_id", "sh"]))
    mins = ", ".join(f"{_mh_sql(i)} AS mh{i}" for i in range(n_hashes))
    sql = f"SELECT doc_id, list_transform(sh, s -> {phash_sql('s')}) AS hs"
    sql += f", {mins} FROM sh_t" if mins else " FROM sh_t"
    return {
        doc_id: {
            "hsh": None if hs is None else list(dict.fromkeys(hs)),
            **{f"mh{i}": m for i, m in enumerate(mins)},
        }
        for doc_id, hs, *mins in con.execute(sql).fetchall()
    }


@pytest.mark.parametrize("n_hashes", [N, 0])
def test_kernel_equals_duckdb_phash_on_crafted_docs(spark, docs, n_hashes):
    sh_df = D.shingle_table(docs)
    sh_rows = [(r.doc_id, r.sh) for r in sh_df.collect()]
    got = _rows(D.shingle_hashes(sh_df, n_hashes))
    assert got == {k: {"doc_id": k, **v} for k, v in _duckdb_hashes(sh_rows, n_hashes).items()}
    # and identical, order included, to the lambda form it replaced
    assert got == _rows(_lambda_form(sh_df, n_hashes))


def test_builders_match_duckdb_text_twin(spark, docs):
    """Whole path (JVM tokens + shingles, kernel hashes) against the oracle
    CTEs the gates use: ``hsh`` as a set (DuckDB's list_distinct does not
    keep order) and every ``mh*`` exactly."""
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    mins = ", ".join(f"{_mh_sql(i)} AS mh{i}" for i in range(N))
    oracle = con.execute(
        f"WITH toks_t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents), "
        f"{_SH_CTE}, {_HSH_CTE} SELECT h.doc_id, h.hsh, {mins} "
        "FROM hs_t h JOIN sh_t USING (doc_id)"
    ).fetchdf()
    want = {
        r["doc_id"]: (sorted(int(x) for x in r["hsh"]), [int(r[f"mh{i}"]) for i in range(N)])
        for r in oracle.to_dict("records")
    }
    prof = _rows(D.minhash_doc_profiles(docs))
    sig = _rows(D.minhash_signatures(docs))
    sets = _rows(D.hashed_shingle_table(docs))
    for k, (hsh, mh) in want.items():
        assert sorted(prof[k]["hsh"]) == hsh == sorted(sets[k]["hsh"]), k
        assert [prof[k][f"mh{i}"] for i in range(N)] == mh == [sig[k][f"mh{i}"] for i in range(N)], k
    assert list(D.minhash_signatures(docs).columns) == ["doc_id"] + [f"mh{i}" for i in range(N)]
    assert list(D.hashed_shingle_table(docs).columns) == ["doc_id", "hsh"]


def test_null_and_empty_rules_and_schema(spark):
    """Null array -> null hsh and mh*; empty array -> [] and null mh*; a
    null element stays in hsh once and the mins skip it; an all-null array
    has null mins. Pass-through columns keep their values and order."""
    df = spark.createDataFrame(
        [
            (1, "x", 0.5, ["a", None, "a", "b", None]),
            (2, "y", None, []),
            (3, None, 1.5, None),
            (4, "z", 2.5, [None]),
            (5, "w", 3.5, ["b", "a"]),
        ],
        "doc_id long, tag string, score double, sh array<string>",
    )
    out = D.shingle_hashes(df, 2)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "bigint"), ("tag", "string"), ("score", "double"),
        ("hsh", "array<bigint>"), ("mh0", "bigint"), ("mh1", "bigint"),
    ]
    got = _rows(out)
    assert got == _rows(_lambda_form(df, 2).join(df.select("doc_id", "tag", "score"), "doc_id"))
    assert got[1]["hsh"][1] is None and len(got[1]["hsh"]) == 3
    assert got[2]["hsh"] == [] and got[2]["mh0"] is None
    assert got[3]["hsh"] is None and got[3]["mh1"] is None and got[3]["tag"] is None
    assert got[4]["hsh"] == [None] and got[4]["mh0"] is None
    assert got[2]["score"] is None and got[5]["score"] == 3.5
    want = _duckdb_hashes([(r.doc_id, r.sh) for r in df.collect()], 2)
    assert {k: {f: v[f] for f in ("hsh", "mh0", "mh1")} for k, v in got.items()} == want
