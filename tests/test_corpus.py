"""Unit tests for corpus-assembly operators: packing's distributed prefix
sum vs a naive reference, split stability, contamination planting."""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.operators import corpus as C


def test_pack_sequences_matches_naive_for_sparse_ids_any_parts(spark):
    """The per-part prefix sum must equal a global-order cumsum for ANY
    n_parts and for sparse, irregular ids (empty id ranges, uneven part
    sizes)."""
    rows = [
        (3, "a b c"),          # 3 tokens
        (17, "d e"),           # 2
        (18, "f g h i j"),     # 5
        (400, "k"),            # 1
        (401, "l m n o"),      # 4
        (999, "p q r"),        # 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    counts = {r[0]: len(r[1].split()) for r in rows}
    expect, before = {}, 0
    for i in sorted(counts):
        expect[i] = (counts[i], before // 4, before % 4)
        before += counts[i]
    for n_parts in (1, 2, 7, 64):
        got = {
            r.doc_id: (r.n_tokens, r.bin_id, r.bin_offset)
            for r in C.pack_sequences(df, budget=4, n_parts=n_parts).collect()
        }
        assert got == expect, f"n_parts={n_parts}"


def test_pack_sequences_empty_input(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string")
    assert C.pack_sequences(df).count() == 0


def test_split_assign_stable_and_partitioned(spark):
    df = spark.createDataFrame([(i, f"doc {i}") for i in range(200)], ["doc_id", "text"])
    out = C.split_assign(df).select("doc_id", "split_bucket", "split").collect()
    by_id = {r.doc_id: (r.split_bucket, r.split) for r in out}
    # stable: same assignment on re-run and content-independent
    df2 = spark.createDataFrame([(i, "CHANGED") for i in range(200)], ["doc_id", "text"])
    out2 = {r.doc_id: (r.split_bucket, r.split) for r in C.split_assign(df2).select("doc_id", "split_bucket", "split").collect()}
    assert by_id == out2
    # buckets map to the right names
    for bucket, split in by_id.values():
        expected = "train" if bucket < 80 else ("val" if bucket < 90 else "test")
        assert split == expected
    assert {s for _, s in by_id.values()} == {"train", "val", "test"}


def test_split_assign_rejects_bad_weights(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        C.split_assign(df, weights=(50, 30))  # sums to 80
    with pytest.raises(ValueError):
        C.split_assign(df, weights=(50, 50), names=("a",))


def test_contamination_finds_planted_leak_only(spark):
    bench = spark.createDataFrame(
        [(0, "the secret benchmark question about prime factorization of large numbers")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (100, "the secret benchmark question about prime factorization of large numbers indeed"),
            (101, "a completely unrelated training document about cooking pasta"),
        ],
        ["doc_id", "text"],
    )
    out = C.contamination_pairs(train, bench, min_shared=5).collect()
    assert [(r.train_id, r.bench_id) for r in out] == [(100, 0)]
    assert out[0].bench_overlap > 0.9


def test_global_rank_matches_naive_window_any_parts(spark):
    """Range-partition + local row_number + prefix offsets must equal the
    single-partition global window for any partition count, including
    duplicate order-key values (with a unique tiebreaker)."""
    import random

    rng = random.Random(5)
    rows = [(i, rng.randint(0, 9)) for i in range(300)]
    df = spark.createDataFrame(rows, ["k", "v"])
    expect = {
        k: r + 1
        for r, (k, _) in enumerate(sorted(rows, key=lambda x: (-x[1], x[0])))
    }
    for n_parts in (1, 3, 17, 64):
        got = {
            r.k: r.rank
            for r in C.global_rank(
                df, [F.col("v").desc(), F.col("k")], n_parts=n_parts
            ).collect()
        }
        assert got == expect, f"n_parts={n_parts}"


def test_global_rank_no_single_partition_window(spark):
    """The plan must not contain a partition-less (global) Window sort —
    the whole point of the operator."""
    df = spark.createDataFrame([(i, i % 5) for i in range(50)], ["k", "v"])
    plan = (
        C.global_rank(df, [F.col("v").desc(), F.col("k")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [
            (0, "common common common zebra"),
            (1, "common words here"),
            (2, "common words there"),
        ],
        ["doc_id", "text"],
    )
    top = {r.doc_id: r.token for r in C.tfidf_top_terms(df, k=1).collect()}
    assert top[0] == "zebra"  # df=1 beats tf=3 of the everywhere-term


def test_domain_cap_two_phase_identical_to_single_window(spark):
    """The pre-cap must drop no survivor: two-phase == single-window
    (pre_buckets=None) on a skewed corpus, and no domain exceeds the cap."""
    from pyspark.sql import functions as F

    from pos_dlt_spark.operators.corpus import domain_cap

    rows = [(i, "big" if i < 400 else f"s{i % 7}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    two = {tuple(r) for r in domain_cap(df, cap=20, pre_buckets=8).collect()}
    one = {tuple(r) for r in domain_cap(df, cap=20, pre_buckets=None).collect()}
    assert two == one
    per = domain_cap(df, cap=20, pre_buckets=8).groupBy("source").count().collect()
    assert all(r["count"] <= 20 for r in per)
    assert {r["source"]: r["count"] for r in per}["big"] == 20


def test_weighted_sample_drops_nonpositive_weights(spark):
    """Efraimidis–Spirakis needs w > 0: a zero weight divides by zero and
    a negative one inverts the key sign. Such rows must never be sampled."""
    from pos_dlt_spark.operators import corpus as C

    rows = [(i, float(w)) for i, w in enumerate([5, 3, 0, -2, 4, 1])]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = C.weighted_sample(df, k=10, weight_col="w", pre_buckets=None)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {0, 1, 4, 5}


def test_bpe_pair_counts_tiny_corpus(spark):
    from pos_dlt_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, "")], ["doc_id", "text"]
    )
    out = {(r["left"], r["right"]): r["n_pairs"] for r in C.bpe_pair_counts(df).collect()}
    # doc1: (a,b)(b,a)(a,b)(b,c); doc2: (a,b); docs 3,4: no pairs
    assert out == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}


# Edge-case corpus for the per-row token-array operators. Tokens are
# split(trim(lower(text)), '\s+'): trim strips spaces only, Java's \s is
# [ \t\n\x0B\f\r], and a separator at either end leaves an '' token.
EDGE_DOCS = [
    (0, None),
    (1, ""),
    (2, "One"),
    (3, "one two"),
    (4, "one two three"),
    (5, "\tLeading tab\nand newline\r\nthen  two spaces "),
    (6, "   leading spaces a b trailing tab\t"),
    (7, "a b c a b c a b c a b"),
    (8, "Café Straße naïve CAFÉ straße 日本語 テキスト 日本語 テキスト"),
    (9, " ".join(f"w{i % 40}" for i in range(3000))),
]


def _ref_tokens(text):
    if text is None:
        return None
    return re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id bigint, text string")


@pytest.mark.parametrize("n", [2, 3])
def test_repeated_ngram_ratio_edge_cases_match_python(edge_docs, n):
    """NULL and '' text, docs shorter than, equal to and longer than n,
    tabs/newlines/leading separators, repeated grams, non-ASCII and one
    3,000-token doc — against a pure-Python gram count. A doc shorter
    than n tokens (NULL included) is one whole-doc gram."""
    want = {}
    for doc_id, text in EDGE_DOCS:
        toks = _ref_tokens(text) or []
        if len(toks) >= n:
            grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        else:
            grams = [" ".join(toks)]
        total, distinct = len(grams), len(set(grams))
        want[doc_id] = (total, distinct, 1.0 - distinct / total)
    got = {
        r.doc_id: (r.n_ngrams, r.n_distinct_ngrams, r.repeated_ratio)
        for r in C.repeated_ngram_ratio(edge_docs, n=n).collect()
    }
    assert got == want
    assert want[9] == (3001 - n, 40, 1.0 - 40 / (3001 - n))


def test_bpe_pair_counts_edge_cases_match_python(edge_docs):
    """Adjacent-token pair counts over the edge-case corpus against a
    pure-Python count: NULL, '' and one-token docs add no pair, an ''
    token from a leading or trailing separator pairs like any other."""
    want = Counter()
    for _doc_id, text in EDGE_DOCS:
        toks = _ref_tokens(text) or []
        want.update(zip(toks, toks[1:]))
    got = {(r.left, r.right): r.n_pairs for r in C.bpe_pair_counts(edge_docs).collect()}
    assert got == dict(want)
    top = [(r.left, r.right, r.n_pairs) for r in C.bpe_pair_counts(edge_docs, top_k=5).collect()]
    ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert top == [(l, r, c) for (l, r), c in ranked[:5]]


def test_bpe_pair_counts_topk_is_take_ordered(spark):
    from pos_dlt_spark.operators import corpus as C
    from pos_dlt_spark.plans import assert_in_plan, assert_not_in_plan
    from pos_dlt_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = C.bpe_pair_counts(docs, top_k=50)
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "Exchange rangepartitioning")


def test_quality_quantile_bins_exact_boundaries(spark):
    """bin = (rank-1)*k div N: 7 rows into 3 bins -> sizes 3,2,2 with the
    LOW bins taking the remainder (floor formula, not ntile's)."""
    from pos_dlt_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(7)], ["doc_id", "score"]
    )
    out = C.quality_quantile_bins(df, "score", n_bins=3, n_parts=4)
    by_bin = {}
    for r in out.collect():
        by_bin.setdefault(r["quality_bin"], []).append(r["doc_id"])
    # ascending score order = doc_id 6,5,4,3,2,1,0
    assert sorted(by_bin[0]) == [4, 5, 6]
    assert sorted(by_bin[1]) == [2, 3]
    assert sorted(by_bin[2]) == [0, 1]


def test_quality_quantile_bins_empty(spark):
    from pos_dlt_spark.operators import corpus as C

    df = spark.createDataFrame([], "doc_id long, score double")
    assert C.quality_quantile_bins(df, "score").count() == 0


def test_bpe_learn_merges_hand_corpus(spark):
    df = spark.createDataFrame([(0, "aa ab"), (1, "aa aa")], "doc_id long, text string")
    merges = C.bpe_learn_merges(df, n_merges=4)
    # (a,a) appears 3x weighted by word freq (aa x3), then (a,b) 1x;
    # the loop stops when pairs run dry
    assert merges == [("a", "a", 3), ("a", "b", 1)]
    out = {r.doc_id: (r.n_words, r.n_subwords) for r in C.bpe_apply_merges(df, merges).collect()}
    assert out == {0: (2, 2), 1: (2, 2)}


def test_bpe_merge_is_greedy_left_to_right(spark):
    # "aaa" with merge (a,a) must become [aa, a], not [aa, aa] or [a, aaa]:
    # round 1 counts (a,a) 2x in "aaa" but merges non-overlapping
    df = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    merges = C.bpe_learn_merges(df, n_merges=1)
    assert merges == [("a", "a", 4)]  # two adjacent pairs per word, two words
    out = C.bpe_apply_merges(df, merges).collect()[0]
    assert (out.n_words, out.n_subwords) == (2, 4)  # each word -> [aa, a]


def test_bpe_consecutive_pairs_both_merge(spark):
    # "abab": merge (a,b) must hit BOTH occurrences -> [ab, ab]
    df = spark.createDataFrame([(0, "abab")], "doc_id long, text string")
    merges = C.bpe_learn_merges(df, n_merges=1)
    assert merges[0][:2] == ("a", "b")
    out = C.bpe_apply_merges(df, merges).collect()[0]
    assert out.n_subwords == 2


def test_global_cumsum_equals_single_window(spark):
    import random

    from pyspark.sql import Window

    rnd = random.Random(7)
    rows = [(i, rnd.randint(-50, 1000)) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = C.global_cumsum(df, [F.col("v").desc(), F.col("k")], "v", n_parts=8)
    w = (
        Window.orderBy(F.col("v").desc(), F.col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert {(r.k, r.cum) for r in got.collect()} == {(r.k, r.cum) for r in want.collect()}
