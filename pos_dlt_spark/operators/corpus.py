"""Corpus-assembly operators for LLM training-data pipelines: deterministic
dataset splits, sequence packing, benchmark decontamination, TF-IDF terms.

These are the steps between "clean documents" (operators/text.py,
operators/dedup.py) and "training batches":

- :func:`split_assign` — stable train/val/test assignment by content-free
  id hash, so membership never changes when the corpus is re-filtered.
- :func:`pack_sequences` — assign documents to fixed-token-budget bins in
  deterministic id order (the GPT-style "pack then chunk" layout), with a
  DISTRIBUTED prefix sum: a naive global-order window would funnel 100 TB
  through one partition; instead each id-range part cumsums locally and
  only the per-part totals (``n_parts`` longs) pass through the driver.
- :func:`contamination_pairs` — n-gram-hash overlap between a training
  corpus and an eval/benchmark set (decontamination): bucketed equi-join
  on shingle hash, never an all-pairs scan.
- :func:`tfidf_top_terms` — per-document top-k characteristic terms by
  classic ``tf * ln(N/df)``. A division-only weight (``tf*N/df``) would
  dodge any ln() engine drift but is NOT rank-equivalent (tf multiplies
  the weight, so log-vs-ratio reorders terms — an everywhere-term with
  high tf would beat a rare term); double comparisons survive the
  oracle's 12-significant-digit canonicalization like the cosine queries.

- :func:`stratified_sample` — deterministic per-stratum hash sampling
  (language/source mix control): pure per-row filter, no shuffle, no RNG
  state, reproducible in any engine.
- :func:`repeated_ngram_ratio` — Gopher-style within-doc repetition
  signal (1 - distinct/total n-grams), a per-row array expression.

Everything is JVM column expressions + hash-partitioned joins/aggs; the
only driver-side values are bounded model-size artifacts (per-part totals,
the corpus doc count).

Lambdas read materialized columns: higher-order functions
(``transform``/``filter``/``aggregate``) run interpreted, outside
whole-stage codegen and its subexpression elimination, and evaluate their
body once per array element. A lambda that captures ``tokens(col)``
re-splits the document for every gram it builds (O(T^2) per row), so each
operator projects the tokens into their own column first and the lambda
reads that attribute; CollapseProject keeps the two projections apart
because the token column is referenced more than once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pos_dlt_spark.functions import phash
from pos_dlt_spark.operators.dedup import hashed_shingle_table
from pos_dlt_spark.operators.text import tokens

SPLIT_SALT = "split:"


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: Sequence[int] = (80, 10, 10),
    names: Sequence[str] = ("train", "val", "test"),
) -> DataFrame:
    """Add ``split_bucket`` (0-99) and ``split`` columns by salted id hash.

    Hashing the ID (not the content) keeps membership stable under
    re-cleaning: a document whose text changes stays in its split, so no
    eval example ever leaks into train across pipeline versions. The hash
    is the portable md5 :func:`~pos_dlt_spark.functions.phash`, so the
    assignment is reproducible in any engine, not just this one.
    """
    if len(weights) != len(names) or sum(weights) != 100:
        raise ValueError(f"weights must sum to 100 and pair with names, got {weights}")
    bucket = F.pmod(phash(F.col(id_col).cast("string"), salt=SPLIT_SALT), F.lit(100))
    edges, acc = [], 0
    for w, n in zip(weights, names):
        acc += w
        edges.append((acc, n))
    expr = F.lit(edges[-1][1])
    for upper, name in reversed(edges[:-1]):
        expr = F.when(F.col("split_bucket") < upper, F.lit(name)).otherwise(expr)
    # build lowest-first: when chain above evaluates smallest upper bound last
    out = df.withColumn("split_bucket", bucket)
    return out.withColumn("split", expr)


SAMPLE_SALT = "sample:"


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: int = 0,
) -> DataFrame:
    """Keep ``rates[stratum]`` percent of each stratum, deterministically.

    A document is kept iff its salted id hash mod 100 falls under its
    stratum's rate — a pure per-row filter (no shuffle, no RNG state, no
    sampleBy seed to lose between runs), so the sample is reproducible
    across engines, re-runs, and cluster sizes, and a document's
    membership never flaps when other rows change. Strata not listed get
    ``default_rate``. This is the up/down-sampling step that sets a
    training corpus's language/source mix.
    """
    for k, v in rates.items():
        if not 0 <= v <= 100:
            raise ValueError(f"rate for {k!r} must be 0..100, got {v}")
    if not 0 <= default_rate <= 100:
        raise ValueError(f"default_rate must be 0..100, got {default_rate}")
    bucket = F.pmod(phash(F.col(id_col).cast("string"), salt=SAMPLE_SALT), F.lit(100))
    rate = F.lit(default_rate)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def repeated_ngram_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Within-document repetition: 1 - distinct/total word ``n``-grams
    (0 = no repetition), plus the raw counts — the Gopher-class quality
    filter that catches boilerplate/looping text. Pure per-row array
    expression over one projected tokenize pass; docs shorter than ``n``
    tokens have a single whole-doc gram and ratio 0."""
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    out = toks_df.select(F.col(id_col), grams.alias("__g"))
    total, distinct = F.size("__g"), F.size(F.array_distinct("__g"))
    return out.select(
        id_col,
        total.cast("bigint").alias("n_ngrams"),
        distinct.cast("bigint").alias("n_distinct_ngrams"),
        (F.lit(1.0) - distinct.cast("double") / total.cast("double")).alias("repeated_ratio"),
    )


def global_rank(
    df: DataFrame,
    order_cols: Sequence,
    rank_col: str = "rank",
    n_parts: int = 64,
    bucket_expr=None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """1-based global row_number over ``order_cols`` WITHOUT funneling the
    dataset through a single-partition window.

    ``Window.orderBy`` with no partition key is the classic 100 TB trap:
    one task sorts and numbers everything. Instead: (1)
    ``repartitionByRange`` on the order — each partition holds a
    contiguous key range; (2) row_number within each partition (window
    keyed on the partition id, so the sort is local); (3) add per-
    partition prefix offsets — ``n_parts`` counts through the driver, a
    bounded model artifact (the same two-phase shape as
    :func:`pack_sequences`). Result is identical to the global window.

    ``order_cols`` must be a TOTAL order (include a unique tiebreaker):
    rows tied on a range boundary would otherwise be numbered
    arbitrarily within their partition.

    ``bucket_expr`` — fast path for callers whose LEADING order column
    admits a closed-form monotone bucketing (e.g. an order key that is a
    uniform 32-bit hash, bucketed by its high bits): a deterministic
    integer Column that is non-decreasing in the order (bucket(a) <
    bucket(b) implies a sorts before b). This replaces
    ``repartitionByRange`` — whose boundary SAMPLING is an extra pass
    over the input and whose nondeterminism forces an eager
    ``localCheckpoint`` materialization — with a pure expression: the
    two remaining passes are one bounded counts aggregate and the final
    per-bucket window (pack_sequences already uses this exact shape for
    id-range bins). Bucket balance only affects speed, never
    correctness.

    ``group_cols`` (requires ``bucket_expr``) ranks independently WITHIN
    each group — N per-group two-phase ranks in ONE pass, with the
    prefix offsets keyed on (group, bucket). The driver artifact stays
    bounded at n_groups x n_parts entries; intended for small group
    counts (mixture sources, languages).
    """
    if bucket_expr is not None:
        parted = df.withColumn("__pid", bucket_expr.cast("bigint"))
        gcols = list(group_cols)
        counts_rows = (
            parted.groupBy(*gcols, "__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
        )
        per_group: dict = {}
        for r in counts_rows:
            g = tuple(str(r[c]) for c in gcols)
            if any("|" in v for v in g):
                raise ValueError(f"group value with '|' would break offset keying: {g}")
            per_group.setdefault(g, {})[int(r["__pid"])] = int(r["__n"])
        if not per_group:
            return df.withColumn(rank_col, F.lit(None).cast("bigint"))
        entries: list = []
        for g in sorted(per_group):
            acc = 0
            for p in sorted(per_group[g]):
                entries.append(("|".join((*g, str(p))), acc))
                acc += per_group[g][p]
        offset_map = F.create_map(*[F.lit(v) for kv in entries for v in kv])
        key = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in gcols], F.col("__pid").cast("string")
        )
        w = Window.partitionBy(*gcols, "__pid").orderBy(*order_cols)
        return parted.withColumn(
            rank_col, (offset_map[key] + F.row_number().over(w)).cast("bigint")
        ).drop("__pid")
    if group_cols:
        raise ValueError("group_cols requires bucket_expr")
    # localCheckpoint pins the range partitioning: repartitionByRange
    # reservoir-samples its boundaries, so evaluating `ranged` twice (the
    # counts collect below, then the final window) against nondeterministic
    # upstream partition order could sample DIFFERENT boundaries — prefix
    # offsets applied to a partitioning other than the one ranked.
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = dict(
        (int(r[0]), int(r[1])) for r in ranged.groupBy("__pid").count().collect()
    )
    prefix, acc = {}, 0
    for p in sorted(counts):
        prefix[p] = acc
        acc += counts[p]
    if not prefix:
        return df.withColumn(rank_col, F.lit(None).cast("bigint"))
    offset_map = F.create_map(*[F.lit(v) for kv in prefix.items() for v in kv])
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        ranged.withColumn(
            rank_col,
            (offset_map[F.col("__pid")] + F.row_number().over(w)).cast("bigint"),
        )
        .drop("__pid")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence,
    val_col: str,
    cum_col: str = "cum",
    n_parts: int = 64,
) -> DataFrame:
    """Global running total of integer ``val_col`` over ``order_cols``
    WITHOUT the single-partition window: the :func:`global_rank` two-phase
    shape with per-partition SUM offsets instead of counts —
    repartitionByRange on the order, within-partition running sum, plus a
    prefix of the ``n_parts`` partition totals collected through the
    driver (bounded model artifact). Exact: intended for integer-quantized
    values (cents, micro-units) so the running sum has no float order
    sensitivity. ``order_cols`` must be a total order."""
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sums = dict(
        (int(r[0]), int(r[1] or 0))
        for r in ranged.groupBy("__pid").agg(F.sum(val_col).alias("s")).collect()
    )
    prefix, acc = {}, 0
    for p in sorted(sums):
        prefix[p] = acc
        acc += sums[p]
    if not prefix:
        return df.withColumn(cum_col, F.lit(None).cast("bigint"))
    offset_map = F.create_map(*[F.lit(v) for kv in prefix.items() for v in kv])
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn(
            cum_col,
            (offset_map[F.col("__pid")] + F.sum(val_col).over(w)).cast("bigint"),
        )
        .drop("__pid")
    )


def budget_select(
    df: DataFrame,
    value_col: str,
    tokens_col: str,
    budget: int,
    id_col: str = "doc_id",
    n_parts: int = 64,
) -> DataFrame:
    """Token-budgeted corpus selection — the greedy knapsack relaxation
    behind "best N tokens" training-set curation: rank documents by value
    DENSITY (``value_col / tokens_col``, higher first; ties break on
    ``id_col``) and keep the maximal prefix whose running token total
    stays within ``budget``. Both the density ordering and the running
    total ride :func:`global_cumsum`'s two-phase distributed prefix-sum —
    a range repartition on the order key plus per-partition windows, no
    single-partition global window at any corpus size. Rows with
    non-positive token counts are excluded (density undefined).

    Returns the input columns plus ``cum_tokens`` (running total
    INCLUDING the row), filtered to ``cum_tokens <= budget``."""
    d = df.filter(F.col(tokens_col) > 0).withColumn(
        "__negdens",
        -(F.col(value_col).cast("double") / F.col(tokens_col).cast("double")),
    )
    # ascending (-density, id) == density DESC, id ASC: one ascending
    # order shared by the range partitioner and the per-part window
    out = global_cumsum(
        d, ["__negdens", id_col], tokens_col, cum_col="cum_tokens",
        n_parts=n_parts,
    )
    return out.filter(F.col("cum_tokens") <= budget).drop("__negdens")


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """(token, n_occurrences, vocab_id): corpus-wide token counts filtered
    to ``min_count``, ids assigned by frequency rank (ties broken by token
    string) via :func:`global_rank` — the tokenizer-vocabulary build step,
    with no single-partition sort anywhere in the plan."""
    counts = (
        df.select(F.explode_outer(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    return global_rank(
        counts,
        [F.col("n_occurrences").desc(), F.col("token")],
        rank_col="vocab_id",
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_parts: int = 64,
) -> DataFrame:
    """Pack documents into fixed-token-budget bins in ascending id order.

    Returns (id, n_tokens, bin_id, bin_offset): document ``i`` starts at
    ``bin_offset`` tokens into bin ``bin_id`` when documents are
    concatenated in id order and chunked every ``budget`` tokens — the
    standard packed-sequence layout (a doc straddling a boundary continues
    into the next bin; the tokenizer-side chunker handles the cut).

    Scale: a single global-order running sum would shuffle the whole
    corpus into ONE partition. Instead ids are range-bucketed into
    ``n_parts`` parts (bounds from one min/max aggregate), each part
    cumsums independently under a per-part window, and the part PREFIX
    offsets — ``n_parts`` longs, a bounded model artifact — are computed
    on the driver and joined back as a literal map. Two scans, no global
    sort, identical result to the global window (the oracle proves it).
    """
    toks = df.select(F.col(id_col), F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"))
    lo, hi = toks.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:
        return toks.withColumn("bin_id", F.lit(None).cast("bigint")).withColumn(
            "bin_offset", F.lit(None).cast("bigint")
        )
    range_size = max(1, (int(hi) - int(lo) + n_parts) // n_parts)
    part = ((F.col(id_col) - F.lit(int(lo))) / F.lit(range_size)).cast("bigint")
    parted = toks.withColumn("__part", part)

    totals = dict(
        (int(r[0]), int(r[1]))
        for r in parted.groupBy("__part").agg(F.sum("n_tokens")).collect()
    )
    prefix, acc = {}, 0
    for p in sorted(totals):
        prefix[p] = acc
        acc += totals[p]
    offset_map = F.create_map(
        *[F.lit(v) for kv in prefix.items() for v in kv]
    )

    w = (
        Window.partitionBy("__part")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = offset_map[F.col("__part")] + F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        parted.withColumn("__before", cum_before)
        .select(
            id_col,
            "n_tokens",
            F.floor(F.col("__before") / budget).alias("bin_id"),
            F.pmod(F.col("__before"), F.lit(budget)).alias("bin_offset"),
        )
    )


def contamination_pairs(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_shared: int = 5,
) -> DataFrame:
    """(train_id, bench_id, n_shared_shingles, bench_overlap) for every
    train/benchmark document pair sharing >= ``min_shared`` distinct word
    ``shingle_n``-grams — the decontamination check run before training so
    eval answers are not memorized from leaked benchmark text.

    Shape: both sides reduce to exploded (shingle_hash, id) rows and meet
    in a hash equi-join on the shingle hash — cost is proportional to
    matching shingles, never |train| x |bench|. The benchmark side is tiny
    by nature (eval sets are thousands of docs), so it broadcasts; overlap
    is counted per pair AFTER the join, and ``bench_overlap`` normalizes
    by the benchmark doc's shingle count (the side you must protect).
    """
    # explode_OUTER, deliberately: plain explode lets Catalyst infer a
    # `size(hsh) > 0` constraint and push it toward the scan; outer
    # generate infers none. Null h rows (shingle-less docs) can't match an
    # inner equi-join and cost nothing.
    t = hashed_shingle_table(train, text_col, id_col, shingle_n).select(
        F.col(id_col).alias("train_id"), F.explode_outer("hsh").alias("h")
    )
    bsets = hashed_shingle_table(benchmark, text_col, id_col, shingle_n)
    b = bsets.select(
        F.col(id_col).alias("bench_id"), F.size("hsh").alias("bench_size"), F.explode_outer("hsh").alias("h")
    )
    return (
        t.join(F.broadcast(b), "h")
        .groupBy("train_id", "bench_id", "bench_size")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))  # hsh is distinct per doc
        .filter(F.col("n_shared_shingles") >= min_shared)
        .select(
            "train_id",
            "bench_id",
            F.col("n_shared_shingles").cast("bigint").alias("n_shared_shingles"),
            (F.col("n_shared_shingles").cast("double") / F.col("bench_size").cast("double")).alias(
                "bench_overlap"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by ``tf * ln(N/df)``.

    One token explode -> (doc, token) count (tf, map-side combined), one
    (token) count over that for document frequency, a hash join tf x df,
    and a per-doc top-k window with a token-name tiebreak. ``N`` (total
    docs) is the one driver-side scalar, bounded by definition. The idf
    log's argument is computed as one division so the oracle can mirror
    the operation order exactly.
    """
    n_docs = df.count()
    tf = (  # explode_outer: don't let an inferred size()>0 constraint push
        # the tokenize expression below the scan (see contamination_pairs);
        # split() never yields an empty array, so semantics are identical
        df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    score = F.col("tf").cast("double") * F.log(
        F.lit(float(n_docs)) / F.col("df").cast("double")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("token"))
    return (
        tf.join(dfreq, "token")
        .select(id_col, "token", F.col("tf").cast("bigint").alias("tf"),
                F.col("df").cast("bigint").alias("df"), score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Phrase mining: top adjacent-word pairs by pointwise mutual
    information, PMI = ln(P(ab) / (P(a) P(b))).

    All probabilities stay EXACT integer counts until one final
    double division + ln per surviving bigram:

        pmi = ln( (c_ab * N * N) / (M * c_a * c_b) )

    (N total tokens, M total bigrams) — so the score is engine-portable
    (the tf-idf query rides the same single-ln pattern through the gate's
    12-digit canonicalization). The exact-bigint numerator needs
    c_ab * N^2 < 2^63: valid to ~2B-token corpora; past that, divide
    through in double before the products instead.

    Plan shape: one tokenize pass feeds both the unigram and bigram
    explode-count aggregations; the two scalar totals ride broadcast
    single-row cross joins (no driver round-trip); unigram counts join
    back by word — broadcastable while the vocabulary is, shuffle
    otherwise. min_count prunes the bigram tail BEFORE the joins."""
    toks_df = df.select(tokens(F.col(text_col)).alias("toks"))
    uni = (
        toks_df.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    n_tot = uni.agg(F.sum("c_w").alias("n"))
    toks = F.col("toks")
    pair_idx = F.sequence(F.lit(1), F.size(toks) - 1)
    bigrams = F.transform(
        pair_idx,
        lambda i: F.struct(
            F.element_at(toks, i.cast("int")).alias("w1"),
            F.element_at(toks, (i + 1).cast("int")).alias("w2"),
        ),
    )
    bc = (
        toks_df.filter(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    m_tot = bc.agg(F.sum("c_ab").alias("m"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    num = (F.col("c_ab") * F.col("n") * F.col("n")).cast("double")
    den = (F.col("m") * F.col("c_a") * F.col("c_b")).cast("double")
    return (
        bc.filter(F.col("c_ab") >= min_count)
        .join(F.broadcast(n_tot))
        .join(F.broadcast(m_tot))
        .join(ua, "w1")
        .join(ub, "w2")
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_ab",
            F.log(num / den).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(top_n)
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    by: str = "source",
    id_col: str = "doc_id",
    rank_salt: str = "domaincap:",
    pre_buckets: int | None = 64,
) -> DataFrame:
    """Keep at most ``cap`` rows per ``by`` group, chosen by a salted
    portable hash of the id (content-free, uniformly random, stable
    across reruns). Returns (id, by, rk) with rk in [1, cap].

    Two-phase at scale: a giant domain would otherwise funnel ALL its
    rows through one row_number task. Phase 1 ranks within
    (by, hash-bucket) — ``pre_buckets`` independent windows per domain —
    and keeps ``cap`` per bucket, shrinking the worst domain to
    cap * pre_buckets rows. Phase 2 runs the exact per-domain window on
    that bounded remnant. Any row in the true top-``cap`` of its domain
    ranks <= cap in its own bucket too, so the pre-cap drops no
    survivor and the result is IDENTICAL to the single-window form
    (tested), while the big sort never happens.
    """
    from pos_dlt_spark.functions import phash
    from pyspark.sql import Window

    key = phash(F.col(id_col).cast("string"), rank_salt)
    base = df.select(F.col(id_col), F.col(by), key.alias("__rk_key"))
    if pre_buckets is not None:
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(pre_buckets))
        w_pre = Window.partitionBy(F.col(by), bucket).orderBy("__rk_key", id_col)
        base = (
            base.withColumn("__pre", F.row_number().over(w_pre))
            .filter(F.col("__pre") <= cap)
            .drop("__pre")
        )
    w = Window.partitionBy(by).orderBy("__rk_key", id_col)
    return (
        base.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .drop("__rk_key")
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Position-level duplicate-substring detection (the span analogue of
    exact-substring training-data dedup, cf. Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" — theirs is a suffix-array
    pass; a distributed engine gets the same token-granular spans from
    positional n-grams):

    1. every document emits its word ``n``-grams WITH positions
       (one staged projection, then a per-row array transform);
    2. an n-gram is *duplicated* if it occurs in >= ``min_docs`` distinct
       documents (hash-partitioned agg on the portable md5 gram hash);
    3. each document's duplicated positions are merged into maximal
       spans — positions p, q (p<q) chain iff q <= p + n, i.e. their
       [p, p+n) windows overlap or touch — via one per-doc sort window
       (lag + running flag-sum), a doc_id-partitioned shuffle.

    Returns (id_col, span_start, span_end, span_tokens): token-index
    spans, end-exclusive, covering every token that sits inside some
    cross-document duplicated n-gram.

    Scale: the gram table is the explode of the corpus (~tokens rows); both
    shuffles (gram hash, doc_id) are equi-partitioned aggregations with
    map-side combine; nothing is all-pairs, nothing funnels through one
    task. Short docs (< n tokens) cannot carry a span and are skipped.
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks")).filter(
        F.size("__toks") >= n
    )
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - n),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("__toks"), (i + 1).cast("int"), n)
                ),
            )
        ).alias("pos", "gram"),
    ).select(F.col(id_col), F.col("pos").cast("bigint").alias("pos"), phash(F.col("gram")).alias("gh"))
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "__ns",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > n),
            1,
        ).otherwise(0),
    ).withColumn(
        "__sid", F.sum("__ns").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy(id_col, "__sid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


EPOCH_SALT = "epoch:"


def epoch_shuffle(
    df: DataFrame, epoch: int, id_col: str = "doc_id", n_parts: int = 64
) -> DataFrame:
    """Deterministic cross-run training-data shuffle: every epoch is a
    full permutation of the corpus, reproducible on any engine, with no
    RNG state — order is the salted content-free id hash (rehashing per
    epoch gives independent permutations), and positions come from
    :func:`global_rank`'s two-phase distributed row_number, so no 100 TB
    single-partition sort. (doc_id, position): position is 0-based.

    This is the data-order contract a training run needs: restartable
    from any step (position is a pure function of (epoch, doc_id)),
    identical across re-runs and cluster sizes.
    """
    key = phash(F.col(id_col).cast("string"), f"{EPOCH_SALT}{epoch}:")
    # __shuf is a uniform 32-bit hash: bucket by its high bits (monotone,
    # closed-form) so global_rank's fast path skips the range-sampling
    # pass and the checkpoint materialization entirely
    bucket_width = (1 << 32) // n_parts + 1
    ranked = global_rank(
        df.select(F.col(id_col), key.alias("__shuf")),
        [F.col("__shuf"), F.col(id_col)],
        rank_col="__r",
        n_parts=n_parts,
        bucket_expr=F.expr(f"__shuf div {bucket_width}"),
    )
    return ranked.select(
        id_col, (F.col("__r") - 1).alias("position"), F.col("__shuf").alias("shuffle_key")
    )


def mixture_interleave(
    sources: Sequence[tuple[DataFrame, str, int]],
    id_col: str = "doc_id",
    n_parts: int = 64,
) -> DataFrame:
    """Weighted-mixture schedule over several corpora (the sampling step
    that turns N cleaned sources into ONE training stream with target
    proportions): source s with weight w emits its r-th document at
    virtual time ~ r/w, so documents interleave in weight proportion from
    the start rather than concatenating source-by-source.

    Deterministic and engine-portable: within-source order is the salted
    id hash (an epoch-0 :func:`epoch_shuffle`), virtual time is the
    integer ``(r+1)*1_000_000 div w`` (exact in any engine; ties break on
    (source, r)), and both the per-source ranks and the final positions
    use the distributed two-phase rank — the full schedule for a 100 TB
    mixture never funnels through one task.

    Returns (source, doc_id, position) with position 0-based over the
    combined stream.
    """
    tagged = []
    for df, name, weight in sources:
        if weight <= 0:
            raise ValueError(f"weight for {name!r} must be positive, got {weight}")
        key = phash(F.col(id_col).cast("string"), f"mix:{name}:")
        tagged.append(
            df.select(
                F.lit(name).alias("source"),
                F.col(id_col),
                key.alias("__shuf"),
                F.lit(int(weight)).cast("bigint").alias("__w"),
            )
        )
    allsrc = tagged[0]
    for t in tagged[1:]:
        allsrc = allsrc.unionByName(t)
    # ONE grouped two-phase rank ranks every source in a single pass
    # (group_cols=source); __shuf is a uniform 32-bit hash, so the
    # closed-form high-bits bucketing replaces N range-sampling passes
    # and N checkpoint materializations (one per source) with one
    # bounded counts aggregate.
    bucket_width = (1 << 32) // n_parts + 1
    ranked = global_rank(
        allsrc,
        [F.col("__shuf"), F.col(id_col)],
        rank_col="__r",
        n_parts=n_parts,
        bucket_expr=F.expr(f"__shuf div {bucket_width}"),
        group_cols=("source",),
    )
    allr = ranked.select(
        "source",
        F.col(id_col),
        # integer div, NOT float-divide-then-cast: an IEEE quotient
        # that rounds up to a whole number would truncate one off
        # from the exact floor both engines must agree on
        F.expr("(__r * CAST(1000000 AS BIGINT)) div __w").alias("__vt"),
        (F.col("__r") - 1).alias("__sr"),
    )
    out = global_rank(
        allr,
        [F.col("__vt"), F.col("source"), F.col("__sr")],
        rank_col="__pos",
        n_parts=n_parts,
    )
    return out.select(
        "source", id_col, (F.col("__pos") - 1).alias("position")
    )


SAMPLE_WS_SALT = "ws:"


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    by: str | None = None,
    id_col: str = "doc_id",
    pre_buckets: int | None = 32,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — k rows (per
    ``by`` group, or globally when ``by`` is None) drawn with probability
    proportional to ``weight_col``, Efraimidis–Spirakis style: each row's
    key is ln(u)/w with u a content-free salted-hash uniform in (0, 1],
    and the k largest keys win. No RNG state, reproducible in any engine
    (the key chain is identical IEEE double ops both sides), restartable.

    Skew: the naive per-group window funnels a giant group through one
    task. Same two-phase trick as :func:`domain_cap` (and the same
    correctness argument): rows pre-rank within (group, hash-bucket) and
    only each bucket's top-k reach the exact final window — any true
    top-k row ranks <= k in its own bucket, so no survivor is dropped.
    """
    u = (phash(F.col(id_col).cast("string"), SAMPLE_WS_SALT) + 1).cast("double") / F.lit(
        4294967296.0
    )
    score = F.log(u) / F.col(weight_col).cast("double")
    group = [by] if by else []
    # Efraimidis–Spirakis requires strictly positive weights: w=0 gives
    # ln(u)/0 -> null/-inf and w<0 flips the key sign, silently inverting
    # selection probability. Rows violating the contract never qualify, so
    # drop them up front (same contract mixture_interleave asserts).
    base = df.filter(F.col(weight_col).cast("double") > 0).withColumn("__ws", score)
    if pre_buckets is not None:
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(pre_buckets))
        w_pre = Window.partitionBy(*group, bucket).orderBy(
            F.col("__ws").desc(), F.col(id_col)
        )
        base = (
            base.withColumn("__pre", F.row_number().over(w_pre))
            .filter(F.col("__pre") <= k)
            .drop("__pre")
        )
    w = Window.partitionBy(*group).orderBy(F.col("__ws").desc(), F.col(id_col))
    return (
        base.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk", "__ws")
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the counting step of
    BPE/WordPiece tokenizer training (each merge round picks the most
    frequent pair; driving the loop is a driver-side ``top_k=1`` pick per
    round over re-tokenized text, and THIS op is the whole distributed
    cost of a round).

    Per row: one array expression builds the (left, right) pairs from the
    token array — no explode of tokens first, so the only shuffle is the
    pair-count hash aggregate (map-side partial combine does the heavy
    lifting: the pair distribution is Zipfian, so partial aggregation
    collapses most of the volume before the exchange). With ``top_k``,
    the final order+limit is a TakeOrderedAndProject, never a global
    sort.

    Returns (left, right, n_pairs), ordered by count desc then pair asc
    when ``top_k`` is set.
    """
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - 2)
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(toks, (i + 1).cast("int")).alias("left"),
                F.element_at(toks, (i + 2).cast("int")).alias("right"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    out = (
        df.select(tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("n_pairs").desc(), F.col("left"), F.col("right")
        ).limit(top_k)
    return out


def quality_quantile_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    id_col: str = "doc_id",
    n_parts: int = 64,
) -> DataFrame:
    """EXACT quantile binning of documents by a score column — the
    curriculum/importance-binning step (e.g. decile-by-quality mixtures).

    ``bin = (rank-1) * n_bins div N`` over the total order
    (score, id) — same exact boundaries in any engine, no ntile()
    remainder-distribution ambiguity and no approx-percentile epsilon.
    The global rank is the two-phase distributed :func:`global_rank`
    (range partition + per-partition offsets), and N comes from the same
    bounded driver collect global_rank already does — binning costs ONE
    extra integer expression, not a second pass.
    """
    ranked = global_rank(
        df, [F.col(score_col), F.col(id_col)], rank_col="__qrank", n_parts=n_parts
    )
    n = df.count()
    if n == 0:
        return df.withColumn("quality_bin", F.lit(None).cast("bigint"))
    return ranked.withColumn(
        "quality_bin",
        F.expr(f"(__qrank - 1) * {n_bins} div {n}").cast("bigint"),
    ).drop("__qrank")


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: split each document into windows of
    ``max_tokens`` tokens starting every ``stride`` tokens (overlap =
    max_tokens - stride, the standard sliding layout for LM training and
    retrieval indexing). Pure per-row array expressions — one tokenize
    projection, a per-row transform over the start offsets, one explode;
    no shuffle, runs at scan speed.

    Returns (id, chunk_idx, start_tok, end_tok, n_chunk_tokens,
    chunk_text) with end_tok exclusive and clamped to the doc length;
    every doc yields >= 1 chunk (a short doc is one short chunk).
    """
    if stride <= 0 or max_tokens <= 0:
        raise ValueError(f"max_tokens and stride must be positive, got {max_tokens}, {stride}")
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1, F.lit(stride)),
        lambda s: F.struct(
            s.alias("start_tok"),
            F.least(s + max_tokens, n).alias("end_tok"),
            F.array_join(
                F.slice(F.col("__toks"), (s + 1).cast("int"), max_tokens), " "
            ).alias("chunk_text"),
        ),
    )
    out = toks.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "c"))
    return out.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("c.start_tok").cast("bigint").alias("start_tok"),
        F.col("c.end_tok").cast("bigint").alias("end_tok"),
        (F.col("c.end_tok") - F.col("c.start_tok")).cast("bigint").alias("n_chunk_tokens"),
        F.col("c.chunk_text"),
    )


# -- BPE tokenizer training (char-level merge loop) --------------------------

# Each symbol in a word's working sequence is wrapped \x01sym\x02. A merge
# of (l, r) is then one non-overlapping left-to-right string replace of
# "\x01l\x02\x01r\x02" with "\x01lr\x02" — which is exactly BPE's greedy
# within-word merge semantics ("aaa" + merge a+a -> [aa, a]), because
# consecutive occurrences share no characters in this encoding and both
# Spark's and DuckDB's replace() resume scanning after each replacement.
_BPE_L, _BPE_R = "\x01", "\x02"


def _strip_delims(w: Column) -> Column:
    """Remove literal \\x01/\\x02 from a token before wrapping — a word
    containing the delimiter characters would otherwise corrupt symbol
    boundaries (merge patterns matching across symbols). Applied
    identically in the DuckDB oracles (queries_corpus._WORD)."""
    return F.replace(
        F.replace(w, F.lit(_BPE_L), F.lit("")), F.lit(_BPE_R), F.lit("")
    )


def bpe_word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, s) — the word-frequency table BPE trains on, with
    ``s`` the delimiter-wrapped character sequence. THIS is the classic
    BPE scale trick: after one map-side-combined aggregate the trainer
    never touches the corpus again — every merge round runs over the
    vocabulary (Zipf-bounded, ~sqrt of corpus size), not the text."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    return toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq")).select(
        "word",
        "freq",
        F.regexp_replace(_strip_delims(F.col("word")), "(.)", _BPE_L + "$1" + _BPE_R).alias("s"),
    )


def _bpe_syms(s: Column) -> Column:
    """Delimited sequence string -> array of symbols."""
    inner = F.substring(s, F.lit(2), F.length(s) - 2)
    return F.split(inner, _BPE_R + _BPE_L)


def bpe_seq_pair_counts(wf: DataFrame) -> DataFrame:
    """(lhs, rhs, c): freq-weighted adjacent-symbol pair counts over the
    word-frequency table — one merge round's entire distributed cost.
    Pairs are built per row by one array expression; the only shuffle is
    the Zipf-collapsed pair hash aggregate."""
    syms = F.col("__syms")
    idx = F.sequence(F.lit(0), F.size(syms) - 2)
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(syms, (i + 1).cast("int")).alias("lhs"),
                F.element_at(syms, (i + 2).cast("int")).alias("rhs"),
            ),
        ),
    ).otherwise(F.array())
    return (
        wf.select("freq", _bpe_syms(F.col("s")).alias("__syms"))
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").alias("c"))
    )


def bpe_learn_merges(
    df: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Train ``n_merges`` BPE merge rules over the corpus: per round,
    count freq-weighted adjacent symbol pairs, pick the most frequent
    (ties: lexicographic (lhs, rhs) — deterministic across engines for
    BMP text, where UTF-8 and UTF-16 binary orders agree), and merge its
    occurrences greedily left-to-right in every word.

    Driver state is bounded: one 1-row ordered-limit collect per round
    (the model artifact, like kmeans_fit's centroid pulls); the merge
    itself is a string-replace column rewrite, executor-side. Returns
    ``[(lhs, rhs, pair_count), ...]`` in merge order."""
    wf = bpe_word_freqs(df, text_col).persist()
    try:
        wf.count()
        merges: list[tuple[str, str, int]] = []
        cur = wf
        for _ in range(n_merges):
            top = (
                bpe_seq_pair_counts(cur)
                .orderBy(F.col("c").desc(), "lhs", "rhs")
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, c = top[0].lhs, top[0].rhs, int(top[0].c)
            merges.append((l, r, c))
            cur = cur.withColumn(
                "s",
                F.replace(
                    F.col("s"),
                    F.lit(_BPE_L + l + _BPE_R + _BPE_L + r + _BPE_R),
                    F.lit(_BPE_L + l + r + _BPE_R),
                ),
            )
        return merges
    finally:
        wf.unpersist()


def bpe_apply_merges(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode every document with learned merge rules (in training order,
    greedy within each word): ``(id, n_words, n_subwords)``. One scan, no
    shuffle — the merges are inlined literals, the per-word rewrite is a
    chain of len(merges) string replaces inside one projection."""

    def encode_word(w: Column) -> Column:
        s = F.regexp_replace(_strip_delims(w), "(.)", _BPE_L + "$1" + _BPE_R)
        for l, r, _c in merges:
            s = F.replace(
                s,
                F.lit(_BPE_L + l + _BPE_R + _BPE_L + r + _BPE_R),
                F.lit(_BPE_L + l + r + _BPE_R),
            )
        # symbol count = number of "\x01" delimiters left
        return F.length(s) - F.length(F.replace(s, F.lit(_BPE_L), F.lit("")))

    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(toks, encode_word),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_subwords"),
    )
