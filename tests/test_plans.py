"""Plan regression tests: pin the physical-plan properties that make the
queries scale-safe (see pos_dlt_spark/plans/__init__.py). These run at
sf0.001 — plan shape, not data volume, is under test."""

import pytest

import pos_dlt_spark.queries as Q
from pos_dlt_spark.plans import (
    assert_in_plan,
    assert_not_in_plan,
    count_op,
    pushed_filters,
    scan_read_schemas,
)

SF = "/root/testdata/sf0.001"

Q.load_registry()


@pytest.fixture(scope="module")
def q(spark):
    def build(name):
        return Q.REGISTRY[name].fn(spark, SF)

    return build


def test_gold_reuses_window_partitioning_for_join(q):
    """The CDC window hash-partitions on (store_id, item_id); the outer
    range join must REUSE that partitioning — exactly one exchange on the
    snapshot side, and the latest-per-key must use the WindowGroupLimit
    map-side top-1 (not a full window over every row)."""
    df = q("pos_gold_inventory_current")
    assert_in_plan(df, "WindowGroupLimit", "BroadcastHashJoin")
    # EXACTLY two hash exchanges: snapshot keys (the window's exchange
    # doubles as the join's left-side exchange) and change-side keys for
    # the SMJ. The groupBy must REUSE the join's (store_id, item_id)
    # partitioning — a third exchange here means a Spark upgrade silently
    # added a shuffle to the flagship query's aggregate.
    assert count_op(df, "Exchange hashpartitioning") == 2
    # and the aggregate is the partial+final pair, no exchange between
    assert count_op(df, "HashAggregate") == 2


def test_gold_dims_are_broadcast(q):
    df = q("pos_gold_inventory_current")
    assert count_op(df, "BroadcastHashJoin") >= 2  # supplier + part dims


def test_top10_uses_take_ordered_not_global_sort(q):
    df = q("orders_top10_by_price")
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "Exchange rangepartitioning")


def test_q1_scan_prunes_columns_and_pushes_filter(q):
    df = q("tpch_q1_pricing_summary")
    schemas = scan_read_schemas(df)
    assert len(schemas) == 1
    # 7 needed columns only — no orderkey/partkey/comment off disk
    assert "l_comment" not in schemas[0] and "l_orderkey" not in schemas[0]
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_q1_aggregates_map_side(q):
    """partial+final hash aggregate: the shuffle moves one row per
    (flag, status) per task, not the fact table."""
    df = q("tpch_q1_pricing_summary")
    assert count_op(df, "HashAggregate") == 2
    assert count_op(df, "Exchange hashpartitioning") == 1


def test_q5_dims_broadcast(q):
    df = q("tpch_q5_local_supplier_volume")
    assert count_op(df, "BroadcastHashJoin") >= 3  # supplier, nation, region


def test_semi_anti_joins_stay_joins(q):
    for name, op in [
        ("customers_without_orders", "LeftAnti"),
        ("customers_with_urgent_orders", "LeftSemi"),
    ]:
        assert_in_plan(q(name), op)


def test_minhash_is_scan_only(q):
    """Signature computation must be a pure map: no data-dependent shuffle,
    no explode. (A single RoundRobin scan-spread is allowed — it exists
    only because local testdata is one unsplittable row group; see
    tables.load_table.)"""
    df = q("dedup_minhash_signatures")
    assert count_op(df, "Exchange hashpartitioning") == 0
    assert count_op(df, "Generate") == 0


def test_lsh_pairs_shuffle_only_on_bands_and_distinct(q):
    """The only exchanges allowed are the band-bucket join sides and the
    candidate distinct — never an all-pairs cross join."""
    df = q("dedup_minhash_lsh_pairs")
    assert_not_in_plan(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_text_ops_are_scan_only(q):
    for name in ["text_quality_features", "text_langid", "text_fingerprint", "text_token_counts"]:
        assert count_op(q(name), "Exchange hashpartitioning") == 0, name


def test_ann_brute_force_broadcasts_probes(q):
    """Corpus side must not shuffle for the similarity compute — probes are
    broadcast; the only exchange is the per-probe top-k window."""
    df = q("ann_cosine_topk")
    assert count_op(df, "BroadcastExchange") >= 1
    assert count_op(df, "Exchange hashpartitioning") <= 1


def test_salted_distinct_spreads_hot_groups(q):
    """The salted count-distinct must shuffle on (key, salt) first — more
    entropy than the bare group key — then combine per key."""
    df = q("events_distinct_users_salted")
    from pos_dlt_spark.plans import physical_plan

    plan = physical_plan(df)
    assert "__salt" in plan
    # count_distinct itself plans two-phase, so: (key,salt,v) expand,
    # (key,salt) count, (key) combine — every early shuffle carries salt.
    assert 2 <= count_op(df, "Exchange hashpartitioning") <= 3


def test_ivf_assignment_has_no_centroid_shuffle(q):
    """Centroid assignment is literal-inlined per-row math; the corpus scan
    must not shuffle before the candidate join."""
    df = q("ann_ivf_topk")
    assert_not_in_plan(df, "CartesianProduct")


def test_q6_pushes_all_filters_to_scan(q):
    """TPC-H Q6 shape: all four predicates reach the parquet scan and the
    scan reads only the 4 referenced columns."""
    df = q("tpch_q6_forecast_revenue")
    schemas = scan_read_schemas(df)
    assert len(schemas) == 1
    for col in ["l_orderkey", "l_returnflag", "l_linestatus"]:
        assert col not in schemas[0]
    pf = " ".join(pushed_filters(df))
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pf


def test_q18_having_prefilter_is_broadcast(q):
    """The HAVING pre-aggregate (few hot orders) must reach the big join as
    a broadcast semi join, not a shuffle."""
    df = q("tpch_q18_large_volume_customer")
    from pos_dlt_spark.plans import physical_plan

    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_join_strategy_hints_are_honored(spark):
    """Engine knob coverage: per-join strategy hints override the
    planner's size-based choice — the escape hatch when statistics lie
    (e.g. a post-filter side the optimizer thinks is big). AQE may still
    re-plan around BAD hints, so each hint is checked on the side it
    pins."""
    from pos_dlt_spark.plans import physical_plan

    big = spark.range(0, 50_000).selectExpr("id AS k", "id % 7 AS v")
    small = spark.range(0, 64).selectExpr("id AS k", "id % 3 AS w")
    merged = big.join(small.hint("merge"), "k")
    assert "SortMergeJoin" in physical_plan(merged)
    shuffled = big.join(small.hint("shuffle_hash"), "k")
    assert "ShuffledHashJoin" in physical_plan(shuffled)
    bcast = big.join(small.hint("broadcast"), "k")
    assert "BroadcastHashJoin" in physical_plan(bcast)


def test_duplicate_spans_two_hash_shuffles(q):
    """Gram-hash agg + per-doc interval merge: equi-partitioned exchanges
    only — no broadcast of the corpus, no all-pairs join, and the count of
    hash exchanges stays at the designed 3 (gram agg, semi-join probe
    side reuse, doc window)."""
    df = q("corpus_duplicate_spans")
    assert_not_in_plan(df, "CartesianProduct", "BroadcastNestedLoopJoin")
    assert count_op(df, "Exchange hashpartitioning") <= 4


def test_unigram_logprob_broadcasts_totals_not_vocab_rows(q):
    """The 1-row corpus totals ride a broadcast crossJoin; the (doc,tok)
    x vocab join is an equi-join, never a nested loop."""
    df = q("text_unigram_logprob")
    assert count_op(df, "BroadcastNestedLoopJoin") <= 1  # the 1-row totals
    assert_not_in_plan(df, "CartesianProduct")


def test_ivfpq_single_corpus_scan_and_broadcast_probes(q):
    """Assignment + encoding fuse into one corpus scan (no join between
    an 'assign' pass and an 'encode' pass), and probes broadcast into the
    candidate join."""
    df = q("ann_ivfpq_topk")
    from pos_dlt_spark.plans import physical_plan

    plan = physical_plan(df)
    assert plan.count("Scan parquet") == 2, plan  # corpus + probes, once each
    assert_in_plan(df, "BroadcastHashJoin")


def test_bloom_prefilter_no_extra_exchange_on_fact(q):
    """The bloom probe is a scan-stage Filter: the fact side reaches the
    join through its filter with no additional exchange beyond the join's
    own, and no nested-loop anywhere."""
    df = q("join_bloom_prefilter")
    assert_not_in_plan(df, "CartesianProduct", "BroadcastNestedLoopJoin")
    assert_in_plan(df, "xxhash64")


def test_epoch_shuffle_uses_range_partition_not_single_sort(q):
    """The distributed rank never funnels through a global single-partition
    Sort. global_rank's deterministic fast path buckets by a key-derived
    hash (one hashpartitioning exchange), ranks within each bucket with a
    partition-local window, and adds precomputed per-bucket offsets — no
    sampling job, no checkpoint, NO SinglePartition exchange anywhere."""
    df = q("corpus_epoch_shuffle")
    assert count_op(df, "Exchange SinglePartition") == 0
    from pos_dlt_spark.plans import physical_plan

    plan = physical_plan(df)
    # exactly one exchange (the bucket hash), reading straight off the scan
    assert count_op(df, "Exchange") == 1, plan
    assert "hashpartitioning(__pid" in plan, plan
    assert "FileScan parquet" in plan, plan


def test_streamed_ann_index_prunes_partitions(q):
    """The cid=-partitioned index built by the streaming ingest IS the
    inverted file: routing a probe to 2 lists must become PartitionFilters
    on the index scan — reading nprobe directories, not the corpus."""
    from pyspark.sql import functions as F

    from pos_dlt_spark.plans import formatted_plan

    df = q("streaming_ann_index_build")
    probe_lists = df.filter(F.col("cid").isin(2, 5))
    plan = formatted_plan(probe_lists)
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cid" in pf.group(1), plan


def test_training_set_pipeline_no_allpairs(q):
    """Six composed stages must stay equi-everything: no cartesian or
    nested-loop anywhere in the full training-set assembly plan."""
    df = q("corpus_training_set_pipeline")
    assert_not_in_plan(df, "CartesianProduct")
    # the only BNLJ allowed is a 1-row literal broadcast (none expected)
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_markov_has_no_single_partition_exchange(q):
    """Sequence lead() partitions on user_id, the normalizer window on
    event_type — nothing funnels through one partition."""
    df = q("events_markov_transitions")
    assert count_op(df, "Exchange SinglePartition") == 0
    assert count_op(df, "Exchange hashpartitioning") <= 3


def test_abc_classification_avoids_global_window(q):
    """The running revenue total is the two-phase prefix sum: the window
    must partition on the range-partition id, never run globally. The one
    SinglePartition exchange allowed is the scalar grand-total aggregate
    (1 row per upstream partition)."""
    df = q("pos_abc_classification")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" in plan
    assert count_op(df, "Exchange SinglePartition") <= 1


def test_bpe_tokenize_encode_is_scan_only(q):
    """Corpus encoding inlines the merges: one projection over the scan,
    no shuffle, no join."""
    df = q("corpus_bpe_tokenize")
    assert count_op(df, "Exchange hashpartitioning") == 0
    assert count_op(df, "SortMergeJoin") == 0


def test_semantic_dedup_assignment_no_join_for_centroids(q):
    """Centroids are inlined literals: the only joins are the
    cluster-keyed pair join and the dup_of left join — no nested loop."""
    df = q("dedup_semantic_clusters")
    assert_not_in_plan(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_profile_never_uses_expand(q):
    """The melt-based profiler must not trigger Catalyst's Expand (the
    one-agg-many-distincts formulation replicates each row per column)."""
    df = q("lineitem_profile")
    assert_not_in_plan(df, "Expand")


def test_profile_approx_expand_free_single_aggregate(q):
    """The sketch profiler folds every stat (incl. HLL distinct) into ONE
    two-level hash aggregate on the melt — no Expand, and its own branch
    carries exactly one shuffle (the gate query joins it to the exact
    profiler for tolerance validation, so the whole plan has the exact
    branch's exchanges too, but never an Expand anywhere)."""
    df = q("lineitem_profile_approx")
    assert_not_in_plan(df, "Expand")


def test_curation_pipeline_no_pair_blowup(q):
    """The composed curation plan inherits every stage's join discipline:
    no cartesian products; the only nested-loop join allowed is the
    1-row DSIR totals broadcast (the repo-wide scalar cross-join
    pattern) — the semantic stage joins on cluster, dedup on content
    hash, DSIR on token."""
    df = q("corpus_curation_pipeline")
    assert_not_in_plan(df, "CartesianProduct")
    assert count_op(df, "BroadcastNestedLoopJoin") <= 1


def test_semantic_decontamination_broadcasts_probes(q):
    """Eval-set probes must broadcast; the corpus side scans once with no
    shuffle before the similarity filter."""
    df = q("emb_semantic_decontamination")
    assert count_op(df, "BroadcastExchange") >= 1


def test_top_paths_single_window_shuffle_and_topk(q):
    """Both lead() offsets must share one user-window sort (one hash
    exchange for the window + one for the trigram aggregate) and the
    top-25 must be a TakeOrderedAndProject, never a global sort."""
    df = q("events_top_paths")
    assert_in_plan(df, "TakeOrderedAndProject")
    assert count_op(df, "Exchange hashpartitioning") == 2
    assert count_op(df, "Exchange rangepartitioning") == 0


@pytest.mark.parametrize(
    "name",
    [
        "corpus_pipeline_audit",
        "corpus_clean_pipeline",
        "dedup_lsh_levenshtein_pairs",
        "pos_cdc_latest_snapshot",
        "text_bigram_logprob",
        "corpus_mixture_interleave",
        "ann_ivf_kmeans_recall",
        "corpus_dsir_importance",
        "graph_pagerank",
        "pos_gold_inventory_current_delta",
        "dedup_semantic_clusters_kmeans",
        "orders_delta_stats_skipping",
        "lineitem_profile_approx",
    ],
    ids=str,
)
def test_expensive_batch_queries_never_go_quadratic(q, name):
    """Blanket regression pin for the most expensive non-streaming gate
    queries: whatever Catalyst re-plans across Spark upgrades, none of
    these may ever contain an unconditional cartesian product. (1-row
    scalar totals ride BroadcastNestedLoopJoin by design and are allowed;
    a CartesianProduct of data-sized relations is not.)"""
    assert_not_in_plan(q(name), "CartesianProduct")


def test_levenshtein_pairs_no_nested_loop_at_all(q):
    """The fuzzy-dedup candidate join must stay an equi-join on LSH
    buckets — not even a broadcast nested loop (it has no scalar-totals
    stage to excuse one)."""
    df = q("dedup_lsh_levenshtein_pairs")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


def test_dv_exclusion_is_hash_anti_join_not_nested_loop(q):
    """The DV run-range exclusion must plan as a broadcast HASH anti-join
    (equi on the file id, BETWEEN as residual) — a BroadcastNestedLoop
    here would test every row against every run."""
    df = q("supplier_delta_deletion_vectors")
    assert_in_plan(df, "BroadcastHashJoin", "LeftAnti")
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


@pytest.mark.parametrize("fid_map_max", [None, 0], ids=["literal_map", "broadcast_join"])
def test_dml_match_scan_pushes_predicate_to_parquet(spark, monkeypatch, fid_map_max):
    """The DELETE/UPDATE match scan must push its data predicate into the
    parquet scan (PushedFilters), on top of the log-stats file pruning —
    the _metadata pseudo-columns and the file-id resolution (__fid/__ri;
    literal map or broadcast join) must not block pushdown."""
    import tempfile

    from pyspark.sql import functions as F

    from pos_dlt_spark.plans import pushed_filters
    from pos_dlt_spark.sources import delta as D
    from pos_dlt_spark.sources.delta import delta_snapshot, scan_rels
    from pos_dlt_spark.sources.delta_writer import write_delta

    if fid_map_max is not None:
        monkeypatch.setattr(D, "DV_FID_MAP_MAX", fid_map_max)

    t = tempfile.mkdtemp() + "/t"
    write_delta(
        spark.range(100).select(
            F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name")
        ),
        t,
    )
    snap = delta_snapshot(spark, t)
    scan = scan_rels(spark, snap, None, with_meta=True)
    df = scan.filter(F.expr("id BETWEEN 5 AND 7")).select("__fid", "__ri")
    pf = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(id,5)" in pf and "LessThanOrEqual(id,7)" in pf
    if fid_map_max == 0:
        assert_in_plan(df, "BroadcastHashJoin")


def test_budget_select_no_single_partition_window(q):
    """Token-budgeted selection's density order + running sum ride the
    two-phase distributed prefix sum — never an Exchange SinglePartition
    global window."""
    from pos_dlt_spark.plans import count_op

    df = q("corpus_token_budget_select")
    assert count_op(df, "Exchange SinglePartition") == 0


def _jvm_class(node) -> str:
    return node.getClass().getSimpleName()


def _jvm_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _jvm_tree(node):
    stack = [node]
    while stack:
        x = stack.pop()
        yield x
        stack.extend(_jvm_iter(x.children()))


def _lambda_tokenizations(df) -> list[str]:
    """Every ``split`` / ``regexp_extract_all`` in a lambda body of the
    optimized plan whose input references no lambda variable: a
    tokenization the interpreted lambda re-runs for every array element
    (O(n) re-splits of the same document per row)."""
    plans, exprs = [df._jdf.queryExecution().optimizedPlan()], []
    while plans:
        p = plans.pop()
        exprs.extend(_jvm_iter(p.expressions()))
        plans.extend(_jvm_iter(p.children()))
        plans.extend(_jvm_iter(p.subqueries()))
    return [
        x.sql()
        for root in exprs
        for lam in _jvm_tree(root)
        if _jvm_class(lam) == "LambdaFunction"
        for x in _jvm_tree(lam.function())
        if _jvm_class(x) in ("StringSplit", "RegExpExtractAll")
        and not any(_jvm_class(y) == "NamedLambdaVariable" for y in _jvm_tree(x))
    ]


@pytest.mark.parametrize(
    "name",
    [n for n in Q.REGISTRY if n.split("_")[0] in ("corpus", "dedup", "text", "ann")],
    ids=str,
)
def test_lambdas_read_materialized_tokens(q, name):
    """Higher-order functions run interpreted, outside codegen and its
    subexpression elimination: a lambda body that captures a tokenize
    expression re-splits the document for every element it builds.
    Tokens must be projected into their own column first, so the lambda
    reads a bound attribute."""
    assert _lambda_tokenizations(q(name)) == []
