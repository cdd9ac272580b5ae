"""Physical-plan regression tests: the scale properties the engine claims
(predicate pushdown to the scan, column pruning, broadcast of small dims,
no accidental cartesian joins, whole-stage codegen on the hot path) are
asserted against .explain output so a refactor cannot silently regress
them. These are the local[32] proxies for 100 TB behavior — a filter that
misses the scan or a dim that stops broadcasting costs little at sf0.001
and everything at scale.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(explain_mode)


def test_q1_filter_pushdown_and_column_pruning(spark):
    from cdc_streaming_pipeline_spark.plans.analytics import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruning: untouched wide columns must not be read
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # whole-stage codegen on the hot path (visible with AQE re-plan off)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        simple = _plan(q1_pricing_summary(spark, SF_DIR), "simple")
        assert "*(1)" in simple
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q6_all_filters_reach_the_scan(spark):
    from cdc_streaming_pipeline_spark.plans.analytics import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, SF_DIR))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"


def test_q5_small_dims_broadcast_no_cartesian(spark):
    from cdc_streaming_pipeline_spark.plans.analytics import q5_local_supplier_volume

    plan = _plan(q5_local_supplier_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_anti_and_semi_joins_stay_hash_joins(spark):
    from cdc_streaming_pipeline_spark.plans.analytics import (
        orders_without_lineitems,
        parts_with_lineitems,
    )

    for q in (orders_without_lineitems, parts_with_lineitems):
        plan = _plan(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_events_scan_prunes_props_column(spark):
    """count/group queries over events must not read the wide props JSON."""
    from cdc_streaming_pipeline_spark.plans.events import event_type_stats

    plan = _plan(event_type_stats(spark, SF_DIR))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in read_schema


def test_exact_dedup_single_shuffle(spark):
    from cdc_streaming_pipeline_spark.plans.docs import dedup_documents_exact

    plan = _plan(dedup_documents_exact(spark, SF_DIR))
    # one exchange for the fingerprint groupBy; partial_ aggregates prove
    # map-side combine happens before it
    assert plan.count("hashpartitioning(") == 1
    assert "partial_" in plan


def test_minhash_join_carries_ids_not_payloads(spark):
    """The banded candidate self-join must not shuffle shingle arrays or
    signatures — ids and bucket keys only (shuffle width is the #1 cost
    of the dedup path at scale)."""
    from cdc_streaming_pipeline_spark.operators import dedup as dd
    from cdc_streaming_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = dd.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    plan = _plan(out, "extended")
    assert "CartesianProduct" not in plan


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Co-bucketed orders⋈lineitem on the order key: the bucketed layout
    must satisfy the join's distribution so the plan has NO shuffle on
    either side — the pay-once-at-write pattern for repeated big joins."""
    from cdc_streaming_pipeline_spark.catalog import create_bucketed_table
    from cdc_streaming_pipeline_spark.sources.tables import load_table

    # (managed tables land in the session warehouse dir; DROP removes them)
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    create_bucketed_table(orders, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    create_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    # broadcast would hide the bucketing at toy scale; at real scale both
    # sides are far past any broadcast threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"]).select(
            "o_orderkey", "l_quantity"
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join semantics — only the key distribution."""
    from cdc_streaming_pipeline_spark.operators.joins import salted_join
    from cdc_streaming_pipeline_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    plain = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=4)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_landed_catalog_scan_prunes_partitions(spark):
    """Q7+P1 end-to-end: the catalog external table over the partitioned
    sink must prune hour partitions at PLANNING time (PartitionFilters on
    the scan), not filter rows after reading every directory."""
    from cdc_streaming_pipeline_spark.plans.events import (
        events_landed_partition_counts,
    )

    plan = _plan(events_landed_partition_counts(spark, SF_DIR))
    part = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "hour" in part, f"hour predicate not a partition filter: {part}"
    # the predicate is partition-level only: nothing pushed as a data filter
    if "PushedFilters: [" in plan:
        assert "hour" not in plan.split("PushedFilters: [")[1].split("]")[0]


def test_ann_single_scan_plans_have_no_joins(spark):
    """The round-3 ANN rewrites: LSH and IVF top-k are ONE corpus scan
    (broadcast query state, per-batch masked scoring) — the only Exchange
    allowed is the final tiny per-query ranking window; no join operators,
    no candidate dropDuplicates may reappear."""
    from cdc_streaming_pipeline_spark.plans.docs import ann_topk_ivf, ann_topk_lsh

    for fn in (ann_topk_lsh, ann_topk_ivf):
        plan = _plan(fn(spark, SF_DIR))
        assert "Join" not in plan, f"{fn.__name__}: join reappeared"
        assert "Deduplicate" not in plan and "HashAggregate" not in plan
        n_exchange = plan.count("Exchange")
        assert n_exchange <= 2, f"{fn.__name__}: {n_exchange} exchanges"


def test_q21_single_window_pass_no_self_joins(spark):
    """Q21's EXISTS + NOT EXISTS pair is expressed as per-order window
    aggregates; the plan must not contain extra lineitem self-joins (the
    naive formulation scans+shuffles lineitem three times)."""
    from cdc_streaming_pipeline_spark.plans.analytics import q21_sole_late_supplier

    plan = _plan(q21_sole_late_supplier(spark, SF_DIR), "simple")
    assert plan.count("Scan parquet") <= 3  # lineitem + orders + supplier
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_scan(spark):
    """The cleaning funnel computes every stage flag in one projection:
    exactly one documents scan, one window (dup canonical), no joins."""
    from cdc_streaming_pipeline_spark.plans.docs import corpus_filter_funnel

    plan = _plan(corpus_filter_funnel(spark, SF_DIR), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_doc_novelty_no_pair_join(spark):
    """Novelty is a frequency op, not a pairs op: one documents scan, a
    window over the shingle key, and a per-doc aggregate — never a
    shingle-shingle join (which is quadratic in hot shingles)."""
    from cdc_streaming_pipeline_spark.plans.docs import doc_novelty

    plan = _plan(doc_novelty(spark, SF_DIR), "simple")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_q2_min_over_window_not_self_join(spark):
    """Q2's correlated scalar-min resolves as a window over the aggregated
    offer frame — one lineitem scan, no offer-offer self-join."""
    from cdc_streaming_pipeline_spark.plans.analytics import q2_min_cost_supplier

    plan = _plan(q2_min_cost_supplier(spark, SF_DIR), "simple")
    assert plan.count("Scan parquet") <= 4  # lineitem + 3 broadcast dims
    assert "Window" in plan


def test_near_dup_gemm_computed_once_across_queries(spark, monkeypatch):
    """The blocked-GEMM edge set is the most expensive kernel in the
    registry; embedding_near_dup_blocked, near_dup_clusters and
    near_dup_keep_best must SHARE one GEMM per (session, sf_dir) rather
    than each recomputing it (round-5 verdict item #4)."""
    from cdc_streaming_pipeline_spark.operators import similarity as sim
    from cdc_streaming_pipeline_spark.plans import docs

    docs._GEMM_SHARE_CACHE.clear()
    calls = {"n": 0}
    real = sim.cosine_near_dup_blocked

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(docs.sim, "cosine_near_dup_blocked", counting)
    edges = docs.embedding_near_dup_blocked(spark, SF_DIR)
    n_edges = edges.count()
    clusters = docs.near_dup_clusters(spark, SF_DIR)
    n_nodes = clusters.count()
    keep = docs.near_dup_keep_best(spark, SF_DIR)
    keep.count()
    assert calls["n"] == 1, f"GEMM ran {calls['n']} times across the trio"
    # the shared frames are real results, not empty placeholders
    assert n_nodes > 0 and n_edges >= 0
    # and the cluster frame is the SAME object on repeat calls (cache hit)
    assert docs.near_dup_clusters(spark, SF_DIR) is clusters
    docs._GEMM_SHARE_CACHE.clear()


def test_vocab_coverage_topk_without_global_sort(spark):
    """The top-50 must be a TakeOrderedAndProject (per-partition top-k
    reduction), never a full vocabulary Sort+Limit — at 100 TB the vocab
    is millions of rows and a global sort of it is the difference between
    a reduction and a shuffle."""
    from cdc_streaming_pipeline_spark.plans import docs

    plan = _plan(docs.vocab_coverage(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan


def test_boilerplate_window_is_partitioned(spark):
    """The DF-count window must partition by (source, shingle); an
    unpartitioned window would serialize the whole corpus through one
    task (the WindowExec single-partition trap)."""
    from cdc_streaming_pipeline_spark.plans import docs

    plan = _plan(docs.doc_boilerplate(spark, SF_DIR), "simple")
    import re

    wins = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert wins, "no window found"
    assert all(re.search(r"windowspecdefinition\(source#\d+, _g#\d+", w) for w in wins), wins


def test_doc_chunks_shuffle_free_and_prunes_columns(spark):
    """Chunking is a per-row flatMap: no Exchange anywhere, and the scan
    must read only (doc_id, text) — never lang/source/n_chars."""
    from cdc_streaming_pipeline_spark.plans.docs import doc_chunks

    plan = _plan(doc_chunks(spark, SF_DIR))
    assert "Exchange" not in plan
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "n_chars" not in read


def test_incremental_dedup_anti_join_broadcasts(spark):
    """The batch-vs-corpus anti-join must be a broadcast hash join (the
    deduped batch side is small by contract) and both sides' doc_id % 5
    filters must reach the scans."""
    from cdc_streaming_pipeline_spark.plans.docs import dedup_incremental_batch

    plan = _plan(dedup_incremental_batch(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_shard_assignment_single_exchange_on_shard(spark):
    """One hash exchange (the shard window) — the md5/bucket expressions
    must not introduce extra shuffles."""
    from cdc_streaming_pipeline_spark.plans.docs import corpus_shard_assignment

    plan = _plan(corpus_shard_assignment(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_quality_logit_pure_map_stage(spark):
    """Classifier scoring is a map-only plan: no Exchange, no Python
    workers (BatchEvalPython/ArrowEvalPython absent)."""
    from cdc_streaming_pipeline_spark.plans.docs import doc_quality_logit

    plan = _plan(doc_quality_logit(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_zorder_value_matches_python_morton(spark):
    """The unrolled JVM bit-interleave must equal a reference Morton code,
    and range-partitioning on it must give each partition a contiguous
    z-range (the property that makes min/max stats tight on both dims)."""
    from pyspark.sql import functions as F

    from cdc_streaming_pipeline_spark.operators.layout import (
        zorder_repartition,
        zorder_value,
    )

    rows = [(u, d) for u in (0, 1, 5, 130, 255) for d in (0, 1, 17, 31)]
    df = spark.createDataFrame(rows, "u long, d long")
    got = {
        (r.u, r.d): r.z
        for r in df.withColumn(
            "z", zorder_value([F.col("u"), F.col("d")], bits=8)
        ).collect()
    }

    def morton(u, d):
        z = 0
        for i in range(8):
            z |= ((u >> i) & 1) << (2 * i)
            z |= ((d >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(u, d): morton(u, d) for u, d in rows}

    big = spark.createDataFrame(
        [(i % 256, (i * 7) % 32) for i in range(2000)], "u long, d long"
    )
    parts = (
        zorder_repartition(
            big, {"qu": F.col("u"), "qd": F.col("d")}, bits=8, n_partitions=8
        )
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("zvalue").alias("lo"), F.max("zvalue").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in parts)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # contiguous, non-overlapping z-ranges


def test_pit_join_hash_joins_on_key_not_nested_loop(spark):
    """The temporal join's interval predicate must ride as a residual
    condition on the KEY hash join — a nested-loop/cartesian plan here
    would be quadratic at scale."""
    from cdc_streaming_pipeline_spark.plans.cdc import cdc_pit_lookup

    plan = _plan(cdc_pit_lookup(spark, SF_DIR))
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_shard_manifest_streams_digest_without_collect_list(spark):
    """The manifest must never buffer a whole shard: no collect_list /
    ObjectHashAggregate group buffer anywhere in the plan — the digest is
    a chained md5 in a MapInPandas stage over a within-partition sort, so
    per-executor memory is one Arrow batch regardless of shard size."""
    from cdc_streaming_pipeline_spark.plans.docs import training_shard_manifest

    plan = _plan(training_shard_manifest(spark, SF_DIR))
    assert "collect_list" not in plan
    assert "ObjectHashAggregate" not in plan
    assert "MapInPandas" in plan
    assert "Sort" in plan  # the spillable within-partition order


def test_snapshot_diff_joins_on_key_no_cartesian(spark):
    from cdc_streaming_pipeline_spark.plans.cdc import cdc_snapshot_diff

    plan = _plan(cdc_snapshot_diff(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan  # the diff IS a keyed full-outer join


def test_split_leakage_semi_joins_unhinted(spark):
    """Each boundary check must be a LEFT-SEMI join on the fingerprint
    column with NO manual broadcast hint: the earlier split's distinct
    fingerprint set is ~80% of the corpus, so a hard F.broadcast() there
    exceeds the broadcast limit and fails outright at 100 TB. The join
    TYPE is the contract; the strategy (broadcast vs shuffle) is AQE's
    runtime call based on the actual side size."""
    import inspect

    from cdc_streaming_pipeline_spark.plans import docs as docs_mod
    from cdc_streaming_pipeline_spark.plans.docs import split_leakage_report

    plan = _plan(split_leakage_report(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the scale-killer regression guard: no hint in the source
    src = inspect.getsource(docs_mod.split_leakage_report)
    assert "F.broadcast" not in src


def test_salted_join_no_cartesian_and_salt_in_keys(spark):
    from cdc_streaming_pipeline_spark.plans.analytics import (
        salted_revenue_by_priority,
    )

    plan = _plan(salted_revenue_by_priority(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "_salt" in plan  # the salt column rides in the join keys


def test_heavy_hitters_shortlist_broadcasts_no_full_distinct_shuffle(spark):
    """The MG path's reason to exist: the recount joins the corpus to a
    BROADCAST shortlist (left-semi) — and the only groupBy shuffles rows
    of shortlisted keys, never the full distinct key space."""
    from cdc_streaming_pipeline_spark.plans.analytics import heavy_hitter_keys

    plan = _plan(heavy_hitter_keys(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "MapInPandas" in plan  # the bounded-memory candidate pass
    assert "CartesianProduct" not in plan


def test_offset_gap_audit_no_window_no_python(spark):
    """The bitmap-word gap audit must stay pure JVM aggregation: no
    per-partition sort window (single-task at scale) and no Python eval
    (the hot path is whole-stage-codegen integer ops)."""
    from cdc_streaming_pipeline_spark.plans.cdc import cdc_offset_gap_audit

    plan = _plan(cdc_offset_gap_audit(spark, SF_DIR))
    assert "Window" not in plan
    assert "EvalPython" not in plan  # Batch- and Arrow- both


def test_bloom_query_prunes_then_joins_exact(spark):
    """The bloom query's contract: an Arrow-batched membership filter
    BEFORE an exact (un-hinted) semi join — and no broadcast hint on the
    build side (AQE picks the strategy; the hinted form dies at scale)."""
    import inspect

    from cdc_streaming_pipeline_spark.plans.analytics import bloom_prefiltered_revenue

    plan = _plan(bloom_prefiltered_revenue(spark, SF_DIR))
    assert "ArrowEvalPython" in plan  # vectorized bitset membership
    assert "LeftSemi" in plan
    from cdc_streaming_pipeline_spark.operators import bloom as bloom_mod

    assert "F.broadcast" not in inspect.getsource(bloom_mod)


def test_pagerank_no_window_no_python(spark):
    """Rank state stays a joined/aggregated DataFrame: no global window
    (the ordering happens only in the bounded top-20 report) and no
    Python eval anywhere in the iteration."""
    from cdc_streaming_pipeline_spark.plans.analytics import supplier_part_pagerank

    plan = _plan(supplier_part_pagerank(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Window" not in plan  # top-20 compiles to TakeOrderedAndProject


def test_split_drift_psi_pure_jvm(spark):
    from cdc_streaming_pipeline_spark.plans.docs import split_drift_psi

    plan = _plan(split_drift_psi(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Window" not in plan


def test_graph_iteratives_no_window_no_python(spark):
    """kcore / bfs / sssp state stays joined-and-aggregated DataFrames:
    no window anywhere, no Python eval — the per-round shuffles are hash
    joins/aggregates on node ids only."""
    from cdc_streaming_pipeline_spark.plans.analytics import (
        supplier_affinity_distance,
        supplier_part_kcore,
        supplier_reach_hops,
    )

    for q in (supplier_part_kcore, supplier_reach_hops, supplier_affinity_distance):
        plan = _plan(q(spark, SF_DIR))
        assert "EvalPython" not in plan, q.__name__
        assert "Window" not in plan, q.__name__


def test_open_order_concurrency_single_calendar_window(spark):
    """The sweep's only window runs over the day-aggregated frame —
    calendar-bounded by construction; the interval source never meets a
    day scaffold (no range join, no cartesian)."""
    from cdc_streaming_pipeline_spark.plans.analytics import open_order_concurrency

    plan = _plan(open_order_concurrency(spark, SF_DIR))
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_fuzzy_match_pure_jvm_no_cartesian(spark):
    """Symdel blocking compiles to hash joins on variant hashes plus a
    JVM levenshtein verify — no Python, no cartesian/BNLJ anywhere (the
    exact fallback only enters for gram-deficient LONG strings, absent
    in this corpus)."""
    from cdc_streaming_pipeline_spark.plans.analytics import part_name_fuzzy_match

    plan = _plan(part_name_fuzzy_match(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_spearman_tail_no_python_no_cartesian(spark):
    """The visible (post-checkpoint) spearman tail — tie groupBy, tie
    join, corr aggregate — stays JVM hash/sort-merge plumbing. The
    checkpointed head (broadcast freq tables + the bucketed rank
    operator) is pinned by the rank operator's own plan-shape tests;
    its only unpartitioned windows run over the two ≤50-row
    bounded-domain frequency frames, by design."""
    from cdc_streaming_pipeline_spark.plans.analytics import lineitem_spearman

    plan = _plan(lineitem_spearman(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multi_touch_attribution_single_join_pass(spark):
    """The range join (purchases x preceding touches) must appear ONCE:
    the first shape computed per-purchase counts as a separate
    groupBy+join against the same join output, which re-executed the
    whole join per branch (3 event scans). The window+CASE form keeps
    one join, no cartesian, and pushes the event_type filters to the
    scans."""
    from cdc_streaming_pipeline_spark.plans.events import multi_touch_attribution

    plan = _plan(multi_touch_attribution(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # count join NODES (formatted mode prints each node in the tree and
    # again as a numbered detail section — count the detail headers)
    joins = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and ("HashJoin" in l or "SortMergeJoin" in l)
    ]
    assert len(joins) == 1, f"expected ONE purchases-touches join: {joins}"
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]


def test_user_balance_clamped_two_windows_no_join(spark):
    """The max-plus rewrite's whole point: a non-associative recurrence
    served by ordered windows over ONE scan — no self-join, no
    cartesian, and exactly one exchange on the user key (both windows
    and the final aggregate share the user_id partitioning)."""
    from cdc_streaming_pipeline_spark.plans.events import user_balance_clamped

    plan = _plan(user_balance_clamped(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Window") >= 1
    hash_exchanges = [
        line for line in plan.splitlines() if "hashpartitioning" in line
    ]
    assert len(hash_exchanges) == 1, hash_exchanges


def test_search_ndcg_rank_window_is_post_topk(spark):
    """The global rank window runs over the already-top-10 rows, never
    the corpus; the ideal top-10 is a TakeOrderedAndProject (no global
    sort materializes the corpus)."""
    from cdc_streaming_pipeline_spark.plans.docs import search_ndcg

    plan = _plan(search_ndcg(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan  # the 1x1 dcg/idcg cross is BNLJ


def test_split_drift_ks_no_unpartitioned_window_no_python(spark):
    """KS rides the rank module's range-bucketed prefix sums: every
    Window in the plan must be partitioned (per-bucket), never the
    single-task global-order form, and nothing falls to Python."""
    from cdc_streaming_pipeline_spark.plans.docs import split_drift_ks

    plan = _plan(split_drift_ks(spark, SF_DIR))
    assert "EvalPython" not in plan
    # the ONLY SinglePartition exchange allowed is the final scalar
    # aggregate's 1-row merge (post map-side combine); a global-order
    # window would add another — the funnel the rank-module formulation
    # exists to avoid
    assert plan.count("SinglePartition") == 1
    assert "Window" in plan  # the per-bucket prefix-sum windows are real


def test_split_token_js_two_hash_aggs_broadcast_totals(spark):
    """JS is explode + hash aggregations + a |langs|-row broadcast join:
    no window, no Python, no sort-merge join."""
    from cdc_streaming_pipeline_spark.plans.docs import split_token_js

    plan = _plan(split_token_js(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_mi_and_wasserstein_single_fact_scan_no_funnel(spark):
    """MI: the fact-scale scan feeds ONE hash aggregation; everything
    after operates on the tiny joint table via broadcast. W1: same
    no-global-window discipline as KS — the rank-module pass plus a
    hash self-join on rank, one SinglePartition (final scalar merge)."""
    from cdc_streaming_pipeline_spark.plans.docs import (
        lang_source_mutual_info,
        split_drift_wasserstein,
    )

    plan = _plan(lang_source_mutual_info(spark, SF_DIR))
    assert "EvalPython" not in plan and "Window" not in plan
    assert "SortMergeJoin" not in plan  # marginals/total all broadcast

    plan = _plan(split_drift_wasserstein(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert plan.count("SinglePartition") == 1


def test_bucketed_merge_stages_with_one_exchange(spark, tmp_path, monkeypatch):
    """The merge's latest-row window and its bucket staging share ONE
    hash exchange: partitioning by key bucket (plus the salt, when a
    large bucket's rewrite is spread over several tasks) already
    satisfies the window's (bucket, salt, keys) distribution, so each
    micro-batch shuffles its rows once, not twice."""
    from pyspark.sql import functions as F

    from cdc_streaming_pipeline_spark.sources.txlog import BucketedTxLogTable

    plans: list[str] = []
    real = BucketedTxLogTable._write_bucketed

    def spy(self, parted):
        plans.append(_plan(parted, "simple"))
        return real(self, parted)

    monkeypatch.setattr(BucketedTxLogTable, "_write_bucketed", spy)

    def events(ids, lsn):
        return ids.select(
            F.col("id"),
            F.lit("v").alias("val"),
            F.lit("u").alias("_op"),
            F.lit(lsn).alias("_lsn"),
            F.lit(None).cast("string").alias("_deleted"),
        )

    # target_file_bytes=1 makes the second merge salt its touched bucket
    t = BucketedTxLogTable(
        spark, str(tmp_path / "t"), key_cols=["id"], n_buckets=4
    )
    t.init_from_events(events(spark.range(40), "0001"))
    t.merge_cdc_batch(events(spark.range(3), "0002"))
    t.target_file_bytes = 1
    t.merge_cdc_batch(events(spark.range(1), "0003"))
    assert len(plans) == 3
    assert "_kb_salt" in plans[2]
    for plan in plans:
        assert sum("Exchange" in line for line in plan.splitlines()) == 1, plan
