"""Plan-contract tests: pin the physical-plan properties the 100 TB
design depends on (SURVEY §4.2). A query here can pass its value oracle
and still fail — e.g. if a refactor breaks predicate pushdown."""

from __future__ import annotations

import pytest

from big_data_project_spark.plans.contracts import (
    count_ops,
    has_broadcast_join,
    has_partial_agg,
    num_shuffles,
    pushed_filters,
    read_schemas,
)
from big_data_project_spark.registry import all_queries
from big_data_project_spark.session import scope

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_flagship_pushdown_and_pruning(spark, qs):
    df = qs["flagship_pricing_summary"](spark, SF)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), f"shipdate filter not pushed: {pf}"
    # lineitem has 12+ columns; the flagship needs 7 — pruning must hold
    (cols,) = read_schemas(df)
    assert "l_comment" not in cols and len(cols) <= 8, cols


def test_flagship_partial_aggregation(spark, qs):
    # A12: map-side partial agg → exchange → final (SURVEY §2.4 A12)
    assert has_partial_agg(qs["flagship_pricing_summary"](spark, SF))


def test_star_join_broadcasts_all_dims(spark, qs):
    df = qs["j3_star_join_revenue"](spark, SF)
    # customer/nation/region/orders all under the 64MB threshold at test SF:
    # the fact table must stream with zero SortMergeJoin exchanges
    assert count_ops(df, "BroadcastHashJoin") >= 3
    assert count_ops(df, "SortMergeJoin") == 0


def test_broadcast_dim_join_is_broadcast(spark, qs):
    assert has_broadcast_join(qs["j1_broadcast_dim_join"](spark, SF))


def test_exact_dedup_shuffle_budget(spark, qs):
    # X6 is a straight groupBy(content_hash): exactly ONE exchange,
    # carrying only (hash, doc_id) — text is hashed at the scan and never
    # moves — with map-side partial aggregation in front of it
    df = qs["x6_exact_dedup"](spark, SF)
    assert count_ops(df, "Exchange") - count_ops(df, "BroadcastExchange") == 1
    assert has_partial_agg(df)


def test_projection_prunes_scan(spark, qs):
    # P1 projects 3 columns; the scan must not read the rest
    df = qs["p1_project_alias"](spark, SF)
    for cols in read_schemas(df):
        assert len(cols) <= 4, cols


def test_range_filter_pushdown(spark, qs):
    df = qs["p2_range_filter"](spark, SF)
    pf = pushed_filters(df)
    assert pf, "range predicate did not reach the parquet scan"


def test_bucketed_join_has_no_shuffle(spark, qs):
    # the whole point of bucketing: SMJ with zero exchanges at read time
    from big_data_project_spark.operators.scale import bucketed_join
    from big_data_project_spark.plans.contracts import num_shuffles

    df = bucketed_join(spark, SF)
    assert count_ops(df, "SortMergeJoin") == 1
    assert num_shuffles(df) == 0, "bucketed join must not re-shuffle"


def test_multimodal_metadata_skips_payload_bytes(spark, qs, tmp_path):
    # X10 design claim: payload and metadata are separate columns so a
    # metadata-only query never reads payload bytes from parquet
    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.multimodal import attach_payload

    out = str(tmp_path / "mm")
    attach_payload(load_table(spark, SF, "documents")).write.parquet(out)
    meta_only = spark.read.parquet(out).select("doc_id", "meta.width", "meta.mime")
    for cols in read_schemas(meta_only):
        assert "payload" not in cols, cols


def test_similarity_topk_broadcasts_queries(spark, qs):
    # X8: the small query side must be the broadcast side; corpus streams
    df = qs["x8_similarity_topk"](spark, SF)
    assert count_ops(df, "BroadcastNestedLoopJoin") + count_ops(df, "BroadcastHashJoin") >= 1


def test_binned_interval_join_avoids_nested_loop(spark, qs):
    # the binning rewrite must produce a hash/merge equi-join, never the
    # n² BroadcastNestedLoopJoin of the naive interval formulation
    df = qs["j8_binned_interval_join"](spark, SF)
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0
    assert (
        count_ops(df, "SortMergeJoin")
        + count_ops(df, "ShuffledHashJoin")
        + count_ops(df, "BroadcastHashJoin")
        >= 1
    )


def test_correlated_exists_decorrelates_to_semi_join(spark, qs):
    # Catalyst must turn the correlated EXISTS into a semi/existence join —
    # never a per-row subquery (SURVEY §4.2)
    from big_data_project_spark.plans.contracts import plan_str

    text = plan_str(qs["sql_correlated_exists"](spark, SF), mode="simple")
    assert "LeftSemi" in text or "ExistenceJoin" in text, text


def test_scalar_subquery_decorrelates_to_aggregate_join(spark, qs):
    from big_data_project_spark.plans.contracts import plan_str

    text = plan_str(qs["sql_scalar_subquery"](spark, SF), mode="simple")
    # decorrelated: one aggregate joined back, no per-row subquery node
    assert "Subquery" not in text, text


def test_excess_shippers_flattens_nested_subqueries(spark, qs):
    # Q20 pattern: both IN levels must become joins; only the uncorrelated
    # scalar average may remain as a (one-row, run-once) subquery
    from big_data_project_spark.plans.contracts import plan_str

    text = plan_str(qs["sql_excess_shippers"](spark, SF), mode="simple")
    assert text.count("Join") >= 3, text


def test_hot_paths_stay_in_whole_stage_codegen(spark, qs):
    # "stay JVM-side": relational hot paths must run inside fused codegen
    # stages — a row-at-a-time Python UDF sneaking in drops this to 0
    from big_data_project_spark.plans.contracts import whole_stage_codegen_spans

    for name in (
        "flagship_pricing_summary",
        "j2_orders_lineitem_join",
        "w1_topk_per_group",
        "x9_word_count",
    ):
        assert whole_stage_codegen_spans(qs[name](spark, SF)) >= 1, name


def test_small_qty_revenue_decorrelates(spark, qs):
    # TPC-H Q17 pattern: the per-part scalar subquery must become a
    # grouped aggregate joined back on l_partkey, never a per-row subquery
    from big_data_project_spark.plans.contracts import plan_str

    text = plan_str(qs["sql_small_qty_revenue"](spark, SF), mode="simple")
    assert "Subquery" not in text, text
    assert "Join" in text, text


def test_waiting_suppliers_decorrelates_to_semi_and_anti(spark, qs):
    """Q21 shape: the EXISTS must become a left-semi join and the NOT
    EXISTS a left-anti join — both hash joins keyed on l_orderkey, never
    a per-row subquery or a nested loop."""
    from big_data_project_spark.plans.contracts import plan_str

    plan = plan_str(qs["sql_waiting_suppliers"](spark, SF), "simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:800]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_lateral_topk_decorrelates_to_window(spark, qs):
    """The LATERAL per-nation top-2 must rewrite to a window/rank plan
    (DomainJoin elimination), not a correlated loop or cartesian blow-up."""
    from big_data_project_spark.plans.contracts import count_ops, plan_str

    df = qs["sql_lateral_topk"](spark, SF)
    plan = plan_str(df, "simple")
    assert count_ops(df, "Window") >= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_ngram_jaccard_is_equi_join(spark, qs):
    """The inverted-index self-join is an equi join on the shingle key —
    hash-partitionable at any scale. A nested-loop plan here would mean
    the n² pair space is being enumerated."""
    from big_data_project_spark.plans.contracts import plan_str

    plan = plan_str(qs["x7_ngram_jaccard_pairs"](spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_q19_disjunction_stays_hash_join(spark, qs):
    """TPC-H Q19's historical failure mode is the OR-of-ANDs degrading the
    part join to a nested loop. The equi key sits outside the
    disjunction, so the plan must contain a hash join on p_partkey and
    zero nested-loop joins."""
    df = qs["sql_q19_banded_revenue"](spark, SF)
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0
    assert count_ops(df, "CartesianProduct") == 0
    assert has_broadcast_join(df) or count_ops(df, "SortMergeJoin") >= 1


def test_q5_dims_broadcast_single_shuffle_chain(spark, qs):
    """Q5's six-way join: supplier/nation/region (and customer at test SF)
    broadcast; only the orderkey chain shuffles. No nested loops despite
    the extra cross-dimension equality c_nationkey = s_nationkey."""
    df = qs["sql_q5_local_supplier_volume"](spark, SF)
    assert count_ops(df, "BroadcastHashJoin") >= 3
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0


def test_q22_not_exists_decorrelates_to_anti_join(spark, qs):
    """Q22's NOT EXISTS must become a left-anti hash join with the date
    filter evaluated below it, and the scalar avg a one-row subquery —
    never a per-customer probe."""
    plan = qs["sql_q22_dormant_customers"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan or "LeftAnti" in plan


def test_chunking_and_quantization_are_narrow(spark, qs):
    """The pre-embedding fan-out (x14) and int8 quantization (x15) are
    per-row array transforms: zero exchanges of any kind — at 100 TB they
    must remain pure map stages."""
    for name in ("x14_chunk_documents", "x15_embedding_quantize"):
        df = qs[name](spark, SF)
        assert count_ops(df, "Exchange") == 0, name


def test_q4_exists_decorrelates_to_semi_join(spark, qs):
    """Q4's correlated EXISTS (with an inequality spanning both tables)
    must become a left-semi join, never a per-order subquery."""
    plan = qs["sql_q4_order_priority"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_q13_filter_stays_in_join_condition(spark, qs):
    """Q13's ON-clause filter must keep the join LEFT OUTER (zero-order
    customers survive as NULL-extended rows. If a rewrite pushed the
    filter below as a WHERE it would become an inner join and the
    c_count=0 histogram bucket would vanish)."""
    df = qs["sql_q13_order_distribution"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan, plan


def test_q15_scalar_max_is_subquery_not_rescan_join(spark, qs):
    """Q15's max(total_revenue) must execute as a scalar subquery result
    broadcast into the filter — the plan must not contain a join against
    a re-aggregated revenue CTE (which would double the fact scans)."""
    df = qs["sql_q15_top_supplier"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" in plan or "ReusedSubquery" in plan, plan


def test_join_hints_are_honored(spark, qs):
    """The hint surface a tuning user reaches for first: BROADCAST must
    force a broadcast join even where size stats would pick sort-merge,
    and SHUFFLE_MERGE must force sort-merge even for a broadcastable
    side."""
    from big_data_project_spark.io import load_table

    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    forced_b = li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
    assert count_ops(forced_b, "BroadcastHashJoin") >= 1
    forced_m = li.join(o.hint("shuffle_merge"), li.l_orderkey == o.o_orderkey)
    assert count_ops(forced_m, "SortMergeJoin") >= 1
    assert count_ops(forced_m, "BroadcastHashJoin") == 0


def test_scrub_and_pq_codes_are_narrow(spark, qs):
    """Blocklist scrubbing (x19) and PQ assignment (x18) are per-row
    transforms: zero exchanges — at 100 TB both must stay pure scans."""
    for name in ("x19_text_scrub", "x18_pq_codes"):
        df = qs[name](spark, SF)
        assert count_ops(df, "Exchange") == 0, name


def test_sequence_packing_single_shuffle(spark, qs):
    """x20's prefix-sum runs one window over (source, doc_id): exactly one
    exchange (hash on source) — adding stages would break the 'same cost
    as a partitioned cumulative sum' contract."""
    df = qs["x20_sequence_packing"](spark, SF)
    assert count_ops(df, "Exchange") - count_ops(df, "BroadcastExchange") == 1


def test_group_split_single_shuffle_and_pruning(spark, qs):
    """x21 reads only (source): column pruning must reach the scan, and
    the groupBy is the only exchange with partial agg in front."""
    df = qs["x21_group_split"](spark, SF)
    (cols,) = read_schemas(df)
    assert cols == ["source"], cols
    assert count_ops(df, "Exchange") - count_ops(df, "BroadcastExchange") == 1
    assert has_partial_agg(df)


def test_pii_and_lm_filters_are_narrow(spark, qs):
    """x24 (typed PII redaction) and x27 (LM logprob gate) are per-row
    regexp/map-fold transforms: zero exchanges — pure scans at 100 TB."""
    for name in ("x24_pii_redaction", "x27_lm_quality_filter"):
        df = qs[name](spark, SF)
        assert count_ops(df, "Exchange") == 0, name


def test_aspect_buckets_prune_payload_and_agg_once(spark, qs):
    """x22 must never read text/payload bytes (metadata-only pruning) and
    aggregates on the 3-value bucket with one exchange + partial agg."""
    df = qs["x22_aspect_buckets"](spark, SF)
    for cols in read_schemas(df):
        assert "text" not in cols, cols
    assert count_ops(df, "Exchange") - count_ops(df, "BroadcastExchange") == 1
    assert has_partial_agg(df)


def test_semdedup_broadcasts_centroids(spark, qs):
    """x26: centroid assignment must broadcast the centroid side (never a
    CartesianProduct — the embedding side streams), and the within-
    cluster pair search must be an EQUI join on the bucket key, not a
    nested loop over all pairs."""
    df = qs["x26_semdedup"](spark, SF)
    assert count_ops(df, "BroadcastExchange") >= 1
    assert count_ops(df, "CartesianProduct") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin [bucket" in plan or "ShuffledHashJoin [bucket" in plan, (
        "within-cluster pair join must shuffle on the bucket key only"
    )


def test_kmeans_step_broadcasts_centroids_no_vector_shuffle(spark, qs):
    """x30: both joins in the Lloyd step must broadcast (centroids and the
    tiny per-bucket aggregates) — the embedding table itself must never be
    the build side of a shuffle join, and assignment must not be a
    CartesianProduct blowup (the centroid side is broadcast-nested-loop
    over k rows, bounded)."""
    df = qs["x30_kmeans_step"](spark, SF)
    assert count_ops(df, "BroadcastExchange") >= 1
    assert count_ops(df, "CartesianProduct") == 0


def test_hash_stratified_sample_is_narrow(spark, qs):
    """o7b: deterministic hash sampling is a per-row filter — exactly the
    one exchange of the final per-class count aggregate (plus partial agg
    in front), never a shuffle of the sampled rows themselves."""
    df = qs["o7_hash_stratified_sample"](spark, SF)
    assert count_ops(df, "Exchange") - count_ops(df, "BroadcastExchange") == 1
    assert has_partial_agg(df)


def test_grid_kernel_distributed_path_shape(spark):
    """The nb>1 block-matrix path must be the cogrouped executor-side grid
    (FlatMapCoGroupsInPandas) with NO broadcast exchange — nothing relays
    through the driver — and both replicated sides shuffle on the grid
    keys only."""
    from big_data_project_spark.pipeline.similarity import (
        x8_cosine_pairs_threshold,
    )

    df = x8_cosine_pairs_threshold(spark, SF, block_rows=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, "grid path must cogroup executor-side"
    assert count_ops(df, "BroadcastExchange") == 0
    assert count_ops(df, "CartesianProduct") == 0


def test_partition_pruning_reaches_the_scan(spark, qs):
    """s17: the partition-column predicate must resolve against directory
    names at planning time (PartitionFilters), not as a row-level filter
    after reading every partition."""
    df = qs["s17_partition_pruned_scan"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "l_returnflag" in m.group(1), (
        f"partition filter not pushed to the scan: {m and m.group(1)}"
    )


def test_dynamic_partition_pruning_triggers(spark, qs):
    """s18: the fact scan's PartitionFilters must contain a
    dynamicpruningexpression — the dim filter prunes fact partitions at
    RUNTIME via the reused broadcast, not after reading the lake."""
    df = qs["s18_dynamic_partition_pruning"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), (
        "dynamic partition pruning did not trigger on the fact scan"
    )


def test_assign_nearest_collapses_candidates_map_side(spark, qs):
    """The nearest-centroid assignment must be the max_by aggregate (with
    map-side partial agg), not a row_number window: the window form
    shuffles n*k candidate rows each carrying an embedding copy; the
    aggregate collapses to one row per vector BEFORE the exchange."""
    df = qs["x30_kmeans_step"](spark, SF)
    assert count_ops(df, "Window") == 0
    assert has_partial_agg(df)


def test_kmeans_train_iterates_on_cached_centroids(spark, qs):
    """x31: the final iteration's plan must build on the persisted
    previous-generation centroid table (InMemoryTableScan), not re-derive
    every earlier Lloyd pass, and assignment must never degenerate into
    an unbounded CartesianProduct."""
    df = qs["x31_kmeans_train"](spark, SF)
    assert count_ops(df, "InMemoryTableScan") >= 1
    assert count_ops(df, "CartesianProduct") == 0


def test_line_dedup_is_one_linear_pipeline(spark, qs):
    """x32: exactly three shuffles — segment-hash window, (doc_id, lang)
    rebuild, per-lang report — and NO join: stats and rebuild digest come
    out of one per-doc aggregate, so the corpus is scanned and
    window-shuffled once, not once per output branch."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["x32_line_dedup"](spark, SF)
    assert num_shuffles(df) == 3
    assert count_ops(df, "SortMergeJoin") == 0
    assert count_ops(df, "BroadcastHashJoin") == 0
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0


def test_url_canonical_dedup_two_shuffles_jvm_only(spark, qs):
    """x33: canonicalization is a pure JVM map (regex chain, no Python
    eval); the dedup + report are two aggregates with map-side partials."""
    df = qs["x33_url_canonical_dedup"](spark, SF)
    from big_data_project_spark.plans.contracts import num_shuffles

    assert num_shuffles(df) == 2
    assert has_partial_agg(df)
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0


def test_topk_windows_push_group_limit_map_side(spark, qs):
    """Top-k via row_number + rk<=k must trigger Spark's rank-limit
    pushdown (WindowGroupLimit): each map task keeps only its local top-k
    per group BEFORE the window exchange, so the shuffle carries ~k rows
    per (task, group) instead of every scored candidate — the property
    that keeps per-group top-k viable when a group has 10^9 candidates."""
    for name in ("x8_similarity_topk", "w1_topk_per_group"):
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, f"{name} lost rank-limit pushdown"


def test_curation_gates_at_scan_single_dedup_exchange(spark, qs):
    """pipeline_curation_end2end (VERDICT r04 #5a): the funnel's quality +
    language gates must sit ON the scan (lang IN pushed to parquet, the
    length/digit predicates fused into the scan-adjacent Filter), and the
    exact-dedup leg must pay exactly ONE hash exchange on the content hash
    whose direct input is a narrow Project — i.e. text is hashed and
    token-counted BEFORE the shuffle, so at 100 TB the exchange carries
    ~40 bytes/row, never the corpus."""
    import re

    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = qs["pipeline_curation_end2end"](spark, SF)
    pf = pushed_filters(df)
    assert any("In(lang" in f for f in pf), f"lang gate not pushed: {pf}"
    plan = plan_str(df, "simple")
    assert re.search(r"length\(text#\d+\) >= 20", plan), "quality gate left the scan"
    h_exchanges = re.findall(r"Exchange hashpartitioning\(h#\d+[^\n]*\n[\s:]*\+- (\w+)", plan)
    assert h_exchanges == ["Project"], (
        f"exact-dedup must be ONE h-exchange fed directly by a Project: {h_exchanges}"
    )
    # 9 true shuffle exchanges: the gates are narrow; the budget covers
    # the dedup exchange plus the small per-lang aggregate chain (the
    # num_shuffles helper undercounted by the broadcast count before r06,
    # which is where the historical "6" came from)
    assert num_shuffles(df) <= 9, "curation funnel shuffle budget regressed"


def test_minhash_pairs_reuse_persisted_shingles(spark, qs):
    """x7_minhash_neardup_pairs (VERDICT r04 #5b): the persisted shingle
    frame must back BOTH sides of the band join and both verify sides
    (>=3 InMemoryTableScans — without the persist Spark re-tokenizes the
    corpus per branch), and the only wide exchange is the bounded
    candidate-pair dedup — never an n² or corpus-wide shuffle."""
    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = qs["x7_minhash_neardup_pairs"](spark, SF)
    assert count_ops(df, "InMemoryTableScan") >= 3, "persisted shingles not reused"
    # 5 true shuffle exchanges (pre-r06 the helper subtracted the 3
    # broadcasts and the pin read "2"): shingle collapse, band-bucket
    # join sides, candidate dedup — all bounded, never n²
    assert num_shuffles(df) <= 5, "band-join shuffle budget regressed"
    plan = plan_str(df, "simple")
    # tokenization (split on text) may appear only under the cached relation,
    # never in the live (top-level) plan — splitting the plan at the first
    # InMemoryRelation keeps the check purely on the uncached prefix
    top = plan.split("InMemoryRelation")[0]
    assert "split(text" not in top, "corpus re-tokenized outside the persist"


def test_gopher_gate_is_pure_scan_map(spark, qs):
    """x36: every rule feature derives from the doc's own token array —
    zero shuffle, zero Python eval, one scan."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["x36_gopher_quality_rules"](spark, SF)
    assert num_shuffles(df) == 0
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0


def test_dsir_broadcasts_models_and_takes_ordered(spark, qs):
    """x37: the exploded (doc, bucket) frame is persisted and reused
    (raw counts, target counts, scoring join — ≥3 InMemoryTableScans);
    the ≤512-row log-ratio table broadcasts to the scoring join; and the
    global top-N is a TakeOrderedAndProject (distributed per-task heaps),
    never a single-task global-sort window over every doc."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x37_dsir_selection"](spark, SF)
    assert count_ops(df, "InMemoryTableScan") >= 3, "hb frame not reused"
    assert count_ops(df, "BroadcastHashJoin") >= 1, "log-ratio table not broadcast"
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, "global top-N lost the heap path"


def test_prototypicality_broadcasts_centroids(spark, qs):
    """x39: scoring joins each vector to its own k-row label-centroid
    table by BROADCAST (the embedding side never shuffles for the join);
    the rank window moves only (vec_id, label, sim) scalars."""
    from big_data_project_spark.plans.contracts import num_shuffles, read_schemas

    df = qs["x39_prototypicality_prune"](spark, SF)
    assert count_ops(df, "BroadcastHashJoin") >= 1
    assert num_shuffles(df) <= 3
    # ranked exchange must not carry the embedding payload: no scan feeding
    # the window reads more than the needed columns (embedding is consumed
    # map-side by the cosine, pruned before the rank exchange)
    assert count_ops(df, "SortMergeJoin") == 0


def test_pq_adc_is_one_kernel_pass(spark, qs):
    """x38: the corpus streams through ONE mapInPandas encode+gather pass;
    the only exchange is the bounded per-batch-survivor rank (≤ nq·k rows
    per batch), and the per-query top-k gets the WindowGroupLimit
    map-side pushdown."""
    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = qs["x38_pq_adc_topk"](spark, SF)
    assert plan_str(df, "simple").count("MapInPandas") == 1
    assert num_shuffles(df) <= 1
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_ivfadc_scan_is_cell_restricted(spark, qs):
    """x90: the composed IVF→ADC chain encodes the corpus in ONE
    mapInPandas pass, and the ADC scan is CELL-RESTRICTED — the code
    stream meets the nq·nprobe probe rows through a BroadcastHashJoin
    keyed on bucket (codes never shuffle; non-probed cells drop at the
    join), never a full-table or sort-merge pass; the per-query top-k
    gets the WindowGroupLimit map-side pushdown."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x90_ivfadc_topk"](spark, SF)
    p = plan_str(df, "simple")
    assert p.count("MapInPandas") == 1
    bhj = [line for line in p.splitlines() if "BroadcastHashJoin" in line]
    assert any("bucket" in line for line in bhj), bhj  # the cell restriction
    assert "SortMergeJoin" not in p
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    spark.catalog.clearCache()


def test_ccnet_single_scalar_rank_exchange(spark, qs):
    """x41: scoring is the x27 zero-shuffle map fold; the only exchange is
    the per-language tercile rank carrying (doc_id, lang, score)."""
    from big_data_project_spark.plans.contracts import num_shuffles, read_schemas

    df = qs["x41_ccnet_buckets"](spark, SF)
    assert num_shuffles(df) == 1
    for cols in read_schemas(df):
        assert "text" in cols and len(cols) <= 3, cols  # scan reads only what scoring needs


def test_duplicate_ngrams_zero_shuffle(spark, qs):
    """x42: both n-gram fractions come from the doc's own token array —
    no explode, no exchange, no Python."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["x42_duplicate_ngrams"](spark, SF)
    assert num_shuffles(df) == 0
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0


def test_unpivot_expands_single_scan(spark, qs):
    """u6: the native unpivot compiles to one Expand over ONE scan (the
    UNION ALL oracle form would scan three times) with no exchange, and
    pruning still reaches the scan (5 of 11 lineitem columns)."""
    from big_data_project_spark.plans.contracts import num_shuffles, read_schemas

    df = qs["u6_unpivot"](spark, SF)
    assert count_ops(df, "Expand") == 1
    assert num_shuffles(df) == 0
    schemas = read_schemas(df)
    assert len(schemas) == 1 and len(schemas[0]) <= 5, schemas


def test_weighted_sample_zero_shuffle_selection(spark, qs):
    """o12: the ΣW scalar rides a BroadcastExchange; the selection filter
    itself is a narrow map — no data shuffle before the final sort."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["o12_weighted_sample"](spark, SF)
    plan = plan_str(df, "simple")
    # exactly one broadcast (the 1-row total), no join-keyed exchange
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert count_ops(df, "SortMergeJoin") + count_ops(df, "ShuffledHashJoin") == 0


def test_bpe_pairs_partial_agg_and_topn(spark, qs):
    """x45: bounded pair key space must collapse map-side (partial agg)
    and the top-50 must be TakeOrderedAndProject, not a global sort."""
    from big_data_project_spark.plans.contracts import has_partial_agg, plan_str

    df = qs["x45_bpe_pair_counts"](spark, SF)
    assert has_partial_agg(df)
    assert "TakeOrderedAndProject" in plan_str(df, "simple")


def test_boilerplate_lines_single_seg_hash_window(spark, qs):
    """x44: same single-scan shape as x32 — one window exchange on the
    segment hash, one rebuild exchange on (doc_id, lang), one per-lang
    aggregate; the corpus is scanned exactly once."""
    from big_data_project_spark.plans.contracts import num_shuffles, read_schemas

    df = qs["x44_boilerplate_lines"](spark, SF)
    assert num_shuffles(df) <= 3
    assert len(read_schemas(df)) == 1  # one scan of documents


def test_span_corruption_single_report_exchange(spark, qs):
    """x47: example construction is narrow array arithmetic — the only
    exchange is the per-source report aggregate, and no Python crosses
    the boundary."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["x47_span_corruption"](spark, SF)
    assert num_shuffles(df) == 1
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0


def test_vocab_encode_narrow_after_broadcast_vocab(spark, qs):
    """x46: with the vocabulary shipped as literal map state, the encode
    plan has NO join at all — only the per-source report exchange — and
    reads just (source, text)."""
    from big_data_project_spark.plans.contracts import num_shuffles, read_schemas

    df = qs["x46_vocab_encode"](spark, SF)
    assert num_shuffles(df) == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert count_ops(df, op) == 0, op
    (cols,) = read_schemas(df)
    assert set(cols) <= {"source", "text"}, cols


def test_winsorize_two_pass_no_window(spark, qs):
    """p8: percentile thresholds are driver scalars — the clip pass has no
    window, no join, and exactly the one report exchange."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["p8_winsorize"](spark, SF)
    assert num_shuffles(df) <= 2  # report agg + 3-row display sort
    assert count_ops(df, "Window") == 0


def test_multimodal_curation_funnel_shape(spark, qs):
    """pipeline_multimodal_curation: one scan of documents, gates applied
    before the dedup window, exactly two exchanges (payload-hash dedup +
    bucket report)."""
    from big_data_project_spark.plans.contracts import num_shuffles, read_schemas

    df = qs["pipeline_multimodal_curation"](spark, SF)
    assert num_shuffles(df) == 2
    assert len(read_schemas(df)) == 1


def test_frame_dedup_fingerprint_only_exchange(spark, qs):
    """x49: one Arrow kernel crossing for the frame fan-out, then the only
    exchanges carry the 24-byte fingerprint triple (dedup agg + histogram
    agg) — frame bytes never shuffle."""
    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = qs["x49_frame_dedup"](spark, SF)
    assert plan_str(df, "simple").count("MapInPandas") == 1
    assert num_shuffles(df) <= 3  # fingerprint agg + histogram agg (+ display sort)


def test_bm25_takes_ordered_with_broadcast_stats(spark, qs):
    """x50: term filter bounds the tf exchange to |Q| postings, df and
    (N, avgdl) ride as broadcasts, and the top-20 is
    TakeOrderedAndProject — never a global sort; no Python boundary."""
    from big_data_project_spark.plans.contracts import has_partial_agg, plan_str

    df = qs["x50_bm25_retrieval"](spark, SF)
    text = plan_str(df, "simple")
    assert "TakeOrderedAndProject" in text
    assert has_partial_agg(df)
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    assert count_ops(df, "CartesianProduct") == 0


def test_pagerank_reuses_cached_edge_frame(spark, qs):
    """x51: every iteration's join must read the CACHED degree-annotated
    edge frame (InMemoryTableScan per pass — dropping the persist makes
    each pass re-derive the orders⨝lineitem graph and the count falls to
    zero), and the top-25 must be TakeOrderedAndProject."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x51_pagerank"](spark, SF)
    text = plan_str(df, "simple")
    assert "TakeOrderedAndProject" in text
    # ≥3 cache reads: one per iteration (nested InMemoryRelation display
    # repeats inflate the raw count; zero is the regression signal)
    assert text.count("InMemoryTableScan") >= 3


def test_x67_ppr_broadcast_teleport_cached_edges(spark, qs):
    """x67: the x51 pins extended to the personalized variant — every
    iteration reads the CACHED weighted edge frame (InMemoryTableScan per
    pass), the top-25 is TakeOrderedAndProject, and personalization adds
    ZERO shuffle over global PageRank: the teleport vector joins as a
    BroadcastHashJoin in every iteration plus the seed/flag joins (≥4
    broadcasts total), with no Python eval and no cartesian product."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x67_personalized_pagerank"](spark, SF)
    text = plan_str(df, "simple")
    assert "TakeOrderedAndProject" in text
    assert text.count("InMemoryTableScan") >= 3
    assert count_ops(df, "BroadcastHashJoin") >= 4
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    assert count_ops(df, "CartesianProduct") == 0


def test_khop_bfs_delta_frontier_plan(spark):
    """Prepped x68: each BFS round reads the PERSISTED previous frontier
    (InMemoryTableScan per round — zero means the delta-frontier caching
    broke and every round re-derives the whole chain), and the whole
    expansion stays JVM-side with no cartesian product."""
    from big_data_project_spark.pipeline.graph import khop_bfs_distances
    from big_data_project_spark.plans.contracts import plan_str

    df = khop_bfs_distances(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert text.count("InMemoryTableScan") >= 3
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        assert count_ops(df, "CartesianProduct") == 0
    finally:
        spark.catalog.clearCache()


def test_adamic_adar_hashed_wedge_topk_plan(spark):
    """Prepped x69: the wedge self-join must honor the SHUFFLE_HASH hint
    (a sort-merge join would sort the Σ deg²-row wedge stream — the r08
    x64 measurement), the top-20 is TakeOrderedAndProject, and nothing
    crosses into Python."""
    from big_data_project_spark.pipeline.graph import adamic_adar_links
    from big_data_project_spark.plans.contracts import plan_str

    df = adamic_adar_links(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert count_ops(df, "ShuffledHashJoin") >= 1
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        assert count_ops(df, "CartesianProduct") == 0
    finally:
        spark.catalog.clearCache()


def test_scd2_merge_no_window_single_join(spark, qs):
    """s19: SCD2 is one key join + a narrow ≤2-row fan-out — no window
    over key history may appear, and the fan-out is a Generate node."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["s19_scd2_merge"](spark, SF)
    text = plan_str(df, "simple")
    assert count_ops(df, "Window") == 0
    assert "Generate" in text  # the explode fan-out
    joins = sum(count_ops(df, op) for op in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1, joins


def test_hybrid_rrf_truncates_legs_before_fusion(spark, qs):
    """x52: each leg must rank-truncate to ≤100 candidate rows (window
    group limit or filter over row_number) before the fusion join, and
    no Python crosses the boundary."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x52_hybrid_rrf"](spark, SF)
    text = plan_str(df, "simple")
    assert count_ops(df, "Window") + text.count("WindowGroupLimit") >= 2
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    assert "TakeOrderedAndProject" in text


def test_ema_single_collect_exchange_no_python(spark, qs):
    """b5: the recursive fold is a JVM array lambda — exactly one
    exchange (the per-user collect) and no Python eval node."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["b5_ema_smoothing"](spark, SF)
    assert num_shuffles(df) == 1
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    assert count_ops(df, "Window") == 0


def test_delete_propagation_broadcast_anti_only(spark, qs):
    """s20: every cascade hop must be a broadcast anti/semi join against
    the small DELETED key set — no sort-merge join may appear (a SMJ here
    means the survivors, i.e. the whole fact table, became a join build
    side)."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["s20_delete_propagation"](spark, SF)
    text = plan_str(df, "simple")
    assert count_ops(df, "SortMergeJoin") == 0
    assert "BroadcastHashJoin" in text


def test_interval_overlap_join_no_nested_loop(spark, qs):
    """j12: the interval×interval overlap join must run as a bucket
    equi-join with a residual filter — never a nested-loop/cartesian
    plan (the n² shape the rewrite exists to avoid)."""
    df = qs["j12_interval_overlap_join"](spark, SF)
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0
    assert count_ops(df, "CartesianProduct") == 0
    joins = sum(count_ops(df, op) for op in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins >= 1


def test_pmi_broadcasts_word_counts(spark, qs):
    """x53: the word-count and doc-count tables must ride as broadcasts
    onto the pair table, and the top-50 must be TakeOrderedAndProject."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x53_pmi_cooccurrence"](spark, SF)
    text = plan_str(df, "simple")
    assert "TakeOrderedAndProject" in text
    assert count_ops(df, "BroadcastHashJoin") >= 2


def test_bigram_lm_narrow_construction(spark, qs):
    """x54: bigram construction is a narrow array zip — no join before
    the (w1, w2) count aggregate, no Python boundary."""
    df = qs["x54_bigram_lm"](spark, SF)
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    assert count_ops(df, "Generate") >= 1  # the explode fan-out


def test_incremental_ingest_prunes_to_new_partitions(spark, qs):
    """s21: the incremental leg's day predicate must resolve in the
    scan's PartitionFilters (planning-time pruning over the manifest
    diff), never as a row-level filter over the whole lake."""
    import re

    from big_data_project_spark.plans.contracts import plan_str

    df = qs["s21_incremental_ingest"](spark, SF)
    plan = plan_str(df)
    matches = [m.group(1) for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan)]
    assert any("day" in m for m in matches if m.strip()), matches


def test_rolling_actives_explode_equi_join_no_nested_loop(spark, qs):
    """b6 (ADVICE r05): the trailing-7-day membership must run as an
    explode(sequence(day, day+6)) fan-out + grid equi-join — the raw
    BETWEEN formulation plans as a BroadcastNestedLoopJoin whose cost is
    days² × users.  The bounded calendar grid must be the broadcast
    side."""
    df = qs["b6_rolling_active_users"](spark, SF)
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0
    assert count_ops(df, "CartesianProduct") == 0
    assert count_ops(df, "Generate") >= 1  # the ≤7-day explode fan-out
    assert count_ops(df, "BroadcastHashJoin") >= 1


def test_boolean_retrieval_no_join_tf_gate(spark, qs):
    """x57: conjunctive retrieval is the tf aggregate + a count(terms)
    gate — NO join anywhere in the plan, the query-term filter applied
    before the postings exchange (only |Q|×df postings move), and the
    top-50 as TakeOrderedAndProject (never a global sort)."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x57_boolean_retrieval"](spark, SF)
    plan = plan_str(df, "simple")
    assert "Join" not in plan, "boolean retrieval must not join"
    assert "TakeOrderedAndProject" in plan
    assert count_ops(df, "Sort") == 0, "top-50 must not plan a global sort"


def test_corrupt_records_single_scan_permissive_routing(spark, qs):
    """s22: PERMISSIVE routing is ONE json scan + one status aggregate —
    no join, a single shuffle exchange, map-side partial agg in front of
    it (the 100 TB ingest posture: corrupt rows ride the same scan, not
    a second pass)."""
    from big_data_project_spark.plans.contracts import has_partial_agg, num_shuffles, plan_str

    df = qs["s22_corrupt_records"](spark, SF)
    assert "Join" not in plan_str(df, "simple")
    assert num_shuffles(df) == 1
    assert has_partial_agg(df)


def test_moving_median_single_window_exchange(spark, qs):
    """w9: the sliding median is ONE window operator over ONE hash
    exchange on user_id — no Python eval (percentile is a JVM
    aggregate), no extra sort beyond the window's own."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["w9_moving_median"](spark, SF)
    assert num_shuffles(df) == 1
    assert count_ops(df, "Window") == 1
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0


def test_temporal_split_broadcast_scalars_no_wide_join(spark, qs):
    """x55: the split threshold and the leakage count ride 1-row
    broadcasts back onto the scan — never a sort-merge or shuffled hash
    join, and no global sort anywhere."""
    df = qs["x55_temporal_split"](spark, SF)
    assert count_ops(df, "SortMergeJoin") == 0
    assert count_ops(df, "ShuffledHashJoin") == 0
    assert count_ops(df, "BroadcastExchange") >= 2  # thr + leaked scalars


def test_bigram_perplexity_broadcast_model_persisted_pairs(spark, qs):
    """x56: the vocab²-bounded model tables must BROADCAST onto the
    doc-tagged pair stream (no SMJ), and the persisted pair table must
    back both the model and the scoring stream (InMemoryTableScan
    reuse) — without it the corpus tokenizes twice."""
    df = qs["x56_bigram_perplexity"](spark, SF)
    assert count_ops(df, "SortMergeJoin") == 0
    assert count_ops(df, "BroadcastHashJoin") >= 2  # n12 + n1 model joins
    assert count_ops(df, "InMemoryTableScan") >= 2, "persisted pair table not reused"


def test_embedding_gram_single_cell_exchange_arrow_kernel(spark, qs):
    """x59: the Gram matrix is ONE Arrow-vectorized per-partition matmul
    (MapInPandas — measured 17× the interpreted per-pair fold) + ONE
    partial-aggregated exchange of d(d+1)/2 cells per partition — no
    self-join (the oracle's flat⨝flat shape would shuffle n·d rows
    twice), no row-at-a-time Python."""
    from big_data_project_spark.plans.contracts import has_partial_agg, num_shuffles, plan_str

    df = qs["x59_embedding_gram"](spark, SF)
    plan = plan_str(df, "simple")
    assert count_ops(df, "MapInPandas") == 1
    assert count_ops(df, "BatchEvalPython") == 0  # never per-row Python
    # cell exchange + the 1-row SinglePartition count(n) exchange
    assert num_shuffles(df) <= 2
    assert has_partial_agg(df)
    assert "SortMergeJoin" not in plan


def test_pca_project_iteration_never_rederives_gram(spark, qs):
    """x61 (r18 dense form): the whole d-bounded power iteration runs as
    array expressions on the 1-row dense Gram leaf (_dense_gsym), so the
    live plan is exactly: one parquet scan (the final projection), ZERO
    shuffles, zero joins of any kind except the single 1-row direction
    broadcast, and the Gram kernel (MapInPandas) sits behind the
    lineage cut — it must never re-run per step."""
    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = qs["x61_pca_project"](spark, SF)
    plan = plan_str(df, "simple")
    assert plan.count("Scan parquet") == 1, "corpus must be scanned once here"
    assert count_ops(df, "MapInPandas") == 0, "Gram kernel must sit behind the lineage cut"
    assert count_ops(df, "BroadcastHashJoin") == 0  # dense chain: no matvec joins
    assert count_ops(df, "SortMergeJoin") == 0
    assert count_ops(df, "BatchEvalPython") == 0
    assert count_ops(df, "BroadcastNestedLoopJoin") == 1  # 1-row direction only
    assert num_shuffles(df) == 0  # everything d-bounded is single-row now
    assert "ExistingRDD" in plan  # the direction rides from the checkpoint leaf


def test_pca_top2_deflation_stays_behind_lineage_cuts(spark, qs):
    """x62 (r18 dense form): deflation adds NO corpus work — chain 1,
    the Rayleigh λ, the deflation map, and chain 2 are all single-row
    array expressions behind plan barriers, so the live plan is exactly
    x61's shape with ONE two-direction 1-row broadcast: one parquet
    scan, zero shuffles, zero joins beyond the BNLJ broadcast."""
    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = qs["x62_pca_top2"](spark, SF)
    plan = plan_str(df, "simple")
    assert plan.count("Scan parquet") == 1, "corpus must be scanned once here"
    assert count_ops(df, "MapInPandas") == 0, "Gram kernel must sit behind the lineage cut"
    assert count_ops(df, "BroadcastHashJoin") == 0  # dense chains: no matvec joins
    assert count_ops(df, "SortMergeJoin") == 0
    assert count_ops(df, "BatchEvalPython") == 0
    # both directions ride ONE 1-row broadcast (pc1 passes through chain 2)
    assert count_ops(df, "BroadcastNestedLoopJoin") == 1
    assert num_shuffles(df) == 0
    assert "ExistingRDD" in plan


def test_kl_drift_single_pass_both_splits(spark, qs):
    """x63: both splits' counts come from ONE conditional-sum aggregate
    (no half-vs-half self-join), the count frame is cached so the
    totals branch doesn't re-tokenize the corpus, and totals ride back
    as a 1-row broadcast."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["x63_token_kl_drift"](spark, SF)
    assert count_ops(df, "InMemoryTableScan") >= 2, "vocab counts not cached"
    assert count_ops(df, "SortMergeJoin") == 0
    assert count_ops(df, "BroadcastNestedLoopJoin") == 1  # 1-row totals only
    assert count_ops(df, "BatchEvalPython") == 0
    assert num_shuffles(df) <= 3
    assert has_partial_agg(df)


def test_matryoshka_broadcasts_query_batch_both_legs(spark, qs):
    """x60: both ranking legs are the x8 broadcast-crossJoin shape (the
    bounded query batch streams past the corpus twice); the corpus is
    never a join build side."""
    df = qs["x60_matryoshka_recall"](spark, SF)
    assert count_ops(df, "BroadcastNestedLoopJoin") >= 2
    # the overlap join broadcasts the bounded top-k side explicitly
    assert count_ops(df, "BroadcastHashJoin") >= 1
    assert count_ops(df, "SortMergeJoin") == 0


def test_poisson_bootstrap_single_replicate_exchange(spark, qs):
    """o14: the ×20 replicate fan-out is a broadcast crossJoin on the
    scan; the only shuffle is the partial-aggregated 20-group sum."""
    from big_data_project_spark.plans.contracts import has_partial_agg, num_shuffles

    df = qs["o14_poisson_bootstrap"](spark, SF)
    assert num_shuffles(df) == 1
    assert has_partial_agg(df)
    assert count_ops(df, "SortMergeJoin") == 0


def test_gap_fill_one_window_exchange_no_nested_loop(spark, qs):
    """b7: both anchor scans (prev/next) ride the same per-user sort —
    one fused Window node, no extra exchange between them — and the
    grid join is an equi-join, never a nested loop."""
    from big_data_project_spark.plans.contracts import num_shuffles

    df = qs["b7_gap_fill_interpolate"](spark, SF)
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0
    assert count_ops(df, "CartesianProduct") == 0
    # Spark fuses all four anchor frames into ONE Window node (same
    # partition/order spec) — a regression to per-frame windows would
    # multiply the node count
    assert count_ops(df, "Window") == 1
    assert num_shuffles(df) <= 5


def test_bpe_train_iterates_on_persisted_state(spark, qs):
    """x58: each merge generation re-reads the persisted word-frequency
    state (InMemoryTableScan reuse — the corpus tokenizes exactly once),
    every per-step argmax is a 1-row TakeOrdered, and no Python appears
    anywhere."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x58_bpe_train"](spark, SF)
    plan = plan_str(df, "simple")
    assert count_ops(df, "InMemoryTableScan") >= 3, "state generations not cached"
    assert "TakeOrderedAndProject" in plan
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0


def test_asof_nearest_is_windowed_merge_not_join(spark, qs):
    """j13: nearest-asof must run as the union + per-user sorted window
    merge — ZERO join operators anywhere (a per-row top-1 subjoin or
    range join would put |purchases|×|views| candidates in flight), and
    both anchor frames fused over one sort."""
    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = qs["j13_asof_nearest_join"](spark, SF)
    plan = plan_str(df, "simple")
    assert "Join" not in plan, "nearest-asof must not plan a join"
    assert count_ops(df, "Window") <= 2
    assert num_shuffles(df) <= 2  # union-side scans + the per-user sort


def test_triangle_count_bounded_joins_no_nested_loop(spark, qs):
    """x64: the wedge and closure probes must be SHUFFLE_HASH equi-joins
    (≥2 ShuffledHashJoin — a sort-merge would SORT the Σ outdeg²-row
    wedge stream, measured 1.7× slower at sf0.1; a nested-loop or
    cartesian anywhere means the orientation predicate fell out of the
    join condition and the plan went n²), the persisted oriented frame
    must actually be read from cache (≥2 InMemoryTableScan — wedge legs
    + closure probe), no Python crosses the boundary, and the top-20 is
    TakeOrderedAndProject, never a global sort."""
    from big_data_project_spark.plans.contracts import plan_str

    df = qs["x64_triangle_count"](spark, SF)
    text = plan_str(df, "simple")
    assert count_ops(df, "CartesianProduct") == 0
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0
    assert count_ops(df, "ShuffledHashJoin") >= 2
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    assert "TakeOrderedAndProject" in text
    assert text.count("InMemoryTableScan") >= 2


def test_lpa_communities_plan_contract(spark):
    """Prepped x65 (unregistered): the 3-round sync-LPA chain must stay a
    single lazy plan with the edge frame read from cache once per round
    plus the seed (4 InMemoryTableScan), argmax as aggregation (zero
    Window nodes), no Python, no cartesian, and a bounded exchange count
    — the weighted-edge build is ONE self-join pyramid (the explode
    symmetrization; a self-union doubles it) so the whole plan stays
    under 26 exchanges where the union form measured 34.  The r18 budget
    is 26, not 24: the cached edge frame is now pre-partitioned on the
    round-join key v (+2 one-time cache-build exchanges), which buys
    every round's |E|-side join exchange- and sort-free at scale."""
    from big_data_project_spark.pipeline.graph import lpa_communities
    from big_data_project_spark.plans.contracts import plan_str

    try:
        df = lpa_communities(spark, SF)
        text = plan_str(df, "simple")
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        assert count_ops(df, "Window") == 0
        assert text.count("InMemoryTableScan") == 4
        assert num_shuffles(df) <= 26, num_shuffles(df)
        assert "TakeOrderedAndProject" in text
    finally:
        spark.catalog.clearCache()


def test_domain_router_plan_contract(spark):
    """Prepped x66 (unregistered): the keyword map must broadcast (1
    BroadcastHashJoin — the fact side never shuffles for it), the
    unrouted backfill is the ONE id-keyed join of two |docs|-row integer
    frames (≤1 shuffle join, never a nested loop), the argmax is
    aggregation not Window, and the whole census is ≤6 exchanges
    (doc-domain votes, per-doc argmax, backfill join sides, domain
    census + output sort), all JVM-side."""
    from big_data_project_spark.pipeline.quality import domain_route_counts

    df = domain_route_counts(spark, SF)
    assert count_ops(df, "BroadcastHashJoin") == 1
    assert count_ops(df, "SortMergeJoin") + count_ops(df, "ShuffledHashJoin") <= 1
    assert count_ops(df, "BroadcastNestedLoopJoin") == 0
    assert count_ops(df, "CartesianProduct") == 0
    assert count_ops(df, "Window") == 0
    assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    assert num_shuffles(df) <= 6, num_shuffles(df)


def test_kcore_alive_chain_plan(spark):
    """Prepped x70: each peel sweep reads the PERSISTED previous alive
    frame (InMemoryTableScan per sweep — zero means the alive-delta
    caching broke and every sweep re-derives the whole chain), the
    1-row threshold joins as a broadcast (never a CartesianProduct),
    and the whole peel stays JVM-side."""
    from big_data_project_spark.pipeline.graph import kcore_census
    from big_data_project_spark.plans.contracts import plan_str

    df = kcore_census(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert text.count("InMemoryTableScan") >= 3
        assert count_ops(df, "BroadcastNestedLoopJoin") >= 1
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_zipf_topk_never_global_sorts_vocab(spark):
    """Prepped x71: the top-N frequency cut must plan as
    TakeOrderedAndProject (a distributed top-k) — a global Sort of the
    vocabulary would be the 100 TB scale-killer; the rank window runs
    once over the N-row result; the persisted count frame feeds both
    the fit and the vocab-size branch from cache; nothing crosses into
    Python."""
    from big_data_project_spark.pipeline.text import zipf_slope_fit
    from big_data_project_spark.plans.contracts import plan_str

    df = zipf_slope_fit(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "Window") == 1
        assert text.count("InMemoryTableScan") >= 2
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        assert count_ops(df, "CartesianProduct") == 0
    finally:
        spark.catalog.clearCache()


def test_levenshtein_verify_stays_bounded_plan(spark):
    """Prepped x72: candidates must come from the bounded LSH band join
    (never a cartesian n² — that is oracle-only), the quadratic
    Levenshtein runs on capped prefixes after the integer length prune,
    and nothing crosses into Python."""
    from big_data_project_spark.pipeline.dedup import levenshtein_verified_pairs
    from big_data_project_spark.plans.contracts import plan_str

    df = levenshtein_verified_pairs(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        assert "levenshtein" in text  # verification runs JVM-side
    finally:
        spark.catalog.clearCache()


def test_hits_broadcast_normalizers_plan(spark):
    """Prepped x73: each half-step's normalizing sum must ride back as
    a 1-row broadcast (never a shuffle or cartesian), the top-25 is
    TakeOrderedAndProject, and the whole recurrence stays JVM-side."""
    from big_data_project_spark.pipeline.graph import hits_authorities
    from big_data_project_spark.plans.contracts import plan_str

    df = hits_authorities(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert count_ops(df, "BroadcastNestedLoopJoin") >= 2
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_winnow_postings_join_bounded_plan(spark):
    """Prepped x74: the persisted fingerprint frame must feed the df
    census, both postings-join sides, and the totals from cache
    (InMemoryTableScan ≥ 4), the top-20 is TakeOrderedAndProject, and
    the whole selection stays JVM-side with no cartesian product."""
    from big_data_project_spark.pipeline.dedup import winnow_overlap_pairs
    from big_data_project_spark.plans.contracts import plan_str

    df = winnow_overlap_pairs(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert text.count("InMemoryTableScan") >= 4
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_cdc_census_partial_agg_plan(spark):
    """Prepped x75: chunking is a narrow per-row pass (no join at all —
    zero join nodes of any kind), the census partial-aggregates
    map-side before the single exchange, and the top-20 is
    TakeOrderedAndProject with nothing crossing into Python."""
    from big_data_project_spark.pipeline.dedup import cdc_dedup_census
    from big_data_project_spark.plans.contracts import plan_str

    df = cdc_dedup_census(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert "TakeOrderedAndProject" in text
        joins = sum(count_ops(df, op) for op in
                    ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                     "BroadcastNestedLoopJoin", "CartesianProduct"))
        assert joins == 0
        assert count_ops(df, "HashAggregate") >= 2  # partial + final
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_textrank_cached_edges_broadcast_n_plan(spark):
    """Prepped x76: every iteration reads the PERSISTED weighted edge
    frame (InMemoryTableScan per iteration), the vocabulary size rides
    as a 1-row broadcast, the top-15 is TakeOrderedAndProject, and the
    recurrence stays JVM-side."""
    from big_data_project_spark.pipeline.text import textrank_keywords
    from big_data_project_spark.plans.contracts import plan_str

    df = textrank_keywords(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert text.count("InMemoryTableScan") >= 2
        assert count_ops(df, "BroadcastNestedLoopJoin") >= 1
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_stratified_sample_group_limit_and_pruning_plan(spark):
    """Prepped x78: the per-stratum top-quota must engage Spark's
    WindowGroupLimit map-side prune, the quota frame joins as a
    broadcast, and column pruning keeps document text out of the scan
    entirely (ReadSchema carries only lang/doc_id)."""
    from big_data_project_spark.pipeline.quality import hash_stratified_sample
    from big_data_project_spark.plans.contracts import plan_str

    df = hash_stratified_sample(spark, SF)
    try:
        text = plan_str(df, "formatted")
        assert "WindowGroupLimit" in text
        assert count_ops(df, "BroadcastHashJoin") >= 1
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        import re

        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", text)
        assert schemas and all("text" not in s for s in schemas), schemas
    finally:
        spark.catalog.clearCache()


def test_gravity_trending_single_shuffle_plan(spark):
    """Prepped b7: the whole ranking is one partial-aggregated shuffle
    on user_id — no window functions, no joins of any kind — and the
    top-20 is TakeOrderedAndProject."""
    from big_data_project_spark.operators.behavior import gravity_trending_users
    from big_data_project_spark.plans.contracts import num_shuffles, plan_str

    df = gravity_trending_users(spark, SF)
    text = plan_str(df, "simple")
    assert "TakeOrderedAndProject" in text
    assert count_ops(df, "Window") == 0
    joins = sum(count_ops(df, op) for op in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"))
    assert joins == 0
    assert num_shuffles(df) <= 1
    assert count_ops(df, "HashAggregate") >= 2  # partial + final


def test_ahash_banded_join_plan(spark):
    """Prepped x79: the persisted hash frame feeds the band explode and
    both verify-join sides from cache (InMemoryTableScan ≥ 3 — the
    Arrow kernel runs ONCE), candidates come from the bounded band
    bucket join (no cartesian), and the hamming verify is a JVM
    zip_with fold (the only Python in the plan is the single Arrow
    hash kernel)."""
    from big_data_project_spark.pipeline.multimodal import ahash_near_dup_pairs
    from big_data_project_spark.plans.contracts import plan_str

    df = ahash_near_dup_pairs(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert text.count("InMemoryTableScan") >= 3
        assert count_ops(df, "CartesianProduct") == 0
        # the kernel is present, and EVERY occurrence sits under a
        # cached relation: plan text reprints the cache's plan once per
        # InMemoryRelation block, so an UNCACHED MapInPandas anywhere
        # (which would re-execute the kernel at runtime) shows up as
        # more MapInPandas occurrences than InMemoryRelation blocks
        assert count_ops(df, "MapInPandas") >= 1
        assert text.count("MapInPandas") == text.count("InMemoryRelation")
        assert "EvalPython" not in text  # no row-at-a-time Python either
    finally:
        spark.catalog.clearCache()


def test_ngram_novelty_shingle_reuse_plan(spark):
    """Prepped x80: the persisted exploded-shingle frame feeds both the
    df census and the join probe from cache (InMemoryTableScan ≥ 2),
    aggregations partial-aggregate (partial + final pairs), and the
    whole score stays JVM-side with no cartesian product."""
    from big_data_project_spark.pipeline.text import ngram_novelty_scores
    from big_data_project_spark.plans.contracts import plan_str

    df = ngram_novelty_scores(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert text.count("InMemoryTableScan") >= 2
        assert count_ops(df, "HashAggregate") >= 4
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_phrase_search_postings_filter_plan(spark):
    """Prepped x81: both adjacency-join sides read the PERSISTED
    two-term postings frame from cache (one corpus explode, pinned via
    InMemoryTableScan ≥ 2), no cartesian product, JVM-only, top-20 as
    TakeOrderedAndProject."""
    from big_data_project_spark.pipeline.text import phrase_search
    from big_data_project_spark.plans.contracts import plan_str

    df = phrase_search(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert text.count("InMemoryTableScan") >= 2
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_node2vec_wedge_shuffle_hash_plan(spark):
    """Prepped x85: both wedge-stream probes (the t→u→v join and the
    triangle-existence probe) must run as ShuffledHashJoin against the
    small persisted edge build side — sort-merge would SORT the Σ deg²
    wedge stream (the measured 1.7× x64 lesson) — with no cartesian and
    no Python in the plan."""
    from big_data_project_spark.pipeline.graph import node2vec_transition_census

    df = node2vec_transition_census(spark, SF)
    try:
        assert count_ops(df, "ShuffledHashJoin") >= 2
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        assert count_ops(df, "HashAggregate") >= 2  # partial + final census
    finally:
        spark.catalog.clearCache()


def test_deepwalk_walk_chain_plan(spark):
    """Prepped x86: the top-20 pair census must run as
    TakeOrderedAndProject (never a global sort), the per-step argmin
    pick is a rank-1 window prune, and nothing in the chain is a
    cartesian or a Python eval."""
    from big_data_project_spark.pipeline.graph import (
        _DW_STEPS, deepwalk_positive_pairs,
    )
    from big_data_project_spark.plans.contracts import plan_str

    df = deepwalk_positive_pairs(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "Window") >= _DW_STEPS  # one pick per hop
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_negative_sampling_topk_and_pruning_plan(spark):
    """Prepped x87: the top-K vocabulary must run as
    TakeOrderedAndProject (never a global sort of the vocabulary), the
    K-row window stage sits above it, and column pruning keeps every
    documents column except text out of the scan."""
    import re

    from big_data_project_spark.pipeline.text import negative_sampling_table
    from big_data_project_spark.plans.contracts import plan_str

    df = negative_sampling_table(spark, SF)
    try:
        text = plan_str(df, "formatted")
        assert "TakeOrderedAndProject" in text
        assert count_ops(df, "Window") >= 1
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", text)
        assert schemas and all(s == "text:string" for s in schemas), schemas
    finally:
        spark.catalog.clearCache()


def test_deepwalk_step_frames_are_persisted(spark):
    """Prepped x86's diamond defense: each walk step's frame is read
    twice (the next hop AND the final visit union), so every step must
    persist — the plan shows at least _DW_STEPS InMemoryTableScans
    (step frames reused from cache) plus the persisted edge frame.
    Without the persists each step's lineage re-executes once per
    consumer and the visit union's cost doubles per hop (the BFS/x43
    diamond lesson)."""
    from big_data_project_spark.pipeline.graph import (
        _DW_STEPS, deepwalk_positive_pairs,
    )

    df = deepwalk_positive_pairs(spark, SF)
    try:
        df.count()  # persists fill on the first action
        assert count_ops(df, "InMemoryTableScan") >= _DW_STEPS + 1, (
            "persisted walk-step frames not reused"
        )
    finally:
        spark.catalog.clearCache()


def test_knn_graph_walks_plan(spark):
    """x89's chain plan: top-20 compiles to TakeOrderedAndProject
    (never a global sort), the NN-descent rounds arrive as checkpointed
    ExistingRDD leaves (not a re-planned recurrence diamond), the
    per-step walk frames persist (InMemoryTableScans ≥ steps + the
    symmetrized edge frame), and nothing is cartesian or Python-eval."""
    from big_data_project_spark.pipeline.graph import (
        _DW_STEPS, knn_graph_walk_pairs,
    )
    from big_data_project_spark.plans.contracts import plan_str

    with scope(spark):  # the chain localCheckpoints per round
        df = knn_graph_walk_pairs(spark, SF)
        text = plan_str(df, "formatted")
        assert "TakeOrderedAndProject" in text
        assert "Scan ExistingRDD" in text, "k-NN frame not a checkpoint leaf"
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        df.count()  # persists fill on the first action
        assert count_ops(df, "InMemoryTableScan") >= _DW_STEPS + 1, (
            "persisted walk-step frames not reused"
        )


def test_skipgram_batch_plan(spark):
    """x91's composition plan: the negative-interval lookup joins the
    ≤64-row cumulative table as a BROADCAST nested-loop (a range
    predicate on a broadcast side — never a shuffle, never a
    CartesianProduct), both bounded selections (top-50 batch, top-64
    vocabulary) compile to TakeOrderedAndProject, the walk-step frames
    persist and are REUSED by both consumers (census + frequency table:
    InMemoryTableScans ≥ 2·steps since each step frame feeds two reads
    beyond the next hop), and the batch→output path adds NO Exchange
    after the top-50 selection — the negative leg never shuffles the
    pair stream (VERDICT r13 #4's done-bar)."""
    from big_data_project_spark.pipeline.graph import (
        _DW_STEPS, skipgram_training_batch,
    )
    from big_data_project_spark.plans.contracts import plan_str

    df = skipgram_training_batch(spark, SF)
    try:
        text = plan_str(df, "simple")
        assert count_ops(df, "BroadcastNestedLoopJoin") >= 1
        assert "BuildRight" in text or "BuildLeft" in text
        assert count_ops(df, "CartesianProduct") == 0
        assert text.count("TakeOrderedAndProject") >= 2
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
        # the BNLJ's probe branch prints first (":-"): between the join
        # and the batch's top-50 TakeOrderedAndProject there must be no
        # Exchange — draws flow from the bounded batch straight into the
        # broadcast interval lookup.  (Join/shuffle COUNTS are not
        # compared against x86: cached-lineage plans reprint their child
        # plans per InMemoryRelation, so raw op counts over-count — the
        # x90 num_shuffles lesson.)
        probe = text.split("BroadcastNestedLoopJoin", 1)[1].split(
            "TakeOrderedAndProject(limit=50", 1
        )[0]
        assert "Exchange" not in probe, (
            "negative leg added a shuffle over the pair stream"
        )
        df.count()  # persists fill on the first action
        assert count_ops(df, "InMemoryTableScan") >= 2 * _DW_STEPS, (
            "walk-step frames not shared between census and frequency table"
        )
    finally:
        spark.catalog.clearCache()


def test_nn_descent_topk_window_group_limit_plan(spark):
    """x88's per-round ranking: the constant rank bound must compile to
    a WindowGroupLimit (map-side per-node top-k prune before the
    window exchange), with the cosine fold JVM-side — no Python eval
    and no cartesian anywhere in the scoring plan."""
    from pyspark.sql import functions as F

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.similarity import _nnd_topk
    from big_data_project_spark.plans.contracts import plan_str

    e = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cand = (
        e.select(F.col("vec_id").alias("a"))
        .join(e.select(F.col("vec_id").alias("b")), F.col("a") != F.col("b"))
        .limit(1000)
        .select("a", "b")
    )
    df = _nnd_topk(cand, e)
    try:
        assert "WindowGroupLimit" in plan_str(df, "formatted")
        assert count_ops(df, "CartesianProduct") == 0
        assert count_ops(df, "BatchEvalPython") + count_ops(df, "ArrowEvalPython") == 0
    finally:
        spark.catalog.clearCache()


def test_nn_descent_round_single_candidate_exchange(spark):
    """r19 x88 pin: one NN-descent round's candidate set pays exactly ONE
    hash exchange — the repartition on the window key — with the dedup
    aggregate riding that layout (HashAggregate keys [a, b] directly on
    the REPARTITION_BY_NUM exchange, no exchange of its own).  The
    pre-r19 shape (.distinct() + spread) paid two; a regression shows up
    as a 4th hashpartitioning exchange in the round plan (2 are the
    expand join's mid legs)."""
    import re

    from pyspark.sql import functions as F

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.similarity import (
        _nnd_expand, _nnd_topk, _unit_normalize,
    )

    e = _unit_normalize(
        load_table(spark, SF, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    ).persist()
    try:
        cur = _nnd_topk(
            e.select(F.col("vec_id").alias("a"))
            .join(e.select(F.col("vec_id").alias("b")), F.col("a") != F.col("b"))
            .limit(500)
            .select("a", "b"),
            e,
        ).localCheckpoint()
        plan = (
            _nnd_topk(_nnd_expand(cur), e, dedup=True)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 3, plan.count(
            "Exchange hashpartitioning"
        )
        # the dedup aggregate sits directly on the spread exchange
        assert re.search(
            r"HashAggregate\(keys=\[a#\d+L, b#\d+L\][^\n]*\n"
            r"[^\n]*HashAggregate\(keys=\[a#\d+L, b#\d+L\][^\n]*\n"
            r"[^\n]*Exchange hashpartitioning\(a#\d+L, \d+\), REPARTITION_BY_NUM",
            plan,
        ), "candidate dedup no longer rides the scoring layout"
    finally:
        spark.catalog.clearCache()


def test_triangle_oriented_cache_is_src_partitioned(spark):
    """r19 x64 pin: the persisted oriented-edge frame is built
    hash(src)-partitioned (REPARTITION_BY_NUM on src inside the cached
    plan), so once materialized both wedge legs read the cache with no
    exchange (AQE runtime evidence: plans/r19/x64_runtime_wedge_probe).
    Dropping the repartition silently re-adds two |E| exchanges per
    execution."""
    import re

    from big_data_project_spark.pipeline.graph import _tri_frames

    try:
        tri, _deg = _tri_frames(spark, SF)
        plan = tri._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"Exchange hashpartitioning\(src#\d+L, \d+\), REPARTITION_BY_NUM",
            plan,
        ), "oriented cache lost its hash(src) layout"
    finally:
        spark.catalog.clearCache()


def test_nn_descent_norm_fold_runs_once_per_row(spark):
    """x88's unit-normalization: the L2 fold must evaluate once per ROW,
    not once per element.  CollapseProject inlines a single-use
    non-cheap alias into a lambda body, so the naive
    withColumn(norm)+transform(x/norm) two-step re-folds the norm per
    element (O(n·d²)) — verified on the optimized plan r12.  The fix
    routes the fold through array_repeat's element argument (evaluated
    exactly once per row); this pin fails if a refactor reintroduces
    the fold inside the division lambda."""
    import re

    from pyspark.sql import functions as F

    from big_data_project_spark.io import load_table
    from big_data_project_spark.pipeline.similarity import _unit_normalize

    # pin the SAME helper the product path (_nnd_round_frames) calls,
    # so a reformulation there cannot silently outdate this test
    e = _unit_normalize(
        load_table(spark, SF, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    plan = e._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1, "norm fold duplicated in the plan"
    assert re.search(r"array_repeat\(SQRT\(aggregate\(", plan), (
        "fold not anchored inside array_repeat — it would re-run per element"
    )
    # the division lambda itself must be fold-free
    zw = plan[plan.index("zip_with") :]
    lam = zw[zw.rindex("lambdafunction") :]
    assert "aggregate(" not in lam


def test_per_element_hoists_hold(spark):
    """r12 sweep pins: an expensive outer expression inside a
    higher-order-function lambda re-evaluates per ELEMENT.  The two
    fixed sites must keep their hoisted shape in the optimized plan —
    x15's O(d) array_max scale rides array_repeat's element argument
    (once per row), and x75's O(n) CDC boundary array is consumed via
    two slices zip_with'd (twice per row), never element_at-indexed
    from inside a transform-over-sequence."""
    from big_data_project_spark import registry

    registry.load()

    p15 = (
        registry.QUERIES["x15_embedding_quantize"](spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
        .replace(" ", "")
    )
    assert "array_repeat(array_max(" in p15, (
        "x15 scale no longer hoisted — it would re-fold per element"
    )

    p75 = (
        registry.QUERIES["x75_cdc_chunk_dedup"](spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
        .replace(" ", "")
    )
    assert "zip_with(slice(concat" in p75, (
        "x75 boundary array no longer consumed via sliced zip_with — "
        "an element_at-in-lambda formulation rebuilds it per chunk"
    )
    spark.catalog.clearCache()


def test_nn_descent_census_plan_is_lineage_truncated(spark):
    """x88's diamond defense: every round's k-NN frame feeds four
    consumers (sym ×2, candidate union, census, recall join), so each
    round must localCheckpoint — the census plan then builds on
    ExistingRDD leaves (one per round plus the exact frame) and stays
    BOUNDED.  The un-truncated variant measured 2757 Exchanges in the
    formatted plan at sf0.1 (51 s wall); truncated it is ~56 (10 s).
    A re-planned diamond here is the exponential-logical-plan
    pathology of the r09 BFS finding."""
    from big_data_project_spark.pipeline.similarity import (
        _NND_ROUNDS, nn_descent_knn_graph,
    )
    from big_data_project_spark.plans.contracts import plan_str

    with scope(spark):  # the rounds localCheckpoint
        df = nn_descent_knn_graph(spark, SF)
        text = plan_str(df, "formatted")
        assert text.count("Scan ExistingRDD") >= _NND_ROUNDS + 2, (
            "round frames are not checkpointed leaves"
        )
        assert text.count("Exchange") < 120, "census plan re-plans the diamond"
        assert len(text) < 120_000, "plan string grew past the truncation bound"
        assert count_ops(df, "CartesianProduct") == 0


def test_prune_cached_subtrees_text_semantics():
    """The pruner drops exactly the deeper-indented block under each
    InMemoryRelation line (the cache's one-time build lineage) and
    keeps everything else — including the InMemoryTableScan leaf above
    it and siblings at or left of the relation's own depth."""
    from big_data_project_spark.plans.contracts import prune_cached_subtrees

    text = "\n".join([
        "AdaptiveSparkPlan",
        "+- HashAggregate",
        "   +- Exchange hashpartitioning(a)",
        "      +- InMemoryTableScan [a]",
        "            +- InMemoryRelation [a]",
        "                  +- Exchange hashpartitioning(hidden)",
        "                     +- FileScan parquet",
        "      +- Project",  # same depth as the table scan: resumes
        "+- Exchange rangepartitioning(b)",
    ])
    pruned = prune_cached_subtrees(text)
    assert "hidden" not in pruned
    assert "FileScan" not in pruned
    assert "InMemoryRelation" in pruned  # the node itself stays
    assert "InMemoryTableScan" in pruned
    assert pruned.count("Exchange") == 2  # (a) and (b); zero from the pruned block
    assert pruned.count("Exchange hashpartitioning(a)") == 1
    assert pruned.count("Exchange rangepartitioning(b)") == 1


def test_prune_cached_subtrees_blank_line_inside_lineage():
    """A blank/whitespace-only line inside a reprinted cache lineage
    must NOT end the skip (ADVICE r14): blank lines carry no depth
    signal, so the pruner drops them and keeps skipping until a
    non-blank line at or left of the InMemoryRelation's depth."""
    from big_data_project_spark.plans.contracts import prune_cached_subtrees

    text = "\n".join([
        "AdaptiveSparkPlan",
        "   +- InMemoryTableScan [a]",
        "         +- InMemoryRelation [a]",
        "               +- Exchange hashpartitioning(hidden1)",
        "",                                   # blank INSIDE the lineage
        "               +- Exchange hashpartitioning(hidden2)",
        "   ",                                # whitespace-only, still inside
        "                  +- FileScan parquet",
        "   +- Exchange rangepartitioning(kept)",  # resumes at shallower depth
    ])
    pruned = prune_cached_subtrees(text)
    assert "hidden1" not in pruned
    assert "hidden2" not in pruned
    assert "FileScan" not in pruned
    assert pruned.count("Exchange") == 1
    assert "kept" in pruned


def test_skipgram_batch_steady_shuffles(spark):
    """x91's steady-state shuffle budget via the cache-pruned counter:
    the raw text count is inflated ~60× by reprinted walk-step cache
    lineage (244 at sf0.001), while the pruned count pins the REAL
    exchanges — the pair-census aggregate, the two sides of the
    wid-keyed census self-join, and the node-frequency aggregate.  The
    negative leg must add NONE of them (its table broadcasts).  This is
    the count-based form of the probe-path pin above, now possible on a
    cached-lineage plan (the r13 num_shuffles caveat, closed r14)."""
    from big_data_project_spark.pipeline.graph import skipgram_training_batch
    from big_data_project_spark.plans.contracts import (
        num_shuffles, num_shuffles_steady,
    )

    df = skipgram_training_batch(spark, SF)
    try:
        steady = num_shuffles_steady(df)
        assert steady <= 5, steady
        assert num_shuffles(df) > 10 * steady, (
            "raw count no longer inflated — cached lineage gone? "
            "re-examine whether the steady counter is still needed"
        )
    finally:
        spark.catalog.clearCache()


def test_iterative_family_steady_shuffle_budgets(spark):
    """Steady-state shuffle budgets for the persist/checkpoint-lineage
    family, pinned via the cache-pruned counter (raw text counts are
    inflated 3-80× by reprinted cache lineage on these).  A lost
    broadcast (teleport, negative table, dim), a dropped persist that
    re-plans a subtree, or an iteration that grew an extra exchange
    moves these counts by whole units — the regression classes the
    bench demonstrators only catch as wall-time drift.  Bounds carry
    one unit of headroom over the measured sf0.001 values; x43's
    star-contraction round count is data-dependent, so it gets more.
    x90 is deliberately absent: its UN-persisted diamond subtrees
    reprint per reference and the pruned count still over-reads
    (ADVICE r14) — its pins stay shape-based."""
    from big_data_project_spark import registry
    from big_data_project_spark.plans.contracts import num_shuffles_steady

    registry.load()
    budgets = {
        "x51_pagerank": 13,            # measured 12: edge build + 3×(join+agg) + top-k
        "x43_largestar_components": 6, # measured 3 at sf0.001 (fixpoint rounds vary with data)
        "x65_lpa_communities": 11,     # measured 10: 3×(vote+adopt) + census
        "x67_personalized_pagerank": 9,  # measured 8: broadcast teleport adds ZERO over x51's cadence
        "x68_khop_bfs": 3,             # measured 2: per-round frontiers live in checkpoint leaves
        "x64_triangle_count": 7,       # measured 6: degree join + oriented wedge join + census
        "x86_deepwalk_pairs": 4,       # measured 3: census join + aggregate over persisted steps
        "x7_minhash_neardup_pairs": 2, # measured 1: the band-key self-join is the ONLY wide op
        "pipeline_curation_end2end": 5,  # measured 5: metadata gates + the x7 band join
    }
    for name, budget in budgets.items():
        df = registry.QUERIES[name](spark, SF)
        try:
            steady = num_shuffles_steady(df)
            assert steady <= budget, (name, steady, budget)
        finally:
            spark.catalog.clearCache()


def test_sgns_step_plan(spark):
    """x92's training-step plan (VERDICT r14 #4's done-bar): the
    example/gradient frames BROADCAST into every downstream join (the
    batch is bounded by construction), each gradient fold is EXACTLY
    one partial+final aggregate exchange keyed (node, k), no Python
    touches the gradient fold, and no sort-merge join or cartesian
    appears anywhere in the steady-state plan.  Also pins the lineage
    TRUNCATION at the examples frame: before the localCheckpoint, the
    walk chain reprinted under every downstream cache reference and the
    plan STRING alone (7339 raw Exchanges at sf0.001) OOMed a
    default-1g driver inside SQLExecution's explain rendering — the
    bound here fails if a lineage leak ever regrows the tree."""
    import re

    from big_data_project_spark.pipeline.graph import sgns_train_step
    from big_data_project_spark.plans.contracts import (
        num_shuffles, num_shuffles_steady, plan_str, prune_cached_subtrees,
    )

    df = sgns_train_step(spark, SF)
    try:
        raw = plan_str(df, "simple")
        assert len(raw) < 120_000, "x92 plan string regrew — lineage leak"
        text = prune_cached_subtrees(raw)

        def n(op):
            return len(re.findall(rf"\b{op}\b", text))

        assert n("SortMergeJoin") == 0
        assert n("CartesianProduct") == 0
        assert n("BatchEvalPython") + n("ArrowEvalPython") == 0, (
            "Python leaked into the gradient fold"
        )
        assert n("BroadcastHashJoin") >= 4  # 2 gradient joins + 2 update joins
        # ONE partial-agg exchange per gradient fold (in + out), nothing else
        assert len(re.findall(r"Exchange hashpartitioning", text)) == 2
        assert text.count("partial_sum") == 2
        steady = num_shuffles_steady(df)
        assert steady <= 4, steady  # 2 gradient folds + the output sort
        assert num_shuffles(df) <= 20  # checkpoint keeps the raw tree small
    finally:
        spark.catalog.clearCache()


def test_sgns_epoch_plan_constant_in_steps(spark):
    """x93's scale claim (PREPPED r15): the OUTPUT plan stays
    constant-size in the number of training steps because each step's
    updated matrices localCheckpoint (the ADVICE r15 rule) — a 3-step
    plan must not be materially larger than a 1-step plan, and the
    trajectory join must broadcast (the checkpoint leaves carry no
    stats, so an unhinted join would sort-merge).  Without the per-step
    truncation the step recurrence reprints every prior step under each
    of the next step's four consumers and the explain string grows
    geometrically — the x92 default-1g-driver OOM class."""
    import re

    from big_data_project_spark.pipeline.graph import sgns_train_epoch
    from big_data_project_spark.plans.contracts import (
        num_shuffles_steady, plan_str, prune_cached_subtrees,
    )

    with scope(spark):
        len1 = len(plan_str(sgns_train_epoch(spark, SF, steps=1), "simple"))
        df3 = sgns_train_epoch(spark, SF, steps=3)
        raw3 = plan_str(df3, "simple")
        assert len(raw3) < 40_000, "epoch plan no longer constant-size"
        assert len(raw3) < int(len1 * 1.8), (len1, len(raw3))
        text = prune_cached_subtrees(raw3)
        assert len(re.findall(r"\bSortMergeJoin\b", text)) == 0
        assert len(re.findall(r"\bCartesianProduct\b", text)) == 0
        assert (
            len(re.findall(r"\bBatchEvalPython\b|\bArrowEvalPython\b", text))
            == 0
        )
        assert len(re.findall(r"\bBroadcastHashJoin\b", text)) >= 6
        assert num_shuffles_steady(df3) <= 2  # only the output sort survives


def test_sgns_metrics_plan(spark):
    """x94's evaluation plan (registered r17): the pre-update points
    0..steps-1 read each step's PERSISTED gd frame (ADVICE r16 — the
    step already computed the identical dots), so after pruning cached
    subtrees the only live dots chain is the post-epoch one — both its
    probes BROADCAST joins even against the localCheckpoint leaves
    (the batch-bounded ex-side intermediate carries the hint — an
    unhinted probe sort-merged the vocab×dim side), zero Python
    anywhere, no cartesian, and the plan string stays inside the x92
    default-1g-driver bound.  The per-point global aggregates are
    partial+final (SinglePartition exchanges), so at a real vocabulary
    the metric fold ships 32 partial rows, not the dots frame."""
    import re

    from big_data_project_spark.pipeline.graph import sgns_epoch_metrics
    from big_data_project_spark.plans.contracts import (
        num_shuffles_steady, plan_str, prune_cached_subtrees,
    )

    with scope(spark):
        df = sgns_epoch_metrics(spark, SF)
        raw = plan_str(df, "simple")
        assert len(raw) < 60_000, "x94 plan string regrew — lineage leak"
        text = prune_cached_subtrees(raw)
        assert len(re.findall(r"\bSortMergeJoin\b", text)) == 0
        assert len(re.findall(r"\bCartesianProduct\b", text)) == 0
        assert (
            len(re.findall(r"\bBatchEvalPython\b|\bArrowEvalPython\b", text))
            == 0
        )
        # only the post-epoch point builds a fresh dots chain (ex⋈vin,
        # then ⋈vout), both broadcast; points 0..1 scan cached gd
        assert len(re.findall(r"\bBroadcastHashJoin\b", text)) == 2
        # one partial+final global agg per evaluation point
        assert len(re.findall(r"Exchange SinglePartition", text)) == 3
        assert num_shuffles_steady(df) <= 6


def test_sgns_adam_epoch_plan_constant_in_steps(spark):
    """x95's scale claim (prepped r16): the per-step Adam state
    localCheckpoints, so the OUTPUT plan is nothing but the broadcast
    trajectory joins over checkpoint leaves — constant-size in the
    step count (measured 7.8 KB at 1 step vs 9.4 KB at 2), zero
    Python, zero sort-merge, zero hashpartitioning exchange (the
    gradient folds live behind the leaves), and ≤1 steady shuffle
    (the output sort).  The optimizer adds NO exchange over x93's
    SGD: moments shard with their weights on (node, k)."""
    import re

    from big_data_project_spark.pipeline.graph import sgns_adam_epoch
    from big_data_project_spark.plans.contracts import (
        num_shuffles_steady, plan_str, prune_cached_subtrees,
    )

    with scope(spark):
        len1 = len(plan_str(sgns_adam_epoch(spark, SF, steps=1), "simple"))
        df3 = sgns_adam_epoch(spark, SF, steps=3)
        raw3 = plan_str(df3, "simple")
        assert len(raw3) < 40_000, "Adam epoch plan no longer constant-size"
        assert len(raw3) < int(len1 * 1.8), (len1, len(raw3))
        text = prune_cached_subtrees(raw3)
        assert len(re.findall(r"\bSortMergeJoin\b", text)) == 0
        assert len(re.findall(r"\bCartesianProduct\b", text)) == 0
        assert (
            len(re.findall(r"\bBatchEvalPython\b|\bArrowEvalPython\b", text))
            == 0
        )
        assert len(re.findall(r"Exchange hashpartitioning", text)) == 0
        assert len(re.findall(r"\bBroadcastHashJoin\b", text)) >= 6
        assert num_shuffles_steady(df3) <= 2  # only the output sort survives


def test_read_dataset_split_plan(spark):
    """The read_dataset composition's plan: the npz
    corpus streams through exactly ONE Arrow decode pass (the only
    Python), the per-patch stats broadcast back into the cell-level
    impute join (never sort-merged), and the split is a pure
    projection — the ingest pays its two aggregation exchanges and
    nothing else."""
    import re

    from big_data_project_spark.plans.contracts import (
        num_shuffles_steady, plan_str,
    )
    from big_data_project_spark.sources.formats import read_dataset_split

    from big_data_project_spark.plans.contracts import prune_cached_subtrees

    df = read_dataset_split(spark, SF)
    text = plan_str(df, "simple")
    # both consumers (stats agg + impute join) read the PERSISTED
    # decode — an unpersisted fan-out ran the Arrow pass twice
    assert text.count("InMemoryTableScan") == 2
    pruned = prune_cached_subtrees(text)
    assert pruned.count("MapInPandas") == 0  # decode only inside the cache
    assert len(re.findall(r"\bSortMergeJoin\b", pruned)) == 0
    assert len(re.findall(r"\bCartesianProduct\b", pruned)) == 0
    assert len(re.findall(r"\bBroadcastHashJoin\b", pruned)) >= 1
    assert num_shuffles_steady(df) <= 5  # measured 3 at sf0.001


def test_sgns_train_and_evaluate_report_plan(spark):
    """The full-fidelity trainer's report plan: all
    three sinks — metrics log, kept optimizer-state checkpoints, gated
    prediction snapshots — read back as pure parquet scans with the
    training lineage fully decoupled; zero Python, no sort-merge, and
    a plan string with no training echo."""
    import re

    from big_data_project_spark.pipeline.graph import sgns_train_and_evaluate
    from big_data_project_spark.plans.contracts import (
        num_shuffles_steady, plan_str, prune_cached_subtrees,
    )

    with scope(spark):
        df = sgns_train_and_evaluate(spark, SF)
        raw = plan_str(df, "simple")
        assert len(raw) < 30_000, "report plan dragged the training lineage"
        text = prune_cached_subtrees(raw)
        assert len(re.findall(r"\bSortMergeJoin\b", text)) == 0
        assert len(re.findall(r"\bCartesianProduct\b", text)) == 0
        assert (
            len(re.findall(r"\bBatchEvalPython\b|\bArrowEvalPython\b", text))
            == 0
        )
        # all three legs are parquet scans of the sinks
        assert len(re.findall(r"Scan parquet", text)) == 3
        assert num_shuffles_steady(df) <= 8


def test_main_ingest_to_training_plans(spark):
    """The main() composition's plan contracts: (1) the
    ingest leg decodes in EXACTLY one Arrow pass (a single MapInPandas
    over the binary shard scan) with the impute stats broadcast back
    — no sort-merge, no cartesian; (2) the returned report plan is the
    capstone's shape — three parquet sink scans, training lineage
    fully decoupled, zero Python."""
    import re

    from big_data_project_spark.pipeline.graph import (
        _patch_batch_frames, main_ingest_to_training,
    )
    from big_data_project_spark.plans.contracts import (
        num_shuffles_steady, plan_str, prune_cached_subtrees,
    )

    with scope(spark):
        pairs, resolved = _patch_batch_frames(spark)
        ptext = prune_cached_subtrees(plan_str(pairs, "simple"))
        rtext = prune_cached_subtrees(plan_str(resolved, "simple"))
        for text in (ptext, rtext):
            # the persisted cells frame is the one decode site; pruning
            # cached subtrees leaves no second MapInPandas anywhere
            assert len(re.findall(r"\bMapInPandas\b", text)) <= 1
            assert len(re.findall(r"\bCartesianProduct\b", text)) == 0
            assert len(re.findall(r"\bSortMergeJoin\b", text)) == 0
        # the negative resolution broadcasts the interval table
        assert len(re.findall(r"\bBroadcastNestedLoopJoin\b", rtext)) == 1

    with scope(spark):
        df = main_ingest_to_training(spark, SF)
        raw = plan_str(df, "simple")
        assert len(raw) < 30_000, "report plan dragged the training lineage"
        text = prune_cached_subtrees(raw)
        assert len(re.findall(r"\bSortMergeJoin\b", text)) == 0
        assert len(re.findall(r"\bCartesianProduct\b", text)) == 0
        assert (
            len(re.findall(r"\bBatchEvalPython\b|\bArrowEvalPython\b", text))
            == 0
        )
        assert len(re.findall(r"Scan parquet", text)) == 3
        assert num_shuffles_steady(df) <= 8


def test_q2_q11_partsupp_plans(spark):
    """The synthetic-partsupp pair, run through their registered entry
    points; both must return rows at this tier.  Q2: the
    correlated min-cost subquery must decorrelate — zero cartesian
    products, and every nested-loop join in the plan can only be one of
    the constant-size generator sides (the 1-row supplier count / 4-row
    VALUES stride); the ORDER BY + LIMIT 100 must execute as
    TakeOrderedAndProject, never a materialized global sort.  Q11: the
    per-part agg is partial→final, the global (t, g) threshold joins
    back as a one-row broadcast — the fact chain is never scanned per
    group."""
    import re

    from big_data_project_spark.plans.contracts import plan_str

    qs = all_queries()
    q2 = qs["sql_q2_min_cost_supplier"](spark, SF)
    assert q2.count() > 0
    t2 = plan_str(q2, "simple")
    assert count_ops(q2, "CartesianProduct") == 0
    assert "TakeOrderedAndProject" in t2, t2[:2000]
    # the decorrelated min-cost match is an equi-join, so SOME hash or
    # sort-merge join on ps_partkey must exist
    assert count_ops(q2, "SortMergeJoin") + count_ops(q2, "BroadcastHashJoin") >= 1
    # nested-loop joins exist ONLY as the generator's Cross joins (the
    # 1-row supplier count / 4-row VALUES stride are the only cross-join
    # inputs in the text).  A BNLJ typed Inner/LeftOuter would mean the
    # decorrelated min-cost match itself degraded to a nested loop.
    for line in t2.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line

    q11 = qs["sql_q11_important_stock"](spark, SF)
    assert count_ops(q11, "CartesianProduct") == 0
    assert has_partial_agg(q11)
    # static plan: the grouped CTE appears under BOTH its consumers (the
    # classic Q11 double reference) — 2× scnt agg + 2× ps_partkey agg +
    # tot agg + final sort = 6 shuffle exchanges, no more
    assert num_shuffles(q11) <= 6, num_shuffles(q11)
    # runtime contract: AQE must collapse the duplicated ps_partkey agg
    # exchange via reuse, so the fact-side aggregation executes ONCE
    assert q11.collect()
    executed = q11._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
