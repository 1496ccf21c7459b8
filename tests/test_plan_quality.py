"""Physical-plan regression tests — the 100 TB guarantees, asserted.

Correctness tests prove the operators compute the right answer; these
prove Catalyst compiles them to the plans that survive a 1000-executor
scale-up: predicate pushdown into the parquet scan, column pruning,
broadcast (not shuffle) joins for dimensions, semi-joins for has_child,
map-side partial aggregation, and top-k without a global sort."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from adv_big_data_indexing_spark.contract import registry
from tests.conftest import SF_CORRECTNESS


def plan_of(spark, name: str) -> str:
    df = registry()[name].fn(spark, SF_CORRECTNESS)
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter(spark):
    p = plan_of(spark, "op_a1_point_lookup")
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)]" in p


def test_projection_prunes_columns(spark):
    p = plan_of(spark, "op_b5_projection")
    # scan reads exactly the 3 projected columns, not all 6
    assert "FileScan parquet [p_partkey" in p
    assert "p_brand" not in p and "p_size" not in p


def test_range_predicate_pushes(spark):
    p = plan_of(spark, "op_b4_range_predicate")
    assert "LessThan(l_quantity,3.0)" in p


def test_has_child_is_broadcast_semi_join(spark):
    p = plan_of(spark, "op_c2_has_child_eq")
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # the child-side predicate reached the child scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in p


def test_anti_join_physical(spark):
    p = plan_of(spark, "ext_join_anti")
    assert "LeftAnti" in p


def test_star_join_broadcasts_both_dims(spark):
    p = plan_of(spark, "ext_join_broadcast_star")
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p
    # aggregation is partial (map-side) then final — one small exchange
    assert "partial_count" in p


def test_groupby_has_partial_aggregation(spark):
    p = plan_of(spark, "ext_agg_groupby")
    assert "partial_sum" in p


def test_topk_avoids_global_sort(spark):
    p = plan_of(spark, "ext_topk_orderby")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no full sort-shuffle


def test_whole_stage_codegen_active(spark):
    # AQE hides codegen stages until the final plan exists — materialize
    df = registry()["ext_agg_groupby"].fn(spark, SF_CORRECTNESS)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # the "*(n)" operator prefix marks whole-stage-codegen stages
    assert "isFinalPlan=true" in p and "*(" in p


def test_reconstruct_flat_single_join_pushdown(spark):
    p = plan_of(spark, "op_c1_reconstruct_flat")
    # orderkey < 100 pushed to BOTH sides (join-predicate inference)
    assert p.count("LessThan(o_orderkey,100)") == 1
    assert "LessThan(l_orderkey,100)" in p


def test_minhash_is_single_pipeline(spark):
    # Since the r6 tiered bucket cap, the plan contains a (usually-empty)
    # hot-bucket self-join branch — but every branch must REUSE the one
    # signature-build pipeline: after execution, the adaptive plan holds
    # exactly 4 materialized shuffle stages (spread round-robin, per-doc
    # signature agg, band window, final distinct), shared by all
    # consumers. A reuse miss shows up as extra stage ids (measured 6
    # scans / 10× wall when a count+join-back broke canonical equality).
    import re

    df = registry()["ns_dedup_minhash_lsh"].fn(spark, SF_CORRECTNESS)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", p))
    assert len(stages) <= 5, f"reuse miss: {sorted(stages)}"
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # hot tier joins hash/broadcast on band key


def test_q3_topk_and_pushdown(spark):
    p = plan_of(spark, "ext_tpch_q3_shape")
    # top-10 never materializes a global sort, both dims broadcast, and
    # every filter reaches its parquet scan
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastHashJoin") == 2
    assert "GreaterThan(l_shipdate" in p
    assert "LessThan(o_orderdate" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_bloom_probe_is_bitmap_not_linear_scan(spark):
    p = plan_of(spark, "ext_bloom_semijoin")
    # the probe must be O(1) element_at + mask, never a per-row linear
    # array_contains over the position list
    assert "array_contains" not in p
    assert "GreaterThan(o_totalprice,450000.0)" in p


def test_fuzzy_join_blocks_on_equi_keys(spark):
    p = plan_of(spark, "ext_fuzzy_join_levenshtein")
    # blocking keys make it an equi-join: no cartesian / nested-loop
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_salted_join_spreads_hot_keys(spark):
    p = plan_of(spark, "ext_skew_salted_join")
    # the hint must hold (a broadcast would make the salt decorative),
    # and the join keys must include the salt so each hot key hashes to
    # SALT_BUCKETS distinct reducers
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p
    assert "salt" in p


def test_reservoir_sample_is_takeordered(spark):
    p = plan_of(spark, "ns_reservoir_sample")
    # exact-k sample must be per-partition top-k + k-row merge,
    # never a global sort
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_top_terms_ranks_vocab_not_tokens(spark):
    p = plan_of(spark, "ns_text_top_terms")
    # the window reads the aggregated (lang, term) counts: partial
    # aggregation below the exchange, window above it
    assert "partial_count" in p or "HashAggregate" in p
    assert "Window" in p


def test_phrase_search_probe_not_scan(spark):
    p = plan_of(spark, "ns_phrase_search")
    # candidates come from an aggregated posting probe + semi join;
    # no cartesian anywhere
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_corpus_shuffle_no_global_sort(spark):
    """The training-order shuffle must never compile to a single-partition
    global window, nor to a per-shard rank window (corpus/N_SHARDS rows
    through one task): ordered_rank reassembles positions from broadcast
    per-(partition, shard) offsets, so no rank window survives at all."""
    p = plan_of(spark, "ns_corpus_shuffle")
    assert "SinglePartition" not in p
    _assert_no_rank_window(p)


def test_quality_curriculum_broadcasts_decile_map(spark):
    """The decile map (histogram-derived, tiny) must broadcast back to the
    per-doc side — not shuffle the corpus on score_q."""
    p = plan_of(spark, "ns_quality_curriculum")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_interval_join_is_equi_join_with_band_filter(spark):
    """The batch interval join must hash/sort-merge on user_id with the
    time band as a residual condition — never a broadcast nested loop
    over the raw event stream."""
    p = plan_of(spark, "ts_interval_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_ann_bruteforce_is_two_stage_pipeline(spark):
    """The single-pass rewrite: one Arrow-batched scan stage feeding one
    small top-k window — no crossJoin, no checkpoint scan, no repartition
    exchange of the candidate side."""
    p = plan_of(spark, "ns_ann_topk_bruteforce")
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # exactly one exchange: the tiny (query_id-partitioned) top-k window
    assert p.count("Exchange") <= 2  # window hash + possible AQE read


def test_cms_event_types_partial_aggregates(spark):
    """The CMS counter build must combine map-side: the shuffle carries
    (ri, b) partial counts — d*w rows — not one row per event."""
    p = plan_of(spark, "ts_cms_event_types")
    assert "partial_count" in p


def _assert_no_rank_window(p: str) -> None:
    """No ntile/row_number/rank WindowExec anywhere in the plan. The rank
    machinery's only windows sum the per-(partition, group) counts of a
    tiny frame; they never rank rows."""
    assert "ntile(" not in p
    for ln in p.splitlines():
        if "Window [" in ln:
            assert "row_number()" not in ln and "rank(" not in ln, ln


ORDERED_RANK_CONSUMERS = [
    "ext_equidepth_histogram",
    "ext_rfm_segmentation",
    "ext_window_distribution",
    "ext_window_ntile",
    "ns_corpus_shuffle",
    "ns_negative_sampling",
]


@pytest.mark.parametrize("name", ORDERED_RANK_CONSUMERS)
def test_ordered_rank_consumers_no_rank_window(spark, name):
    """Every exact row_number/ntile consumer, global or per
    LOW-cardinality group (market segments, shards, RFM metrics), ranks
    through ordered_rank: no rank WindowExec over a data-sized frame, the
    final plan reads the checkpointed range-partitioned frame (the range
    shuffle runs inside that one materialization), and the offsets ride a
    broadcast join back onto it."""
    p = plan_of(spark, name)
    _assert_no_rank_window(p)
    assert "ExistingRDD" in p
    assert "BroadcastHashJoin" in p


def _package_sites(match) -> list[tuple[str, str, int]]:
    """(path relative to the package, innermost enclosing function or
    ``<module>``, line number) of every package source line ``match``
    accepts."""
    pkg = Path(__file__).resolve().parents[1] / "adv_big_data_indexing_spark"
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        funcs = [
            n for n in ast.walk(ast.parse(src)) if isinstance(n, ast.FunctionDef)
        ]
        for no, line in enumerate(src.splitlines(), 1):
            if match(line):
                owners = [f for f in funcs if f.lineno <= no <= f.end_lineno]
                innermost = min(owners, key=lambda f: f.end_lineno - f.lineno, default=None)
                owner = innermost.name if innermost else "<module>"
                sites.append((path.relative_to(pkg).as_posix(), owner, no))
    return sites


def test_rank_id_split_lives_only_in_ordered_rank():
    """The monotonically_increasing_id (pid << 33) + position split is the
    rank machinery's one mechanism. It may appear in the package only
    inside ordered_rank, so a new rank consumer composes ordered_rank
    instead of re-deriving the split."""
    sites = _package_sites(
        lambda line: "8589934592" in line or "monotonically_increasing_id" in line
    )
    owners = {(rel, fn) for rel, fn, _ in sites}
    assert owners == {("operators/advanced.py", "ordered_rank")}, sites


def test_persists_live_only_in_hold():
    """Every persist in the package goes through hold, so one lifetime
    rule covers them all — a held frame lives until the end of the work
    that held it: the session's next query build, or the end of the
    micro-batch for a streaming fold — and no operator keeps a registry
    or a try/finally of its own."""
    sites = _package_sites(lambda line: ".persist(" in line or ".cache()" in line)
    owners = {(rel, fn) for rel, fn, _ in sites}
    assert owners == {("operators/advanced.py", "hold")}, sites


def test_streams_start_only_in_start_fold():
    """Every streaming fold starts through start_fold, the one place that
    releases a micro-batch's held frames when the batch ends."""
    sites = _package_sites(lambda line: ".foreachBatch(" in line)
    owners = {(rel, fn) for rel, fn, _ in sites}
    assert owners == {("streaming/events.py", "start_fold")}, sites


def test_preference_pairs_pooled_topk_single_pass(spark):
    """r7: the per-source chosen/rejected ranks must pool per
    (source, slice) first (no data-sized per-source frame), and the
    chosen/rejected zip must NOT be a self-join — a t ⋈ b join forks
    the plan and re-derives the scored corpus subtree per branch
    (measured: two scans). One scan, 4 windows (2 slice-local pools +
    2 pool-sized finals), explode + tiny groupBy zip."""
    p = plan_of(spark, "ns_preference_pairs")
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(win_lines) == 4, p
    assert sum("_tk_slice" in ln for ln in win_lines) == 2, "\n".join(win_lines)
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p


def test_cms_heavy_hitters_pooled_take_no_vocab_window(spark):
    """VERDICT r6 item 1: the top-k pool must come from an ordered take
    (per-partition heaps), never a row_number window over the full
    distinct-token table — vocab is 1e8+ rows at web scale and an
    unpartitioned rank pulls all of it through one task."""
    p = plan_of(spark, "ns_sketch_cms_heavy_hitters")
    assert "Window [" not in p, p
    assert "TakeOrderedAndProject" in p, p


@pytest.mark.parametrize("name", ["ns_text_top_terms", "ns_text_heavy_hitters"])
def test_per_lang_topk_pools_before_rank(spark, name):
    """VERDICT r6 item 6: the per-language rank must never run over a
    language's full vocabulary in one task. _grouped_topk ranks inside
    (lang, slice) cells first, so every Window spec partitions by the
    slice column except the final one over the k*P pool."""
    p = plan_of(spark, name)
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(win_lines) == 2, p
    assert sum("_tk_slice" in ln for ln in win_lines) == 1, "\n".join(win_lines)


def test_bm25_no_explode_and_ordered_take(spark):
    """BM25's tf is a per-row expression over the query panel — the plan
    must have NO Generate (token explode) anywhere, a partially-aggregated
    scalar stats row, and top-k via TakeOrderedAndProject (per-partition
    heap), never a global sort."""
    p = plan_of(spark, "ns_bm25_topk")
    assert "Generate" not in p
    assert "TakeOrderedAndProject" in p
    assert "partial_" in p
    # corpus stats come back as a 1-row broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_span_coverage_partial_agg_and_keyed_window(spark):
    """Span coverage: the per-doc rollup partially aggregates map-side and
    the interval-union window is PARTITIONED by doc (never a single-task
    global window)."""
    p = plan_of(spark, "ns_dedup_span_coverage")
    assert "partial_count" in p and "partial_sum" in p
    assert "windowspecdefinition(doc_id" in p


def test_ohlc_single_exchange_partial_minby(spark):
    """OHLC bars: ONE exchange, with partial min_by/max_by (map-side
    candidate reduction) below it — never a window over the raw stream."""
    p = plan_of(spark, "ts_ohlc_bars")
    assert p.count("Exchange") == 1
    assert "partial_min_by" in p and "partial_max_by" in p
    assert "Window" not in p


def test_bpe_fertility_zero_shuffle(spark):
    """Tokenizer application is a pure map: no Exchange anywhere, one
    transform chain (the aggregate is computed once, not re-inlined per
    output column), and the empty-doc guard lives in the scan stage as a
    cheap length(trim(text)) filter — not a second tokenizer run."""
    p = plan_of(spark, "ns_bpe_apply_fertility")
    assert "Exchange" not in p
    assert p.count("aggregate(transform") == 1
    assert "length(trim(text" in p


def test_assoc_rules_broadcasts_item_counts(spark):
    p = plan_of(spark, "ns_assoc_rules")
    # both count dims ride broadcast joins; pair candidates explode
    # map-side from the basket arrays — no SMJ anywhere in the plan
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "Generate explode" in p
    # top-k is an ordered take, not a global sort of all pairs
    assert "TakeOrderedAndProject" in p


def test_link_prediction_broadcasts_degrees(spark):
    p = plan_of(spark, "ns_graph_link_prediction")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "Generate explode" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_auc_single_scan_no_pairwise(spark):
    p = plan_of(spark, "ext_auc_exact")
    # rank-sum identity, aggregate-first (r6): events reduce to distinct
    # scores BEFORE the prefix machinery (that pre-agg + range shuffle
    # live inside the checkpoint), offsets ride a broadcast, and the
    # post-checkpoint plan ranks nothing row-by-row — no O(pos·neg)
    # pairing anywhere
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "ExistingRDD" in p
    for ln in p.splitlines():
        if "Window [" in ln:
            assert "row_number()" not in ln and "rank(" not in ln, ln


def test_rollup_merge_partial_aggregation(spark):
    p = plan_of(spark, "ext_rollup_merge")
    # both the per-partition states and the merge aggregate map-side
    assert "partial_count" in p or "partial_sum" in p
    assert "SortMergeJoin" not in p


def test_dq_expectations_one_scan(spark):
    p = plan_of(spark, "ext_dq_expectations")
    assert p.count("FileScan") == 1


def test_quantize_int8_broadcasts_scale_table(spark):
    p = plan_of(spark, "ns_embed_quantize_int8")
    # dim-sized amax table joins broadcast; no SMJ on the exploded rows
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_hybrid_rrf_broadcasts_and_no_token_explode(spark):
    p = plan_of(spark, "ns_hybrid_rrf_fusion")
    # BM25 tf stays per-row (no token Generate); corpus stats + query
    # vector ride broadcasts; final cut is an ordered take
    assert "Generate explode" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    # VERDICT r5 item 2: the rank windows must run on the RRF_POOL-row
    # frames, never the scored corpus — every Window node's child must be
    # a TakeOrderedAndProject(limit=pool), i.e. pool first, rank inside.
    lines = p.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window [row_number()" in ln]
    assert len(win_idx) == 2, p
    for i in win_idx:
        assert "TakeOrderedAndProject(limit=100" in lines[i + 1], (
            "rank window not fed by the pooled take:\n" + "\n".join(lines[i : i + 3])
        )


def test_hybrid_rrf_dense_arm_routes_to_lsh_above_cap(spark):
    """VERDICT r7 item 5: above the brute-force cap the fusion's dense
    arm must SUBSTITUTE the LSH bucket pruner — not just document it.
    Forced onto the big-corpus route (cap=0), the plan must rescore only
    the same-bucket semi-joined candidates, never cross-join the whole
    corpus against the query vector; the default route at test SF stays
    the exact calibration ranker (the oracle's form), and the routed
    output is the exact cosine ranking of its own candidate set."""
    from adv_big_data_indexing_spark.operators.retrieval import (
        RRF_POOL,
        _dense_pool_ranks,
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # default route at the test SF (n << 1<<20): brute force, no buckets
    brute = _dense_pool_ranks(spark, SF_CORRECTNESS)
    p_brute = plan(brute)
    assert "bucket" not in p_brute
    assert "BroadcastNestedLoopJoin" in p_brute  # 1-row qv cross join
    assert "TakeOrderedAndProject(limit=100" in p_brute

    # forced big-corpus route: the rescore side is bucket-pruned
    routed = _dense_pool_ranks(spark, SF_CORRECTNESS, brute_cap=0)
    p_routed = plan(routed)
    assert "bucket" in p_routed
    assert "LeftSemi" in p_routed  # candidates = same-bucket ids only
    assert "TakeOrderedAndProject(limit=100" in p_routed

    # routed ranks are the exact cosine order of the pruned candidates:
    # a subset of the brute ranking, in the same relative order
    brute_order = [r.vec_id for r in brute.orderBy("rank_vec").collect()]
    routed_rows = routed.orderBy("rank_vec").collect()
    routed_order = [r.vec_id for r in routed_rows]
    assert 0 < len(routed_order) <= RRF_POOL
    assert set(routed_order) <= set(brute_order) or len(routed_order) < len(
        brute_order
    )  # pruning can only remove candidates
    pos = {v: i for i, v in enumerate(brute_order)}
    in_brute = [v for v in routed_order if v in pos]
    assert [pos[v] for v in in_brute] == sorted(pos[v] for v in in_brute), (
        "routing reordered candidates it kept"
    )
    assert [r.rank_vec for r in routed_rows] == list(range(1, len(routed_rows) + 1))


def test_equidepth_histogram_distributed_ntile(spark):
    p = plan_of(spark, "ext_equidepth_histogram")
    # the broadcast of the offsets frame, not a join shuffle
    assert "BroadcastHashJoin" in p


def test_rfm_distributed_ntile_single_scan(spark):
    p = plan_of(spark, "ext_rfm_segmentation")
    assert "BroadcastHashJoin" in p


def test_percentile_no_group_buffering(spark):
    """r6: exact percentiles must come from the rank machinery, not
    Spark's percentile() aggregate (which buffers every group member in
    one aggregation state — OOM-class at scale)."""
    p = plan_of(spark, "ext_percentile")
    assert "percentile(" not in p
    assert "ExistingRDD" in p  # the checkpointed ranked frame
    assert "BroadcastHashJoin" in p  # group starts ride a broadcast


def test_window_distribution_no_global_window(spark):
    """N comes with the rank (ordered_rank's _n), so no aggregate of the
    ranked frame is joined back onto it."""
    p = plan_of(spark, "ext_window_distribution")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_max_concurrency_distributed_prefix(spark):
    p = plan_of(spark, "ts_max_concurrency")
    _assert_no_rank_window(p)
    assert "ExistingRDD" in p
    # the within-partition running sum is pid-partitioned, never global:
    # every Window's spec must mention the machinery's pid column
    for ln in p.splitlines():
        if "Window [" in ln:
            assert "_rs_pid" in ln, ln


def test_grouped_rank_machinery_is_deterministic(spark):
    """Same RangePartitioner boundary-consistency regression as the
    global probe, for the grouped ordered_rank path (ns_corpus_shuffle:
    per-shard positions from broadcast per-(partition, shard) offsets):
    three builds must agree exactly."""
    outs = set()
    for _ in range(3):
        rows = registry()["ns_corpus_shuffle"].fn(spark, SF_CORRECTNESS).collect()
        outs.add(tuple(sorted(map(str, rows))))
    assert len(outs) == 1, "nondeterministic grouped rank"


def test_global_rank_machinery_is_deterministic(spark):
    """Regression for the RangePartitioner boundary-resample bug: four
    builds of ext_auc_exact must agree exactly (pre-fix: four runs, four
    different rank sums — boundaries resampled per materialization when
    exchange reuse missed, offsets then disagreed with partition
    sizes)."""
    outs = set()
    for _ in range(3):
        rows = registry()["ext_auc_exact"].fn(spark, SF_CORRECTNESS).collect()
        outs.add(tuple(sorted(map(str, rows))))
    assert len(outs) == 1, "nondeterministic global rank"


def test_q21_is_pure_aggregate_no_join(spark):
    """Both correlated quantifiers must collapse into the per-order
    aggregate — the plan has no join of any kind."""
    p = plan_of(spark, "ext_tpch_q21_shape")
    assert "Join" not in p
    assert "partial_count" in p or "partial_max" in p or "partial_sum" in p
    assert "TakeOrderedAndProject" in p


def test_q20_broadcasts_part_filter_and_semi_joins(spark):
    p = plan_of(spark, "ext_tpch_q20_shape")
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p
    # the p_type filter reached the part scan
    assert "EqualTo(p_type,PROMO)" in p


def test_q9_broadcast_dims_single_fact_shuffle(spark):
    p = plan_of(spark, "ext_tpch_q9_shape")
    # part/supplier/nation broadcast; lineitem⋈orders is the only
    # data-sized join; nation×year rollup partial-combines map-side
    assert p.count("BroadcastHashJoin") >= 3
    assert "partial_sum" in p
    assert "CartesianProduct" not in p


def test_q13_left_join_two_partial_aggregates(spark):
    p = plan_of(spark, "ext_tpch_q13_shape")
    assert "LeftOuter" in p
    # both the per-customer count and the histogram partial-combine
    assert p.count("partial_count") >= 2


def test_q14_one_scan_pushed_dates(spark):
    p = plan_of(spark, "ext_tpch_q14_shape")
    # conditional + total sums ride ONE aggregate over one broadcast join
    assert "BroadcastHashJoin" in p
    assert "GreaterThanOrEqual(l_shipdate" in p  # date range reached the scan
    assert p.count("HashAggregate") <= 4  # partial+final, no second pass


def test_q15_scalar_max_broadcast(spark):
    p = plan_of(spark, "ext_tpch_q15_shape")
    # the one-row max and the supplier dim both broadcast onto the
    # checkpointed revenue view — no shuffle join anywhere
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2


def test_q16_anti_join_and_negative_filter_pushdown(spark):
    p = plan_of(spark, "ext_tpch_q16_shape")
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p


def test_q17_stats_join_division_free(spark):
    p = plan_of(spark, "ext_tpch_q17_shape")
    # decorrelated: one partial-agg stats pass joined back on partkey;
    # the 20%-of-avg comparison is integer cross-multiplication
    assert "partial_sum" in p or "partial_count" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q18_having_filter_reuses_partition(spark):
    p = plan_of(spark, "ext_tpch_q18_shape")
    assert "CartesianProduct" not in p
    assert "partial_sum" in p


def test_q2_min_cost_single_ps_pass_all_broadcast(spark):
    """r7: the derived-partsupp Q2 must build ps ONCE (checkpointed;
    both the per-part min and the winner join read it), ride every dim
    on a broadcast, and finish with an ordered take — no sort-merge
    join, no global sort."""
    p = plan_of(spark, "ext_tpch_q2_shape")
    assert "SortMergeJoin" not in p
    assert "ExistingRDD" in p  # the materialized pruned ps view
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q11_share_filter_no_second_corpus_pass(spark):
    """r7: the national total must be a one-row aggregate OF the
    per-part frame (checkpointed), broadcast back — exactly one
    FileScan of lineitem."""
    p = plan_of(spark, "ext_tpch_q11_shape")
    assert p.count("FileScan parquet") <= 3  # lineitem + supplier + nation
    assert "ExistingRDD" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q12_filters_push_to_scan(spark):
    p = plan_of(spark, "ext_tpch_q12_shape")
    assert "PushedFilters" in p and "In(l_returnflag" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "partial_sum" in p  # map-side conditional counts


def test_q4_exists_is_semi_join(spark):
    p = plan_of(spark, "ext_tpch_q4_shape")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_q8_broadcast_dims_pushed_filters_single_shuffle(spark):
    """Q8 is the deepest join tree in the repo (VERDICT r5 item 7): all
    five dimensions must ride broadcasts, the region and part-type
    filters must prune at their scans, and the only data-sized exchange
    is lineitem⋈orders (+ the group-by)."""
    import re

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        p = plan_of(spark, "ext_tpch_q8_shape")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p or p.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in p
    # predicates reach the dimension scans
    assert "EqualTo(p_type,PROMO)" in p
    assert re.search(r"EqualTo\(n_regionkey,0\)", p)
    # the share aggregate partial-combines map-side
    assert "partial_sum" in p


def test_q7_pushes_nation_disjunction_to_dims(spark):
    import re

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        p = plan_of(spark, "ext_tpch_q7_shape")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    # the per-side envelope of the pair disjunction reaches both
    # dimension scans as a pushed data filter (rendered as an OR chain)
    assert re.search(r"DataFilters: \[[^\]]*s_nationkey#\d+ = 1", p)
    assert re.search(r"DataFilters: \[[^\]]*c_nationkey#\d+ = 2", p)
    assert p.count("BroadcastHashJoin") >= 4


def test_q19_pushes_per_side_envelopes(spark):
    import re

    # scan metadata is truncated to 100 chars by default, which can cut
    # the DataFilters list mid-expression — widen it for this assertion
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        p = plan_of(spark, "ext_tpch_q19_shape")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    # per-side envelopes of the OR-of-conjuncts: the brand/size chain on
    # the part scan, the quantity range union on the lineitem scan
    assert re.search(r"p_brand#\d+ = Brand#12", p)
    assert re.search(r"l_quantity#\d+ >= 1\.0", p)
    assert "BroadcastHashJoin" in p


def test_q22_anti_join_and_broadcast_scalar(spark):
    p = plan_of(spark, "ext_tpch_q22_shape")
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_spatial_join_is_equi_join_on_cells(spark):
    p = plan_of(spark, "ns_spatial_grid_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_q6_pushes_every_predicate(spark):
    import re

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        p = plan_of(spark, "ext_tpch_q6_shape")
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    # every predicate reaches the scan's data filters
    scan = p[p.index("DataFilters:"):]
    assert re.search(r"l_discount#\d+ >= 0\.05", scan)
    assert re.search(r"l_quantity#\d+ < 24\.0", scan)
    assert re.search(r"l_shipdate#\d+ >= 1997-01-01", scan)
    assert "partial_count" in p or "partial_sum" in p


def test_q10_pushes_filters_and_ordered_take(spark):
    p = plan_of(spark, "ext_tpch_q10_shape")
    assert "EqualTo(l_returnflag,R)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastHashJoin") >= 2


def test_registry_wide_no_unpooled_global_rank_window(spark):
    """Repo-wide invariant (r7): ANY unpartitioned rank window
    (row_number/rank/ntile with an order-only windowspec) anywhere in
    the 226-query registry must be fed directly by a
    TakeOrderedAndProject — i.e. it ranks a bounded pool (per-partition
    heaps), never a data-sized frame through one task. This is the
    generalization of the per-query pool assertions: a future operator
    that sneaks in a global rank window fails here by name."""
    import re

    offenders = []
    for name, spec in sorted(registry().items()):
        p = spec.fn(spark, SF_CORRECTNESS)._jdf.queryExecution().executedPlan().toString()
        lines = p.splitlines()
        for i, ln in enumerate(lines):
            if "Window [" not in ln:
                continue
            if not ("row_number()" in ln or "rank(" in ln or "ntile(" in ln):
                continue
            m = re.search(r"windowspecdefinition\((.*?)\)", ln)
            if not m:
                continue
            first_seg = m.group(1).split(",")[0]
            unpartitioned = " ASC" in first_seg or " DESC" in first_seg
            # the bounded pool may sit a Sort/Project below the Window
            # in some plan renderings — accept it within the next few
            # child lines rather than demanding the literal next line
            child_window = "\n".join(lines[i + 1 : i + 4])
            if unpartitioned and "TakeOrderedAndProject" not in child_window:
                offenders.append((name, ln.strip()[:140]))
    assert not offenders, "\n".join(f"{n}: {l}" for n, l in offenders)
