"""Physical-plan regression tests: the scale posture is part of the
contract, not an accident. Each assertion pins a plan property that must
survive refactors — filter pushdown reaching the parquet scan, dimension
joins staying broadcast, aggregations keeping their partial (map-side)
phase, top-k compiling to TakeOrderedAndProject instead of a global sort.
"""

from __future__ import annotations

import contextlib
import io

from numalogic_prometheus_spark import plans

QUERIES = plans.all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_predicates")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quantity,10.0" in plan or "l_quantity" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_projection_prunes_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "project_computed")
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "p_name" not in read_schema, "unused column not pruned from scan"
    assert "p_partkey" in read_schema


def test_dim_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_broadcast_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_band_join_is_broadcast_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_band_value_tiers")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_counter_agg_has_partial_phase(spark, sf_dir):
    plan = _plan(spark, sf_dir, "counter_hourly")
    assert plan.count("HashAggregate") >= 2, "partial+final aggregation expected"


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_global_topk")
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_asof_last_error")
    # union+window as-of: exactly one hash exchange on the key, no
    # cartesian/range join anywhere.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    # formatted mode hides codegen under AdaptiveSparkPlan; codegen mode
    # reports the subtree count directly.
    df = QUERIES["agg_pricing_summary"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_dedup_plans_have_no_forced_broadcast(spark, sf_dir):
    """Round-2 scale fix (VERDICT.md round 1 "What's wrong" #4): the dedup
    verify stages must not FORCE-broadcast any O(corpus) relation — the
    logical plan carries no broadcast hints; AQE may still pick a runtime
    broadcast when a side measures small, which is the desired behavior."""
    for name in (
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_pairs",
        "dedup_shingle_minhash_pairs",
    ):
        df = QUERIES[name](spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in optimized and "UnresolvedHint" not in optimized, (
            f"{name}: forced broadcast hint survives in the logical plan"
        )


def test_counter_guard_single_exchange(spark, sf_dir):
    """The accepted/rejected validation report is one conditional
    aggregate: single scan, partial+final HashAggregate, one exchange."""
    plan = _plan(spark, sf_dir, "counter_monotonic_guard")
    # formatted explain prints each node twice (tree + detail section);
    # count the per-scan detail marker instead
    assert plan.count("Location: InMemoryFileIndex") == 1, (
        "guard must not rescan events"
    )
    assert plan.count("Exchange (") == 1
    assert plan.count("HashAggregate") >= 2


def test_multiband_ann_single_candidate_exchange(spark, sf_dir):
    """OR-of-bands ANN: banding stays map-side (posexplode, no exchange
    before the candidate join); the only wide operations are the candidate
    equi-join on (band_idx, band_key), the pair dedup, and the re-rank."""
    plan = _plan(spark, sf_dir, "vec_ann_multiband_topk")
    assert "posexplode" in plan.lower() or "Generate" in plan
    # no cartesian anywhere — bucketing must keep the cross product dead
    assert "CartesianProduct" not in plan


def test_q6_scan_only_aggregation(spark, sf_dir):
    """Q6 analog: every predicate pushes to the parquet scan and the plan
    is scan → filter → partial/final agg — no join, no wide shuffle
    beyond the single-row final exchange."""
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed and "l_discount" in pushed
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_ivf_probes_broadcast_and_partial_assignment(spark, sf_dir):
    """IVF ANN: centroid distance argmin must keep its map-side partial
    phase (the exchange carries N assignment rows, not N×C distance
    pairs), and the tiny probes relation broadcasts into the candidate
    join so the assignment relation is never reshuffled for search."""
    plan = _plan(spark, sf_dir, "vec_ivf_topk")
    # min_by over the array-typed vector compiles to SortAggregate —
    # still partial+final (map-side combine) around the exchange.
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_step_resample_is_join_free(spark, sf_dir):
    """Grid alignment must stay a window over the interleaved union —
    any join/cartesian here means the grid×samples product came back."""
    plan = _plan(spark, sf_dir, "ts_step_resample")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "Union" in plan


def test_ngram_jaccard_no_forced_broadcast(spark, sf_dir):
    """Exact n-gram Jaccard: the block self-join carries no broadcast
    hint (AQE may still pick one at fixture scale — at 100× the corpus
    both sides are O(N) and must be free to shuffle)."""
    df = QUERIES["text_ngram_jaccard_pairs"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "UnresolvedHint" not in optimized


def test_seasonal_baseline_broadcasts_stats(spark, sf_dir):
    """ml_seasonal_zscore: the series×hour baseline joins back onto the
    score slice as a broadcast — the fact slice is never reshuffled."""
    plan = _plan(spark, sf_dir, "ml_seasonal_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_bucketed_join_is_equi(spark, sf_dir):
    """The bucketed interval join must compile to an equi-join on the
    bucket (hash or broadcast), never the nested-loop form the raw
    overlap predicate forces."""
    plan = _plan(spark, sf_dir, "join_interval_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # BroadcastHashJoin or ShuffledHashJoin/SMJ side


def test_q8_star_join_broadcasts_all_dims(spark, sf_dir):
    """Q8's seven-table star: every dimension side must broadcast; the
    only shuffle joins allowed are lineitem↔orders (fact×fact)."""
    plan = _plan(spark, sf_dir, "tpch_q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1


def test_q21_is_one_agg_no_anti_join(spark, sf_dir):
    """Round-7 rewrite: the NOT-EXISTS side of Q21 is answered by the
    per-order late aggregation (count_distinct(supplier) == 1), not by
    an anti join over a recomputed late relation — so the plan carries
    exactly one semi join (multi-supplier orders), no anti join, and
    builds the lineitem⋈orders join once."""
    plan = _plan(spark, sf_dir, "tpch_q21_sole_late_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" not in plan, "anti join should be folded into the agg"
    assert "CartesianProduct" not in plan
    # the late relation is built once: one orders scan; lineitem is
    # scanned twice by design (late rows + the multi-supplier agg)
    assert plan.count("orders.parquet") == 1, "late relation built twice"
    assert plan.count("lineitem.parquet") == 2


def test_q2_correlated_min_is_one_window_pass(spark, sf_dir):
    """The correlated min must NOT re-aggregate or re-join the cost
    relation — one Window over the partial-aggregated relation."""
    plan = _plan(spark, sf_dir, "tpch_q2_min_cost_supplier")
    assert plan.count("Window") >= 1
    # cost relation scanned once: only one lineitem scan in the plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_vector_binop_totals_side_broadcasts(spark, sf_dir):
    """PromQL group_left match: the aggregated totals vector is tiny and
    must broadcast into the match join."""
    plan = _plan(spark, sf_dir, "promql_vector_share_group_left")
    assert "BroadcastHashJoin" in plan


def test_over_time_is_single_exchange_range_frame(spark, sf_dir):
    """*_over_time: one exchange on the series key, a RANGE frame, no
    joins — the shape that scales with samples-per-series, not windows."""
    plan = _plan(spark, sf_dir, "promql_avg_over_time")
    assert plan.count("Exchange (") == 1, plan
    assert "Join" not in plan
    assert "RangeFrame" in plan


def test_rollup_reaggregation_never_rescans_raw(spark, sf_dir):
    """Daily-from-hourly must read events ONCE (the hourly pass); the
    merge runs over the rollup, not the raw table."""
    plan = _plan(spark, sf_dir, "rollup_daily_from_hourly")
    assert plan.count("events.parquet") == 1, plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two levels


def test_substring_spans_explodes_once(spark, sf_dir):
    """Span dedup must derive doc-frequency and both self-join sides from
    ONE explode of the corpus: the checkpointed hit set truncates the
    plan, so no Generate/parquet scan may appear downstream, and the only
    exchanges left are the islands window and the final pair aggregate."""
    plan = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "Generate" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan


def test_contamination_eval_side_broadcasts(spark, sf_dir):
    """The benchmark gram set is MB-scale by construction — it must
    broadcast so the training corpus streams map-side."""
    plan = _plan(spark, sf_dir, "text_contamination_eval_overlap")
    assert "BroadcastHashJoin" in plan


def test_int8_ann_broadcasts_query_codes(spark, sf_dir):
    """Quantized ANN: the query-code side is tiny and must broadcast;
    the corpus scan stays on the probe side (the compressed-stream
    design), never a CartesianProduct."""
    plan = _plan(spark, sf_dir, "vec_int8_quantized_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ewma_scan_is_jvm_only(spark, sf_dir):
    """Round-7 re-key (VERDICT r6 #3): the EWMA segmented scan is
    closed-form window expressions — the only Python stage left is the
    per-(series, day) chain. One Python eval in the whole plan, and the
    full-relation branch must be pure JVM window/codegen."""
    import re

    p = _plan(spark, sf_dir, "ts_ewma_irregular")
    # explain("formatted") prints each operator in the tree AND in the
    # detail section — count unique operator ids, not mentions
    ops = set(re.findall(r"(FlatMapGroupsInPandas|ArrowEvalPython) \((\d+)\)", p))
    assert len(ops) == 1, f"expected exactly the chain kernel, got {ops}"
    # (the big-relation window stage sits behind the localCheckpoint and
    # is not visible in this df's plan; its JVM-only nature is implied by
    # the single Python operator above)
    # the tiny chain output must come back via a broadcast join
    assert "BroadcastHashJoin" in p


def test_holt_winters_python_input_is_tail_capped(spark, sf_dir):
    """The HW kernel's input must pass through the _HW_KEEP tail filter
    (rrn <= 1024) so the Arrow transfer is bounded by #segments x 1024
    regardless of raw row count."""
    p = _plan(spark, sf_dir, "ts_holt_winters_level_trend")
    assert "FlatMapGroupsInPandas" in p  # the seg_scan kernel remains
    assert "1024" in p, "tail-truncation filter missing from the plan"


def test_q5_region_prune_sits_below_the_fact_joins(spark, sf_dir):
    """Q5's ASIA slice must prune customer BEFORE the two fact shuffles
    (round-7 reorder): in the optimized tree the r_name filter belongs to
    the customer⋈orders build side, so it prints before the orders date
    filter. The pre-reorder shape (region joined above the fact joins)
    printed r_name after the entire fact subtree."""
    df = QUERIES["tpch_q5_region_volume"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "r_name" in optimized and "o_orderdate" in optimized
    assert optimized.index("r_name") < optimized.index("o_orderdate"), (
        "region filter no longer prunes the fact-join input"
    )


def test_q7_fact_sides_pruned_before_the_shuffle(spark, sf_dir):
    """Q7's pair-nation prune must sit below the fact join (round-7
    reorder): the supplier broadcast join belongs to lineitem's subtree
    of the orders⋈lineitem join, so in the printed optimized tree the
    o_orderkey join condition appears above (before) the s_suppkey one.
    The pre-reorder shape joined supplier above the fact join."""
    df = QUERIES["tpch_q7_nation_volume"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.index("= o_orderkey") < optimized.index("= s_suppkey"), (
        "supplier prune no longer feeds the fact-join input"
    )
    assert optimized.index("= o_orderkey") < optimized.index("= c_custkey"), (
        "customer prune no longer feeds the fact-join input"
    )


def test_profile_is_one_scan_hash_only(spark, sf_dir):
    """profile_column_stats computes every per-column statistic from ONE
    scan via melt → two hash-aggregate levels — never per-column scans,
    and never the planner's Expand + sort-based-aggregate rewrite of
    mixed distinct/plain aggregations (measured ~2× slower)."""
    df = QUERIES["profile_column_stats"](spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Scan parquet") == 1, "profile must scan orders once"
    assert "Expand" not in phys, "melt shape must not planner-rewrite to Expand"
    # string min/max has no hash-aggregate support in Spark, so the
    # FINAL level (keyed by column_name alone, input = one row per
    # distinct value) is allowed to sort — but the value-grouping level
    # that sees every melted row must stay hash-based.
    for line in phys.splitlines():
        if "SortAggregate" in line:
            assert "vnum" not in line.split("functions")[0], (
                f"value-grouping level fell back to sort: {line.strip()[:120]}"
            )


def test_registry_wide_join_lint(spark, sf_dir):
    """Registry-wide scale lint over every optimized plan, one sweep
    (~2 min, plan-build only — no execution):

    1. No Filter directly above a Join — Catalyst pushes one-sided
       predicates below the join, so a surviving Filter-over-Join is
       either a missed early-prune (the Q5/Q7 class fixed in round 7) or
       an inherently two-sided predicate, which must be allowlisted with
       its reason.
    2. Every cross join carries a broadcast hint on one side — the
       repo-wide invariant that cross joins only ever pair a relation
       with a BOUNDED (scalar-aggregate / query-set / band-constant)
       side; an unhinted Join Cross would shuffle-nest two unbounded
       relations at scale."""
    import re

    # predicates that genuinely reference both join sides
    allow = {
        # left-anti survivor filter on an outer join: isnull(probe id)
        # OR canonical==self — two-sided by construction
        "dedup_semantic_survivors",
        # (the r17 NH-substrate exclusions are gone: the r18 kernel
        # substrate has no joins for a delta_n filter to sit above —
        # see test_nh_substrate_is_one_kernel_pass below)
    }
    late_filters = {}
    unbounded_cross = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        lines = opt.splitlines()
        # `(^|[+:]- )` also matches the tree ROOT, which prints with no
        # child prefix — a plan ending in Filter-over-Join must not slip
        # through just because the Filter is the top operator
        for i, ln in enumerate(lines):
            if re.search(r"(^|[+:]- )Filter ", ln) and i + 1 < len(
                lines
            ) and re.search(r"(^|[+:]- )Join", lines[i + 1]):
                late_filters.setdefault(name, ln.strip()[:120])
            if re.search(r"(^|[+:]- )Join Cross", ln) and "strategy=broadcast" not in ln:
                unbounded_cross.setdefault(name, ln.strip()[:120])
    unexpected = {n: v for n, v in late_filters.items() if n not in allow}
    assert not unexpected, f"unpushed filters above joins: {unexpected}"
    assert not unbounded_cross, f"cross joins without a broadcast-bounded side: {unbounded_cross}"


def test_nh_substrate_is_one_kernel_pass(spark, sf_dir):
    """The r18 NH substrate (VERDICT r17 #5): the rate entry's plan
    above the pinned grid must be ONE per-series kernel pass — a single
    Exchange (the event_type regroup), a single read of the pinned
    ExistingRDD, one FlatMapGroupsInPandas, and NO joins. The r17
    telescoped join web read the pinned relation 28× across 60
    Exchanges (plans/r18/promql_native_histogram_rate_before.txt); the
    entry cost was pure stage count."""
    plan = _plan(spark, sf_dir, "promql_native_histogram_rate")
    # every node appears twice in explain("formatted"): once in the
    # tree, once in the numbered detail section
    phys = plan.split("== Physical Plan ==")[1]
    assert phys.count("FlatMapGroupsInPandas") == 2, phys[:800]
    assert phys.count("Exchange") == 2, phys[:800]
    assert phys.count("Scan ExistingRDD") == 2, phys[:800]
    assert "Join" not in phys, phys[:800]
    assert "Scan parquet" not in phys, "raw events must not be re-scanned"


def test_repetition_stats_is_exchange_free(spark, sf_dir):
    """quality_repetition_stats (r18): every output is a per-doc
    aggregate, so the plan must be one map-only Arrow pass over the
    documents scan — no Exchange, no Join, no explode (Generate). The
    old form shuffled ~200× the corpus row count across two explode
    legs (plans/r18/quality_repetition_stats_before.txt)."""
    plan = _plan(spark, sf_dir, "quality_repetition_stats")
    phys = plan.split("== Physical Plan ==")[1]
    assert "Exchange" not in phys, phys[:800]
    assert "Join" not in phys, phys[:800]
    assert "Generate" not in phys, phys[:800]
    assert phys.count("Scan parquet") == 2  # tree + detail: one scan
    # column pruning reaches the scan: only the 3 needed columns
    assert "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>" in phys


def test_filtered_ann_pushes_label_filter(spark, sf_dir):
    """vec_ann_filtered_topk: the metadata predicate must reach the
    corpus parquet scan (PushedFilters), not run as a post-filter above
    the distance work — at 100 TB that is the difference between
    scanning a slice and scanning the lake."""
    plan = _plan(spark, sf_dir, "vec_ann_filtered_topk")
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("label" in p and "EqualTo" in p for p in pushed), pushed


def test_ivf_filtered_pushes_label_filter(spark, sf_dir):
    """vec_ivf_filtered_topk: the metadata predicate rides the
    assignment input, so it must reach the corpus parquet scan
    (PushedFilters) BEFORE the N×C centroid expansion — the composed
    filter×IVF shape only beats filtered-brute-force if the filter
    prunes the index pass too."""
    plan = _plan(spark, sf_dir, "vec_ivf_filtered_topk")
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("label" in p and "EqualTo" in p for p in pushed), pushed


def test_limitk_series_dim_broadcasts(spark, sf_dir):
    """promql_limitk: the ranked series dim is tiny and must broadcast
    back into the sample stream — the fact table is never sorted or
    reshuffled for the ranking."""
    plan = _plan(spark, sf_dir, "promql_limitk")
    assert "BroadcastHashJoin" in plan


def test_ivf_int8_exact_stage_is_candidate_bounded(spark, sf_dir):
    """IVF-PQ-lite: the probes×codes side broadcasts (the compressed
    inverted file never reshuffles for search), no CartesianProduct
    anywhere, and the full-precision exact re-rank consumes the
    row_number-bounded candidate relation — the ≤9-per-query window
    filter must sit BELOW both full-vector joins in the plan, so the
    expensive cosine never sees the corpus."""
    plan = _plan(spark, sf_dir, "vec_ivf_int8_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # ADVICE r10: assert the tree ordering, not substring presence. From
    # the details section, recover (a) the id of the Filter applying the
    # arn <= 9 candidate cutoff and (b) the ids of the two joins whose
    # broadcast input carries a full-precision vector (the
    # BroadcastExchange whose Input lists v_q/v_n feeds the join printed
    # immediately after it in post-order). Then walk the tree section:
    # the cutoff must be a DESCENDANT of both joins — every full-vector
    # join consumes the candidate-bounded relation, so the exact cosine
    # never sees the raw corpus.
    import re

    blocks = plan.split("\n\n")
    arn_ids = [
        int(m.group(1))
        for b in blocks
        if (m := re.match(r"\((\d+)\) Filter", b))
        and re.search(r"Condition : .*arn#\d+ <= 9", b)
    ]
    bcast_ids = [
        int(m.group(1))
        for b in blocks
        if (m := re.match(r"\((\d+)\) BroadcastExchange", b))
        and re.search(r"\bv_[qn]#\d+", b)
    ]
    vec_join_ids = [
        i + 1
        for i in bcast_ids
        if any(re.match(rf"\({i + 1}\) BroadcastHashJoin", b) for b in blocks)
    ]
    assert arn_ids, "candidate-cutoff Filter (arn <= 9) missing from plan"
    assert len(vec_join_ids) == 2, (
        f"expected two full-vector joins, got {vec_join_ids}"
    )

    # tree section: node B descends from node A iff B's line is after
    # A's and every line strictly between keeps indentation > A's
    tree = plan.split("\n\n")[0].splitlines()

    def node_line(nid):
        (idx,) = [i for i, ln in enumerate(tree) if f"({nid})" in ln]
        return idx

    def indent(ln):
        return len(ln) - len(ln.lstrip(" :+-*"))

    cutoff = node_line(min(arn_ids))
    for jid in vec_join_ids:
        j = node_line(jid)
        assert j < cutoff and all(
            indent(tree[k]) > indent(tree[j]) for k in range(j + 1, cutoff)
        ), f"arn cutoff (node {min(arn_ids)}) is not below join {jid}"


def test_semantic_contamination_probe_broadcasts_no_cartesian(spark, sf_dir):
    """text_semantic_contamination: the eval-probe relation broadcasts
    into the candidate join (BuildLeft on the probes side), the N×C
    centroid expansions ride broadcast nested-loop joins (centroids are
    the tiny index artifact), and nothing compiles to a raw
    CartesianProduct — the exact cosine only ever sees cell-pruned
    candidates, never a corpus self-join."""
    plan = _plan(spark, sf_dir, "text_semantic_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the probes→assignment candidate join builds on the broadcast
    # probe side
    assert "BroadcastHashJoin Inner BuildLeft" in plan


def test_audio_decode_is_spread_map(spark, sf_dir):
    """The WAV feature entries: one narrow (doc_id) scan, then EXACTLY
    ONE exchange — the pre-decode hash-repartition of the 8-byte key
    column (operators/multimodal.py:_spread_decode) — feeding the
    Arrow-batched mapInPandas. r17 finding: the old zero-exchange
    "pure map" shape was SPLIT-BOUND, not kernel-bound — the synthetic
    documents table is one parquet split, so the whole corpus decoded
    on one core; the narrow-key exchange buys full-width decode for
    the cost of shuffling doc_ids. No OTHER exchange may appear (the
    decode output must not reshuffle)."""
    for name in (
        "multimodal_audio_wav_features",
        "multimodal_audio_frame_energy",
    ):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange (") == 1, f"{name}: exchanges != 1"
        assert "hashpartitioning(doc_id" in plan, (
            f"{name}: pre-decode spread must hash the doc_id key"
        )
        assert plan.count("Location: InMemoryFileIndex") == 1
        read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
        assert "text" not in read_schema, (
            f"{name}: decode input must prune to doc_id"
        )


def test_burn_rate_single_pass(spark, sf_dir):
    """promql_burn_rate_multiwindow: the short window is a filtered
    partial sum inside the SAME aggregation — one scan, one exchange
    (the counter substrate's series exchange), partial+final phases.
    A second scan or exchange means the two windows stopped sharing
    the pass."""
    plan = _plan(spark, sf_dir, "promql_burn_rate_multiwindow")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert plan.count("Exchange (") == 1
    assert plan.count("HashAggregate") >= 2


def test_compressed_candidate_stages_broadcast_queries(spark, sf_dir):
    """PQ m=4 and Matryoshka prefix retrieval: the query side broadcasts
    into the candidate stage (the corpus representation streams, never
    reshuffles for search) and nothing compiles to a raw
    CartesianProduct."""
    for name in ("vec_pq_subvector_topk", "vec_matryoshka_prefix_topk"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # broadcast query codes
        assert "BroadcastHashJoin" in plan  # exact-stage vector joins


def test_image_decode_is_spread_map(spark, sf_dir):
    """The image/video feature entries, same contract as the WAV
    siblings (see test_audio_decode_is_spread_map): one narrow
    (doc_id) scan, exactly ONE exchange (the pre-decode narrow-key
    spread), Arrow-batched mapInPandas, and no post-decode shuffle."""
    for name in (
        "multimodal_image_png_features",
        "multimodal_image_row_stats",
        "multimodal_video_apng_frames",
        "multimodal_image_gif_features",  # round 13: GIF/LZW sibling
        "multimodal_image_jpeg_coefficients",  # round 13: JFIF entropy
        "multimodal_video_avi_mjpeg_frames",  # late r13: RIFF demux
        "multimodal_decode_features",  # round 14: unified real-codec dispatch
        "multimodal_frame_sample",  # round 14: sampled real-container demux
        "multimodal_image_resize_features",  # round 14: real NN resize
    ):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange (") == 1, f"{name}: exchanges != 1"
        assert "hashpartitioning(doc_id" in plan, (
            f"{name}: pre-decode spread must hash the doc_id key"
        )
        assert plan.count("Location: InMemoryFileIndex") == 1
        read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
        assert "text" not in read_schema, (
            f"{name}: decode input must prune to doc_id"
        )


def test_boilerplate_single_explode_single_seg_exchange(spark, sf_dir):
    """text_boilerplate_segments: ONE document scan feeds the segment
    explode (the span-df window idiom shares the seg exchange; a
    groupBy+join-back formulation would re-scan the corpus per
    consumer), and nothing compiles to a cartesian."""
    plan = _plan(spark, sf_dir, "text_boilerplate_segments")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the segment explode, map-side
    # two document scans are the contract: the exploded segment side
    # and the doc spine the attrition left-joins back onto
    assert plan.count("Location: InMemoryFileIndex") <= 2


def test_bigram_lm_vocab_broadcasts(spark, sf_dir):
    """text_bigram_lm_score: the 1-row vocabulary joins as a broadcast
    nested loop (never a shuffled cross) and nothing compiles to a raw
    CartesianProduct. The c2/c1 count-relation joins carry no forced
    hint besides the deliberate 1-row vocab broadcast — at fixture
    scale AQE broadcasts them; at corpus scale they are free to
    shuffle on their own keys."""
    plan = _plan(spark, sf_dir, "text_bigram_lm_score")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_interval_overlap_is_banded_equi_join(spark, sf_dir):
    """join_interval_overlap (r17 rewrite): the hourly-aligned grid
    makes the theta predicate an exact membership in the session's
    hour range, so the plan must be a map-side sequence-explode
    (Generate) feeding a broadcast HASH equi-join — never the
    |sessions|x|grid| nested loop (71M predicate evals at sf0.1,
    ~860B at a year-scale grid)."""
    plan = _plan(spark, sf_dir, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan  # the per-session hour explode
