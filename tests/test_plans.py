"""Physical-plan regression guards (the scale contract, not just the
answer): broadcast joins for dims, predicate pushdown into parquet
scans, column pruning, no driver-side collects in hot paths. A wrong
plan can still return right answers at sf0.01 and fall over at 100 TB
— these tests pin the plan shape."""

from __future__ import annotations

import re

import pytest

from pythondataingestionprocess_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_flagship_broadcasts_all_dims(spark):
    plan = _formatted_plan(spark, "flagship_revenue_by_nation")
    # lineitem ⨝ orders ⨝ customer ⨝ nation ⨝ region: every dim side
    # broadcast — no sort-merge shuffle on the fact table
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_flagship_pushes_date_filter_to_scan(spark):
    plan = _formatted_plan(spark, "flagship_revenue_by_nation")
    m = re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan)
    assert m, "o_orderdate range filter must reach the orders parquet scan"


def test_flagship_prunes_lineitem_columns(spark):
    plan = _formatted_plan(spark, "flagship_revenue_by_nation")
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, "no lineitem scan schema found"
    cols = m.group(1)
    # 3 needed columns only — a 16-column read here is a 5× scan tax
    assert "l_extendedprice" in cols and "l_comment" not in cols
    assert cols.count(":") <= 4


def test_semi_and_anti_joins_stay_joins(spark):
    for name, kind in [
        ("semi_join_membership", "LeftSemi"),
        ("anti_join_dedup", "LeftAnti"),
    ]:
        assert kind in _formatted_plan(spark, name), f"{name} lost its {kind} join"


def test_minhash_has_no_cartesian(spark):
    plan = _formatted_plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_bands_push_per_side_envelopes(spark):
    # Q19's mixed OR must split: the quantity-band OR reaches the
    # lineitem scan, the brand/size OR reaches the part scan, and the
    # join stays a broadcast — at 100 TB an unpushed disjunction means
    # scanning every lineitem row into the join
    plan = _formatted_plan(spark, "disjunctive_predicate_revenue")
    assert "BroadcastHashJoin" in plan
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity,1", plan), (
        "quantity bands not pushed to lineitem scan"
    )
    assert re.search(r"PushedFilters: \[[^\]]*p_brand,Brand#1", plan), (
        "brand/size bands not pushed to part scan"
    )
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m and m.group(1).count(":") <= 4  # 4 needed lineitem columns


def test_incremental_dedup_is_bucket_equi_join(spark):
    # new-batch×corpus candidates must come from an equi-join on
    # (band, band_hash) — never a cross product
    plan = _formatted_plan(spark, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"hashpartitioning\(band", plan) or "BroadcastHashJoin" in plan


def test_incremental_cosine_reads_new_side_once(spark):
    # the candidate rule takes the new batch's bucket rows once (one
    # grouped broadcast both prunes the corpus and carries the new ids),
    # so the executed plan runs one hyperplane stage per side: 2
    # ArrowEvalPython nodes, where a second read of the new side made 3
    df = REGISTRY["dedup_cosine_incremental"].fn(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert len(re.findall(r"\bArrowEvalPython\b", final)) == 2


def test_cleaning_exprs_stay_jvm_side(spark):
    # expression-library queries: pure JVM expressions (codegen-able;
    # AQE's pre-execution explain hides WholeStageCodegen spans, so
    # assert the operators instead), two-phase agg with map-side
    # partial combine, exactly one shuffle
    plan = _formatted_plan(spark, "clean_safe_float")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan  # map-side combine before the exchange
    assert plan.count("Exchange") <= 2  # one shuffle (+ its mention in detail)


def test_range_join_is_equi_not_nested_loop(spark):
    plan = _formatted_plan(spark, "range_join_quantity_bands")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle_no_join(spark):
    # the as-of composition is a union + window — no join operator at
    # all, one exchange on the key
    plan = _formatted_plan(spark, "events_asof_last_click")
    assert "Window" in plan
    assert "NestedLoop" not in plan


def test_scalar_subquery_prunes_fact_columns(spark):
    # decorrelated Q17: both lineitem scans must prune to the columns
    # each side needs (3 for the fact side, 2 for the avg side) — at
    # 100 TB an unpruned second scan doubles the query's IO
    plan = _formatted_plan(spark, "scalar_subquery_small_qty")
    schemas = re.findall(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert schemas, "no lineitem scans found"
    for cols in schemas:
        assert cols.count(":") <= 3, f"unpruned lineitem scan: {cols}"
    assert "partial_sum" in plan  # per-part avg combines map-side


def test_having_joinback_aggregates_before_join(spark):
    # Q18: the HAVING aggregate must run (with map-side partial) before
    # the join back to orders — joining first would shuffle the whole
    # fact table twice
    plan = _formatted_plan(spark, "having_large_orders")
    assert re.search(r"partial_sum\(cast\(l_quantity", plan)
    assert "CartesianProduct" not in plan


def test_bilateral_trade_broadcasts_both_nation_roles(spark):
    # Q7: the two aliased nation copies (supplier role, customer role)
    # must each broadcast — a shuffle for a 25-row dim is a plan bug
    plan = _formatted_plan(spark, "bilateral_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_monthly_trend_single_shuffle_partial_agg(spark):
    # calendar rollup: date_trunc evaluates pre-shuffle and partial
    # aggregation collapses each partition to ~1 row per month, so
    # exactly one exchange carries ~months×partitions rows
    plan = _formatted_plan(spark, "monthly_revenue_trend")
    assert "partial_count" in plan
    assert plan.count("+- Exchange") == 1


def test_contamination_no_cartesian_and_prunes(spark):
    plan = _formatted_plan(spark, "text_contamination_check")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # train-side distinct shingle set must shuffle shingles only,
    # never doc ids or text payloads
    assert "BatchEvalPython" not in plan


def test_packing_shards_single_window_exchange(spark):
    plan = _formatted_plan(spark, "doc_packing_shards")
    # one exchange for the window partitioning on source; the groupBy
    # that follows reuses it (plus at most the final agg's exchange)
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) <= 2
    assert "BatchEvalPython" not in plan


def test_exists_agg_aggregates_before_semijoin(spark):
    plan = _formatted_plan(spark, "exists_agg_discounted_orders")
    # the lineitem side must collapse to per-order rows BEFORE the semi
    # join (partial_count present) and the join must stay a semi join
    assert "LeftSemi" in plan
    assert "partial_count" in plan


def test_qualify_single_exchange_no_selfjoin(spark):
    plan = _formatted_plan(spark, "qualify_above_avg_suppliers")
    # QUALIFY translation: window + filter, not agg + join-back
    assert "Window" in plan
    assert "Join" not in plan
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1


def test_pit_scd2_equi_join_with_residual_range(spark):
    plan = _formatted_plan(spark, "pit_scd2_price_join")
    # key equi-join with the validity window as a residual condition —
    # never a nested-loop interval join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan and ("l_shipdate" in plan)


def test_packing_greedy_single_python_node_narrow_input(spark):
    # the applyInPandas state machine is the ONE sanctioned Python node;
    # its input must be pre-projected to the 3 needed columns so Arrow
    # never ships text payloads
    plan = _formatted_plan(spark, "doc_packing_greedy")
    # formatted mode lists each node in the tree AND the detail section;
    # match only the detail header
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan
    # the scan legitimately reads text (token counting happens JVM-side),
    # but the Arrow node's INPUT must be the narrow projection — text is
    # projected away before any byte crosses into Python
    m = re.search(r"\(\d+\) FlatMapGroupsInPandas\s*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m and "text" not in m.group(1), "text payload must not reach the Arrow node"


def test_entry_wrapper_applies_session_tuning(spark):
    # __spark_entry__ wraps every query callable with runtime session
    # tuning (the driver owns a vanilla session; this defense is why
    # the correctness pass fits its budget — do not regress it): every
    # key of the one session definition, sql_conf, is applied
    import __spark_entry__ as e
    from pythondataingestionprocess_spark.session import sql_conf

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    e._TUNED.discard(spark.sparkContext.applicationId)
    e.queries()["projection_narrow"](spark, SF_DIR).count()
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    for k, v in sql_conf().items():
        assert spark.conf.get(k) == v, k


def test_every_corpus_stores_events_ts_as_micros():
    """The catalog reads ``events`` with no conversion, so every corpus
    in reach must store ``ts`` as TIMESTAMP(MICROS): a NANOS file is
    rejected by a vanilla session and would need a conf to read at all.
    Covers each scale beside the test corpus and the benchmark's
    committed copies."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = Path(__file__).resolve().parents[1]
    files = sorted(
        [*Path(SF_DIR).parent.glob("sf*/events.parquet"),
         *(repo / "perfbench" / "data").glob("sf*/events.parquet")]
    )
    assert len(files) >= 2, files
    for f in files:
        assert pq.read_schema(f).field("ts").type == pa.timestamp("us"), f


# ---------------------------------------------------------------- plan-shape guards


def test_q15_aggregates_before_scalar_max_join(spark):
    """Q15 shape: the quarterly revenue view aggregates BEFORE either
    join (agg → max-scalar broadcast filter → supplier join); the date
    filter reaches the lineitem scan and no sort-merge join appears."""
    plan = _formatted_plan(spark, "q15_top_supplier")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan)


def test_q16_anti_join_broadcasts_exclusion(spark):
    """Q16 shape: the excluded-supplier set anti-joins as a BROADCAST
    (it is a filtered dim), and the fact link dedups before the join —
    no shuffle-side anti over raw lineitem."""
    plan = _formatted_plan(spark, "q16_supplier_count")
    assert re.search(r"BroadcastHashJoin.+LeftAnti", plan)
    assert "SortMergeJoin" not in plan


def test_q20_two_views_one_scan_shape(spark):
    """Q20 shape: the part-level totals are a WINDOW over the pair
    aggregate, so lineitem is scanned once — a join-back to a second
    aggregate frame would recompute the pair subtree (a fourth scan).
    The formatted plan lists each scan twice (tree + detail), so 3
    scans (lineitem + supplier + nation) appear as 6 mentions."""
    plan = _formatted_plan(spark, "q20_dominant_suppliers")
    assert plan.count("Scan parquet") <= 6
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_bigram_lm_mapside_expansion_topk(spark):
    """Bigram expansion must be map-side (zip-with-tail, no positional
    self-join) and the top-50 a TakeOrderedAndProject, not a global
    sort of all bigram counts."""
    plan = _formatted_plan(spark, "text_bigram_lm")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_merge_intervals_no_self_join(spark):
    """Interval consolidation is cumulative-max window arithmetic —
    the O(n²) overlap self-join must not appear."""
    plan = _formatted_plan(spark, "merge_event_intervals")
    assert "Join" not in plan.replace("RunningWindowFunction", "")
    assert plan.count("Window") >= 1


def test_lateral_decorrelates_to_window_topk(spark):
    """The LATERAL ORDER BY + LIMIT subquery must decorrelate into a
    per-group ranking (window/limit), not a per-row nested-loop
    re-scan of orders."""
    plan = _formatted_plan(spark, "lateral_top_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_existence_checks_are_hash_joins(spark):
    """Q21's EXISTS and NOT EXISTS must plan as one LeftSemi and one
    LeftAnti HASH join on l_orderkey (suppkey inequality as residual)
    — a nested-loop re-scan per lineitem would be quadratic at scale."""
    plan = _formatted_plan(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_correlated_exists_is_semi_join_with_pushed_quarter(spark):
    """The non-equi correlated EXISTS stays a semi join keyed on
    orderkey; the quarter filter reaches the orders parquet scan."""
    plan = _formatted_plan(spark, "q4_priority_order_checks")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan
    ), "quarter filter must reach the orders scan"


def test_q5_q8_q10_broadcast_dims_no_cartesian(spark):
    """The star joins broadcast their dim sides; the locality /
    market-share residuals must not degrade to nested loops."""
    for name, min_bc in [
        ("q5_local_supplier_volume", 3),
        ("q8_market_share", 4),
        ("q10_returned_items", 1),
    ]:
        plan = _formatted_plan(spark, name)
        assert plan.count("BroadcastHashJoin") >= min_bc, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q10_pushes_returnflag_and_quarter_to_scans(spark):
    plan = _formatted_plan(spark, "q10_returned_items")
    assert re.search(r"PushedFilters: \[[^\]]*l_returnflag,R", plan), (
        "returnflag filter must reach the lineitem scan"
    )
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan
    ), "quarter filter must reach the orders scan"


def test_q13_left_join_survives_on_clause_predicate(spark):
    """Q13's exclusion predicate lives in the ON clause — the plan must
    keep the LeftOuter join (a pushed WHERE would delete zero-order
    customers and change the answer)."""
    plan = _formatted_plan(spark, "q13_order_count_distribution")
    assert "LeftOuter" in plan


def test_q18_aggregates_before_join_back(spark):
    """The quantity rollup runs at l_orderkey grain BEFORE the join to
    orders/customer — joining first would shuffle the fact twice.
    Formatted-plan operator ids are assigned bottom-up, so the
    aggregate feeding the join must carry a SMALLER id than every
    join node."""
    plan = _formatted_plan(spark, "q18_large_volume_customers")
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    join_ids = [
        int(m)
        for m in re.findall(
            r"\((\d+)\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
        )
    ]
    assert agg_ids and join_ids
    assert min(agg_ids) < min(join_ids), (
        "quantity aggregate must sit below the join-back in the plan"
    )
    assert "CartesianProduct" not in plan


def test_containment_no_cartesian_stays_jvm(spark):
    plan = _formatted_plan(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_funnel_watermark_broadcasts_metrics_table(spark):
    """The per-batch watermark table is metrics-sized and must come
    back onto events as a BROADCAST join; the funnel itself stays
    JVM-side (no Python eval in the batch face)."""
    plan = _formatted_plan(spark, "events_funnel_watermark")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stream_static_rollup_broadcasts_dim_single_shuffle(spark):
    """The stream-static batch face must keep the property that makes
    it viable per-micro-batch: the dim probe resolves to a BROADCAST
    hash join (AQE-chosen — the query deliberately does NOT hint-force
    it, since customer is a growing dim; at test SF the stats pick
    broadcast, so this guard still bites) and the only shuffle
    exchange is the (day, nation) output aggregation. The purchase
    filter must reach the events parquet scan."""
    plan = _formatted_plan(spark, "stream_static_revenue_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # exactly ONE shuffle exchange (the output aggregation); the other
    # Exchange nodes must all be BroadcastExchange
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(event_type,purchase", plan), (
        "purchase filter must be pushed to the events scan"
    )


def test_q9_star_broadcasts_all_dims_prunes_part(spark):
    """Q9's 5-table star: part/supplier/nation broadcast (the only
    shuffle joins allowed are on the lineitem⋈orders fact chain), the
    'gear' name filter cuts part BEFORE the join, and the part scan
    reads only the join key + retailprice."""
    plan = _formatted_plan(spark, "q9_profit_by_nation_year")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    m = re.search(r"ReadSchema: struct<(p_[^>]*)>", plan)
    assert m and m.group(1).count(":") <= 3, "part scan not pruned"
    assert re.search(r"PushedFilters: \[[^\]]*p_name", plan) or (
        "Contains(p_name" in plan
    ), "gear filter must sit on the part side"


def test_q3_semi_join_and_pushed_cutoffs(spark):
    """Q3's segment membership is a LEFT-SEMI (no customer columns in
    the output — the orders side must not widen), and both date
    cutoffs reach their parquet scans."""
    plan = _formatted_plan(spark, "q3_shipping_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate", plan), (
        "order-date cutoff must reach the orders scan"
    )
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate", plan), (
        "ship-date cutoff must reach the lineitem scan"
    )


def test_q6_all_predicates_reach_the_scan(spark):
    """Q6 is the pure pushdown test: all three range predicates must
    be PushedFilters on the single lineitem scan, and the read schema
    must prune to the four referenced columns."""
    plan = _formatted_plan(spark, "q6_forecast_revenue")
    scan = re.search(
        r"PushedFilters: \[([^\]]*)\][^R]*ReadSchema: struct<(l_[^>]*)>",
        plan,
        re.S,
    )
    assert scan, "no lineitem scan found"
    pushed, cols = scan.groups()
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in pushed, frag
    assert cols.count(":") <= 4
    assert "l_orderkey" not in cols


def test_q12_single_join_single_agg_pass(spark):
    """The priority split is conditional sums inside ONE aggregation
    over ONE fact⋈fact join — a pivot or second scan would double the
    shuffle at scale. The year filter reaches the lineitem scan."""
    plan = _formatted_plan(spark, "q12_lateness_priority")
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        plan,
    ))
    assert njoins == 1, plan
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan
    )
    assert "CartesianProduct" not in plan


def test_timeseries_queries_one_window_no_python(spark):
    """Both registered time-series features keep the operator
    contract through the registry wrapper: a single Window node over
    the per-key frame (array + moments in one pass) and zero Python
    eval nodes."""
    for name in ("events_pattern_match", "events_decayed_feature"):
        plan = _formatted_plan(spark, name)
        assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, name
        assert "EvalPython" not in plan, name


def test_curation_filter_mapside_single_rollup(spark):
    """The fused curation pass must keep every feature map-side: no
    token explode (the repetition screen uses array_distinct on the
    token array), no join, zero Python eval nodes — the only exchange
    is the final (source, verdict) rollup."""
    plan = _formatted_plan(spark, "corpus_curation_filter")
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "Generate" not in plan  # no explode
    assert "EvalPython" not in plan
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        plan,
    ))
    assert njoins == 0


def test_resample_no_joins_all_window(spark):
    """The resample's successor lookup is ONE lead window over the
    deduped observations, and each row explodes its own half-open
    hourly interval map-side (lead+explode) — NOT a pair of as-of
    joins and NOT a union+window interleave: no join nodes at all, no
    Python, exactly ONE exchange (the raw-event repartition that also
    serves the in-partition dedup) and one Generate for the interval
    explode."""
    plan = _formatted_plan(spark, "events_resample_interpolate")
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
        r"CartesianProduct|BroadcastNestedLoopJoin)",
        plan,
    ))
    assert njoins == 0, plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) >= 1
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 1, plan


def test_bpe_pair_counts_mapside_generate_topk(spark):
    """Pair generation is a map-side Generate over the token array's
    self-zip; the exchange carries (pair, partial count) — partial
    aggregation MUST combine before the shuffle (token-count-sized
    otherwise) — and the top-20 is a TakeOrderedAndProject, not a
    data-grain sort."""
    plan = _formatted_plan(spark, "text_bpe_pair_counts")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_next_event_training_single_window_bounded_agg(spark):
    """Training-pair carving: ONE Window node (the 3-row context
    frame), no joins, no Python; the final aggregation combines
    map-side (partial_count) so the last exchange is transition-table
    sized, not event-count sized."""
    plan = _formatted_plan(spark, "events_next_event_training")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    assert "partial_count" in plan
    assert "EvalPython" not in plan
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        plan,
    ))
    assert njoins == 0


def test_build_pipeline_stage_bounded_shuffles(spark):
    """End-to-end corpus build: two windows (fingerprint dedup +
    source-offset sharding), no joins, no Python, and no more than
    three exchanges — curation is map-side on the scan, and every
    shuffle is bounded by its own stage's output, never by dropped
    docs or pairs."""
    plan = _formatted_plan(spark, "corpus_build_pipeline")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 3
    assert "EvalPython" not in plan
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
        r"CartesianProduct|BroadcastNestedLoopJoin)",
        plan,
    ))
    assert njoins == 0


def test_incremental_maintenance_pushdown_and_merge_grain(spark):
    """Both partial-state branches push their date slice to the
    parquet scan (base reads history, delta reads only the new
    window — THE point of incremental refresh), aggregation combines
    map-side, and no join appears anywhere: the merge is
    union-and-resum over state rows."""
    plan = _formatted_plan(spark, "incremental_agg_maintenance")
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan)
    assert "partial_count" in plan
    assert "EvalPython" not in plan
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
        r"CartesianProduct|BroadcastNestedLoopJoin)",
        plan,
    ))
    assert njoins == 0


def test_trend_slope_broadcasts_nation_no_window(spark):
    """OLS via explicit moments: nation rides a broadcast, the two
    aggregations (daily grain, nation grain) combine map-side, and no
    Window node appears — the closed form needs no per-group sort."""
    plan = _formatted_plan(spark, "trend_slope_per_nation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_winsorize_scalars_broadcast_not_windowed(spark):
    """The four global scalars (p01/p99/median/MAD) ride broadcast
    1-row frames — the q11/q20 scalar pattern — NEVER a data-grain
    global window; the per-row z stays in whole-stage codegen."""
    plan = _formatted_plan(spark, "feature_winsorize_robust")
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_zorder_cells_mapside_single_exchange(spark):
    """The Morton interleave is pure bitwise projection on the scan;
    the only exchange is the 256-cell output aggregation (map-side
    partial combine), with no joins and no Python."""
    plan = _formatted_plan(spark, "zorder_layout_cells")
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "partial_count" in plan
    assert "EvalPython" not in plan
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
        r"CartesianProduct|BroadcastNestedLoopJoin)",
        plan,
    ))
    assert njoins == 0


def test_triangle_count_materializes_reuse_no_python(spark):
    """Triangle counting references its edge frame seven times;
    DataFrame reuse is NOT CSE, so the reused frames must be
    materialized. The registered query rides the session cache, which
    holds edges/deg/closed with persist() — RECOMPUTABLE lineage, so a
    lost block is rebuilt — instead of localCheckpoint: every
    reused-frame reference in the plan must
    therefore be an InMemoryTableScan (the raw scan text may appear
    only INSIDE the cached relations' own descriptions), and the pure
    shape (materialize=False) stays all-equi-join with no Python and
    no cartesian anywhere."""
    plan = _formatted_plan(spark, "copurchase_triangles")
    assert "InMemoryTableScan" in plan, "reused frames must read the session cache"
    # exactly ONE parquet scan may remain: the cache-fill read inside
    # the innermost (edge) InMemoryRelation — formatted explain
    # numbers nodes inside cached-relation subtrees too, so the scan
    # is visible, but it executes once to populate the persisted
    # edges; every other reference reads InMemoryTableScan
    import re as _re
    n_numbered_scans = len(_re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_numbered_scans <= 1, (
        f"{n_numbered_scans} parquet scans — the edge/deg/closed "
        f"subtrees must come from the persisted chain"
    )
    # a fully cached chain shows no numbered scan at all
    m = _re.search(r"\(\d+\) Scan parquet", plan)
    if m:
        assert plan.index("InMemoryRelation") < m.start(), (
            "the remaining scan must sit under a cached relation"
        )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan

    from pythondataingestionprocess_spark.catalog import load_table
    from pythondataingestionprocess_spark.operators.graph import (
        _closed_triangles,
        triangle_count_from_chain,
    )
    import pyspark.sql.functions as F

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_quantity") >= 26)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    edges = (
        li.select("l_orderkey", F.col("l_partkey").alias("u"))
        .join(li.select("l_orderkey", F.col("l_partkey").alias("v")), "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    pure = triangle_count_from_chain(*_closed_triangles(edges, False))
    pure_plan = pure._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "EvalPython" not in pure_plan
    assert "CartesianProduct" not in pure_plan


def test_clustering_coefficient_materialized_no_python(spark):
    """Same contract as the triangle count: the registered query reads
    the session chain's PERSISTED frames (recomputable lineage; at
    most the single cache-fill scan inside the innermost cached
    relation shows in the plan), no Python, no cartesian; the top-20
    cut is a TakeOrderedAndProject, not a data-grain global sort."""
    import re as _re

    plan = _formatted_plan(spark, "part_clustering_coefficient")
    assert "InMemoryTableScan" in plan
    n_numbered_scans = len(_re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_numbered_scans <= 1, plan
    m = _re.search(r"\(\d+\) Scan parquet", plan)
    if m:
        assert plan.index("InMemoryRelation") < m.start()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pseudonymize_vault_mapside_single_exchange(spark):
    """Detection, tokenization, and the swap are pure map-side
    expressions; the only exchange is the per-source audit rollup —
    no Python, no joins."""
    plan = _formatted_plan(spark, "pii_pseudonymize_vault")
    assert "EvalPython" not in plan
    njoins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|"
        r"CartesianProduct|BroadcastNestedLoopJoin)",
        plan,
    ))
    assert njoins == 0
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2  # distinct-agg may add one


def test_unpivot_uses_expand_single_exchange(spark):
    """The melt must be Catalyst's Expand (one pass, map-side 3x row
    multiplication), not a 3-way self-union re-scanning the input;
    the only exchange is the 15-group output aggregation."""
    plan = _formatted_plan(spark, "unpivot_charge_components")
    assert "Expand" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "EvalPython" not in plan


def test_hierarchical_share_windows_over_aggregate_only(spark):
    """Both ratio windows must run over the 25-row aggregate, never
    the fact rows: the Window nodes sit ABOVE the aggregation (their
    input is the (region, nation, rev) grain), dims broadcast, no
    Python."""
    plan = _formatted_plan(spark, "hierarchical_revenue_share")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    m = re.search(r"\(\d+\) Window\s*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m and "o_totalprice" not in m.group(1), (
        "window input must be the aggregate grain, not fact rows"
    )


def test_reconciliation_aggregates_detail_before_join(spark):
    """The line-item side must collapse to order grain BEFORE the
    join (map-side partial sums) so the join moves orders, never
    lines; left join survives (orphans must appear), no Python."""
    plan = _formatted_plan(spark, "dq_order_reconciliation")
    assert "partial_sum" in plan
    assert re.search(r"LeftOuter", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_pure_mapside(spark):
    """Sliding-window chunking must be a single-stage map plan: scan ->
    project -> Generate (explode) -> project. ANY Exchange here would
    mean the carving step shuffles the corpus — at 100 TB that is the
    whole dataset moved for a per-row transform."""
    plan = _formatted_plan(spark, "doc_chunking_overlap")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    assert "struct<doc_id:bigint,text:string>" in plan  # pruned scan


def test_block_dedup_shuffles_on_block_text_only(spark):
    """C4-style block dedup: exactly two exchanges — one keyed by the
    dedup key (block_text, for the global-first window) and one back
    to doc grain (partial-aggregated). No Python, no join: the
    keep/drop decision is a window, not a self-join."""
    plan = _formatted_plan(spark, "corpus_block_dedup")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "hashpartitioning(block_text" in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_inverted_index_bounded_postings_topk(spark):
    """Inverted index: tf agg on (term, doc_id), then ONE term-keyed
    exchange reused by both the ranking window and the final agg
    (collect_list is bounded to rn<=3 before collection); top-100 is
    TakeOrderedAndProject, never a global sort."""
    plan = _formatted_plan(spark, "inverted_index_postings")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_split_assignment_is_mapside_hash(spark):
    """train/val/test split: the md5-bucket assignment happens in the
    scan stage projection (no pre-agg shuffle of raw docs); the only
    exchanges are the two-phase distinct aggregate keyed by the OUTPUT
    grain. The text column must never be read."""
    plan = _formatted_plan(spark, "train_val_test_split")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "EvalPython" not in plan
    assert "text" not in re.search(r"ReadSchema: (.*)", plan).group(1)


def test_weighted_sample_rank_pushes_down_to_partial_limit(spark):
    """A-ES weighted sampling: the rn<=10 rank filter must push below
    the source-keyed exchange as a PARTIAL WindowGroupLimit (Spark
    3.5+ rank-limit pushdown), so each input partition ships only its
    own top-10 per source — measured 200 shuffled records for 5000
    docs at sf0.1. Losing the pushdown (e.g. by filtering on a
    derived column) silently reverts to shuffling the whole corpus."""
    plan = _formatted_plan(spark, "corpus_weighted_sample")
    assert len(re.findall(r"\(\d+\) WindowGroupLimit", plan)) == 2  # partial+final
    assert "EvalPython" not in plan


def test_bm25_two_scans_windowed_idf(spark):
    """BM25: exactly TWO corpus scans (tf pass + N/avgdl pass) —
    reuse is not CSE, so a naive idf-from-tf formulation re-executes
    the tf subtree and reads the corpus 4x (measured before the fix).
    df must come from a Window over the tf rows, idf stays in-plan,
    and the top-20 is TakeOrderedAndProject."""
    plan = _formatted_plan(spark, "bm25_retrieval_topk")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_width_bucket_binning_equals_desugared_case(spark):
    """width_bucket(x, 0, 50, 10) equals the hand-desugared CASE (below
    range -> 0, at/above hi -> n+1, else floor(x/width)+1). Keep that
    equivalence pinned strategy-vs-strategy in Spark so the fixed-width
    binning expression stays verified without spending a registry
    slot; the distributed-quantile substance stays oracle-faced in
    equidepth_price_bands."""
    from pyspark.sql import functions as F

    from pythondataingestionprocess_spark.plans.registry import dec_sum

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    via_builtin = (
        lineitem.withColumn(
            "bucket",
            F.width_bucket(F.col("l_quantity"), F.lit(0), F.lit(50), F.lit(10)),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("l_extendedprice", "sum_price"))
    )
    via_case = (
        lineitem.withColumn(
            "bucket",
            F.expr(
                "CAST(CASE WHEN l_quantity < 0 THEN 0 "
                "WHEN l_quantity >= 50 THEN 11 "
                "ELSE floor(l_quantity / 5) + 1 END AS BIGINT)"
            ),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("l_extendedprice", "sum_price"))
    )
    a = sorted(map(tuple, via_builtin.collect()))
    b = sorted(map(tuple, via_case.collect()))
    assert a == b and len(a) > 1


def test_topk_agg_formulation_matches_window_face(spark):
    """Top-k per group as an AGGREGATION — sorted-slice over collected
    structs, the TakeOrdered generalization — must equal the window
    formulation (`topk_per_group`-style row_number pick) row for row.

    Scale trade: the agg form never
    sorts whole partitions (WindowExec must), only each group's own
    items — right when the group count is huge and per-group rows are
    modest. collect_list still buffers a full group before the slice,
    so for huge groups with small k, window + WindowGroupLimit is
    strictly better; a true bounded-state top-k per group needs a
    custom Aggregator (JVM) or an applyInPandas heap."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from pythondataingestionprocess_spark.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")
    item = F.struct(
        F.col("o_totalprice").alias("p"),
        (-F.col("o_orderkey")).alias("nk"),  # ascending-major struct
        F.col("o_orderkey").alias("k"),      # sort: negate for DESC,ASC
    )
    topk = F.slice(F.reverse(F.sort_array(F.collect_list(item))), 1, 3)
    agg_form = (
        orders.groupBy("o_orderpriority")
        .agg(topk.alias("top"))
        .select("o_orderpriority", F.explode("top").alias("t"))
        .select(
            "o_orderpriority",
            F.col("t.k").alias("o_orderkey"),
            F.col("t.p").alias("o_totalprice"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), "o_orderkey"
        )
    )
    window_form = (
        orders.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )
    a = sorted(map(tuple, agg_form.collect()))
    b = sorted(map(tuple, window_form.collect()))
    assert a == b and len(a) >= 3
