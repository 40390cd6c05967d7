"""Plan-shape invariants: the scale properties each operator was designed
around, asserted against the actual physical plan (SURVEY.md §4 — what the
reference hand-codes, Catalyst must be *observed* doing for us)."""

from __future__ import annotations

import pytest

from dbtransfer_spark import queries as Q
from dbtransfer_spark.operators import dedup, similarity
from dbtransfer_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_operator,
    pushed_filters,
    read_schema_columns,
)
from tests.conftest import SF_SMOKE


def test_resume_predicate_pushed_to_scan(spark):
    """P4 keyset resume must reach the parquet scan (min/max row-group
    pruning), not run as a post-scan filter only."""
    df = Q.scan_resume_predicate(spark, SF_SMOKE)
    assert "l_orderkey" in pushed_filters(df)
    assert "GreaterThan" in pushed_filters(df)


def test_projection_pruned_to_selected_columns(spark):
    """C4/column pruning: a 4-column projection over an 11-column table
    must read exactly 4 columns from parquet."""
    df = Q.scan_resume_predicate(spark, SF_SMOKE)
    schemas = read_schema_columns(df)
    assert schemas, "no parquet scan found in plan"
    assert all(len(cols) == 4 for cols in schemas), schemas


def test_transfer_transform_no_shuffle(spark):
    """Transforms are narrow: the whole transfer plan must contain zero
    shuffle exchanges at any scale."""
    df = Q.transfer_transform(spark, SF_SMOKE)
    assert count_exchanges(df) == 0, formatted_plan(df)


def test_q3_broadcasts_dimensions(spark):
    """The filtered customer dim must broadcast into orders; the
    orders⋈customer side must NOT carry a pinned broadcast hint (it grows
    with SF — at test scale the optimizer may still choose broadcast via
    size estimates/AQE, which is exactly the desired behavior)."""
    df = Q.q3_shipping_priority(spark, SF_SMOKE)
    assert has_broadcast_join(df)
    # the logical plan must contain at most one explicit hint: customer
    logical = df._jdf.queryExecution().logical().toString()
    assert logical.count("ResolvedHint (strategy=broadcast)") <= 1, logical


def test_q5_no_hint_on_scaling_dims(spark):
    """Only fixed-size dims (region, nation) carry explicit broadcast
    hints; supplier/customer are optimizer-decided."""
    df = Q.q5_region_revenue(spark, SF_SMOKE)
    logical = df._jdf.queryExecution().logical().toString()
    assert logical.count("ResolvedHint (strategy=broadcast)") == 2, logical
    assert has_broadcast_join(df)  # region/nation still broadcast physically


def test_q3_topk_no_global_sort(spark):
    """ORDER BY + LIMIT must plan as TakeOrdered, not a full sort."""
    df = Q.q3_shipping_priority(spark, SF_SMOKE)
    assert has_operator(df, "TakeOrderedAndProject")


def test_keyset_page_take_ordered(spark):
    df = Q.keyset_page(spark, SF_SMOKE)
    assert has_operator(df, "TakeOrderedAndProject")


def test_q1_single_aggregation_shuffle(spark):
    """Partial (map-side) aggregation with the r11 block-bounded cents
    moments: the block stage partial-aggregates map-side, so BOTH
    exchanges carry only ≤rows/32768 partial rows — plus the final
    orderBy. No Expand, no sort-based aggregation."""
    df = Q.q1_pricing_summary(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, "expected partial+final aggregation"
    assert "Expand" not in plan, plan
    assert count_exchanges(df) <= 3, plan  # block agg + group agg + orderBy


def test_top_n_per_group_rank_limit_pushdown(spark):
    """rank<=k must install a WindowGroupLimit before the shuffle so each
    partition forwards at most k rows per group."""
    df = Q.top_n_per_group(spark, SF_SMOKE)
    assert has_operator(df, "WindowGroupLimit")


def test_knn_brute_force_broadcasts_queries(spark):
    """Query set broadcasts; corpus is never shuffled for the cross join."""
    df = similarity.knn_bruteforce_cosine(spark, SF_SMOKE)
    assert has_broadcast_join(df)


def test_minhash_band_join_no_cartesian(spark):
    """LSH candidate generation must be an equi-join on (band, bucket) —
    a cartesian/nested-loop product would be the quadratic trap."""
    df = dedup.dedup_minhash_lsh(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_upsert_merge_broadcasts_update_keys(spark):
    """MERGE anti-join broadcasts the update key set while it is small
    (size-gated via Catalyst stats), and never pins the hint when the
    estimate exceeds the threshold."""
    df = Q.upsert_merge(spark, SF_SMOKE)
    assert has_broadcast_join(df)


def test_broadcast_if_small_gates_on_size(spark):
    """broadcast_if_small must hint under the threshold and pass the
    DataFrame through unhinted above it."""
    df = spark.range(1000)
    small = Q.broadcast_if_small(df, threshold=1 << 30)
    big = Q.broadcast_if_small(df, threshold=1)
    assert "Hint broadcast" in small._jdf.queryExecution().logical().toString()
    assert "Hint" not in big._jdf.queryExecution().logical().toString()


def test_embedding_neardup_lsh_no_cartesian(spark):
    """The scale path's candidate generation must stay an equi-join on
    (band, val) — never a cartesian/nested-loop pair product."""
    df = similarity.embedding_neardup_lsh(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_ivf_broadcasts_fixed_sides_only(spark):
    """IVF assignment/probe joins broadcast only fixed-size sides (the
    centroid table and the |Q|·nprobe probe set); the SF-scaling corpus is
    never the broadcast input, so the plan survives a 100× scale-up."""
    df = similarity.knn_ivf_cosine(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan.replace("BroadcastNestedLoopJoin Cross", "")
    # The only nested-loop product is the corpus × 10-row-centroid
    # crossJoin, whose broadcast side is constant in SF.


# Queries whose plan legitimately contains a nested-loop product:
# - crossJoin against a side CONSTANT in SF (probe-query set, 10-row
#   centroid table): knn_bruteforce_cosine, knn_ivf_cosine;
# - embedding_neardup_pairs: the documented O(n²) exactness anchor (its
#   id_a < id_b join is non-equi by definition); the production-scale
#   route is embedding_neardup_lsh, which this sweep holds to equi-joins.
# Everything else must be equi-join only.
_FIXED_SIDE_CROSSJOINS = {
    "knn_bruteforce_cosine",
    "knn_ivf_cosine",
    "embedding_neardup_pairs",
    # one-row scalar-aggregate broadcast (fixed size at any SF)
    "q22_dormant_customers",
    "q15_top_supplier",
    "q11_important_part_value",
    "domain_mix_rebalance",
    "fk_integrity_audit",
    "pagerank_bipartite",
    "rfm_segmentation",
    "market_basket_pairs",
    "supplier_pareto",
    "knn_recall_eval",
    "weighted_systematic_sample",
    "bm25_rank",
    "quantity_quartile_bins",
    # one-row unigram-total broadcast
    "bigram_pmi_top",
    # one-row corpus-total / ring-modulus broadcasts
    "unigram_freq_score",
    "shard_assignment",
    "negative_sampling_ring",
    "vocab_coverage_curve",
    "join_key_skew_profile",
    "source_distinctive_terms",
    "embedding_index_build",   # fixed-size centroid table + 1-row total
    # fixed-size probe-set broadcast (same bound as knn_bruteforce)
    "knn_label_accuracy",
    # k×d centroid-table broadcast (k=8 rows, fixed size at any SF)
    "kmeans_lloyd",
    # two 1-row count broadcasts (nodes/edges) beside the triangle count
    "copurchase_triangles",
    # 1-row median/MAD probe broadcast over the bounded day series
    "daily_volume_anomaly",
    # 1-row (n, total) and peak-|cusum| probe broadcasts
    "daily_cusum_shift",
    # 1-row epoch-month broadcast onto the fact scan
    "timeseries_cv_folds",
    # two 1-row side-total broadcasts beside the 1-row pair rollup
    "join_cardinality_preflight",
    # 1-row state-count broadcast seeding the uniform pi0 (π iteration
    # joins are equi-joins on the 25-row matrix)
    "markov_stationary_power",
    # two 1-row broadcasts (node/edge counts) beside the 1-row moment frame
    "degree_assortativity",
    # 1-row divisor + per-step 1-row max broadcasts over the 64-entry matrix
    "embedding_pca_power_top1",
    # 1-row threshold broadcast per peel + per-round 1-row stat broadcasts
    "kcore_peel_rounds",
    # 1-row fact-total broadcast beside the 3-class rollup
    "null_key_join_audit",
    # two 1-row count broadcasts beside the 1-row digest frame
    "cdc_at_least_once_dedup",
    # 1-row ground-truth broadcast beside the 1-row estimate
    "sampled_join_estimate",
    # 1-row capacity + 1-row cut broadcasts onto the |tenants|-row fill
    "fair_share_allocation",
    # 1-row best-pair broadcast per merge round (argmax of the pair table)
    "bpe_iterative_merges",
    # 1-row lazy-total broadcast per foreign_key expectation (r7: replaced
    # the eager count() the r6 ADVICE flagged)
    "dq_expectations_orders",
    # 1-row leak-audit broadcast beside the 3-row split rollup
    "leakage_safe_split",
    # 1-row ECE rollup broadcast beside the ≤10-bin reliability frame
    "calibration_ece_bins",
    # two 1-row broadcasts (period totals, drift sum) beside the ≤10-bin frame
    "feature_drift_bins",
    # two 1-row broadcasts (N/margins count, V² rollup) beside the ≤25-cell table
    "categorical_chi2_association",
    # 1-row source-count broadcast beside the top-k-per-source frame
    "curriculum_interleave",
    # 1-row bit-load rollup broadcast beside the 1-row pass/match rollup
    "bloom_join_prefilter",
    # two 1-row broadcasts (key-mass totals into the skew count, then the
    # skew count beside the totals row)
    "shuffle_plan_advisor",
    # 1-row global-max-day broadcast onto the per-user aggregate
    "retention_hazard_curve",
    # four 1-row stat frames crossed into the single report row
    "join_size_histogram_estimate",
    # 1-row global-rate broadcast onto the brand rows
    "brand_return_rate_shrunk",
    # 1-row revenue-total broadcast onto the part-domain cumulative
    "abc_inventory_classes",
    # four 1-row graph-stat frames crossed into the single report row
    "neardup_transitivity_audit",
    # 1-row sample-totals broadcast onto the value-domain CDF frame
    "ks_drift_exact",
    # 1-row rank-sum broadcast beside the 1-row totals
    "mannwhitney_auc_drift",
    # 1-row global-CDF-moments broadcast onto the QI-class frame
    "t_closeness_audit",
    # 1-row doc-count-total broadcast onto the |sources| quota frame
    "apportion_largest_remainder",
    # fixed 10-query broadcast against the corpus (the knn exact-anchor
    # shape), scoring full + truncated cosine in one pass
    "embedding_matryoshka_recall",
    # 1-row match/unmatch-totals broadcast onto the 3-row field frame
    "fellegi_sunter_weights",
    # 1-row corpus-total broadcast onto the per-source rank frame
    "quantile_normalize_by_source",
    # k x d centroid broadcast (the kmeans_lloyd assignment shape)
    "semdedup_cluster_prune",
    # <=k-row center-set broadcast per farthest-first round (static
    # lineage unrolls all k rounds)
    "coreset_kcenter_greedy",
}


def test_no_query_has_unbounded_cartesian(all_queries):
    """Sweep every declared query: no CartesianProduct anywhere, and
    nested-loop joins only in the whitelisted fixed-broadcast-side cases —
    the 'no quadratic trap at 100 TB' invariant, enforced globally."""
    offenders = []
    for name, (_, plan) in all_queries.items():
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in _FIXED_SIDE_CROSSJOINS
        ):
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert offenders == []


def test_no_query_has_row_level_global_window(all_queries):
    """Sweep every declared query: unpartitioned (single-reducer) Window
    nodes may appear ONLY in the whitelisted domain-bounded shapes
    (DOMAIN_BOUNDED_GLOBAL_WINDOWS in plans/checks.py — post-aggregate
    |days|/|months|/histogram frames and post-limit ≤k frames, each entry
    naming its bounded input; the SCALE.md global-window rule).
    Exact-set equality both directions: a new row-level global window
    fails (the 100 TB single-task funnel), and a whitelist entry whose
    window disappeared rots out instead of masking a future offender."""
    from dbtransfer_spark.plans import (
        DOMAIN_BOUNDED_GLOBAL_WINDOWS,
        count_unpartitioned_windows,
    )

    flagged = {
        name
        for name, (_, plan) in all_queries.items()
        if count_unpartitioned_windows(plan) > 0
    }
    unexpected = flagged - set(DOMAIN_BOUNDED_GLOBAL_WINDOWS)
    stale = set(DOMAIN_BOUNDED_GLOBAL_WINDOWS) - flagged
    assert unexpected == set(), f"row-level global window? {sorted(unexpected)}"
    assert stale == set(), f"stale whitelist entries: {sorted(stale)}"


def test_unpartitioned_window_detector_fires(spark):
    """The detector itself (r7 VERDICT: the old regex NEVER fired): an
    injected row-level global window must be counted, partitioned and
    partition-only windows must not, across all four formatted
    Arguments shapes including nested brackets in the functions group."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dbtransfer_spark.plans import count_unpartitioned_windows

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    cases = [
        (df.withColumn("r", F.row_number().over(W.partitionBy("g").orderBy("id"))), 0),
        (df.withColumn("r", F.row_number().over(W.orderBy("id"))), 1),
        (df.withColumn("s", F.sum("id").over(W.partitionBy("g"))), 0),
        (df.withColumn("s", F.sum("id").over(W.partitionBy())), 1),
        # nested brackets in the functions group (array literal)
        (
            df.withColumn(
                "a",
                F.collect_list(F.array(F.lit(1), F.col("id"))).over(W.orderBy("id")),
            ),
            1,
        ),
        # mixed: one global + one partitioned window in the same plan
        (
            df.withColumn("r", F.row_number().over(W.orderBy("id"))).withColumn(
                "r2", F.row_number().over(W.partitionBy("g").orderBy("id"))
            ),
            1,
        ),
    ]
    got = [count_unpartitioned_windows(formatted_plan(d)) for d, _ in cases]
    assert got == [want for _, want in cases], got


def test_date_partitioned_layout_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout (events by date): a date-equality filter
    must become a PartitionFilter (directories skipped at planning) rather
    than a data filter — the standard 100 TB event-lake layout invariant."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.catalog import load_table

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    events.write.partitionBy("event_date").parquet(path)

    one_day = events.select(F.min(F.to_date("ts")).alias("d")).collect()[0]["d"]
    df = spark.read.parquet(path).filter(F.col("event_date") == F.lit(one_day))
    plan = formatted_plan(df)
    scan = plan[plan.index("PartitionFilters") :]
    assert "event_date" in scan[: scan.index("]")]
    # And the filter must NOT degrade into a post-scan data filter on the
    # partition column (PushedFilters handles data columns only).
    n_days = events.select("event_date").distinct().count()
    assert n_days > 1  # pruning is meaningful on this fixture
    assert df.count() == events.filter(F.to_date("ts") == F.lit(one_day)).count()


def test_q6_all_predicates_pushed(spark):
    """Q6's four predicates must all reach the parquet scan and the read
    schema must be exactly the four referenced columns."""
    df = Q.q6_forecast_revenue(spark, SF_SMOKE)
    pushed = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    schemas = read_schema_columns(df)
    assert schemas and all(len(cols) == 4 for cols in schemas), schemas


def test_q19_or_predicate_factored_into_both_scans(spark):
    """Q19's cross-side disjunction: Catalyst must factor the side-local
    implications out of the OR and push them into BOTH scans (brand/size
    into part, quantity into lineitem) so the join probes candidates only."""
    from dbtransfer_spark import tpch

    df = tpch.q19_disjunctive_revenue(spark, SF_SMOKE)
    pushed = pushed_filters(df)
    assert "p_brand" in pushed, pushed
    assert "l_quantity" in pushed, pushed


def test_q7_filters_nations_before_joining(spark):
    """Q7 must reduce supplier/customer via 2-row nation dims BEFORE the
    lineitem⋈orders sort-merge — the nation-name predicate may not survive
    as a post-join filter over the full join output."""
    from dbtransfer_spark import tpch

    df = tpch.q7_nation_volume(spark, SF_SMOKE)
    plan = formatted_plan(df)
    # both nation copies arrive pre-filtered: n_name IN (pair) sits in a
    # scan-adjacent filter, and the only post-join residue is the
    # cross-pair inequality.
    assert plan.count("NATION_7") >= 2, plan
    assert has_broadcast_join(df)


def test_q10_q18_topk_take_ordered(spark):
    """Top-k queries must plan as TakeOrdered, never a global sort."""
    from dbtransfer_spark import tpch

    for fn in (tpch.q10_returned_items, tpch.q18_large_volume_customers):
        assert has_operator(fn(spark, SF_SMOKE), "TakeOrderedAndProject")


def test_q21_bm25_topk_take_ordered(spark):
    """Round-3 ADVICE: q21's top-10 and bm25's top-20 must plan as
    TakeOrderedAndProject (distributed per-partition top-k + driver
    merge), never an unpartitioned row_number window over the full
    supplier/doc aggregate."""
    from dbtransfer_spark import tpch
    from dbtransfer_spark.operators import text

    assert has_operator(
        tpch.q21_suppliers_kept_waiting(spark, SF_SMOKE), "TakeOrderedAndProject"
    )
    assert has_operator(text.bm25_rank(spark, SF_SMOKE), "TakeOrderedAndProject")


def test_acctbal_deciles_no_global_dim_sort(spark):
    """acctbal_deciles must not push the customer dim through a global
    ntile window. The only row-level window allowed is the tie-break
    row_number PARTITIONED by c_acctbal; unpartitioned windows may touch
    only the domain-bounded value histogram (post-aggregate), the same
    accepted shape as quantity_quartile_bins."""
    df = Q.acctbal_deciles(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "ntile" not in plan.lower(), plan
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, plan
    for ln in rn_lines:
        assert "windowspecdefinition(c_acctbal" in ln, ln


def test_q22_only_fixed_size_broadcasts(spark):
    """Q22's scalar-average crossJoin broadcasts exactly one row; the
    orders anti join must not carry a pinned hint (orders grows with SF)."""
    from dbtransfer_spark import tpch

    df = tpch.q22_dormant_customers(spark, SF_SMOKE)
    logical = df._jdf.queryExecution().logical().toString()
    assert logical.count("ResolvedHint (strategy=broadcast)") == 1, logical


def test_unpivot_single_scan_no_shuffle(spark):
    """Unpivot must plan as one Expand over one parquet scan — never the
    UNION-of-k-scans formulation — with zero exchanges."""
    df = Q.unpivot_lineitem_metrics(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan
    tree = plan.split("\n\n")[0]  # simple-tree section; details repeat names
    assert tree.count("Scan parquet") == 1, tree
    assert count_exchanges(df) == 0


def test_aqe_converts_unpinned_join_to_broadcast_at_runtime(spark):
    """The scale contract behind dropping pinned broadcast hints: when a
    join side is actually small at runtime, AQE converts the sort-merge
    join to broadcast on its own. Execute q3 (whose orders⋈customer side
    carries no hint) and assert the final adaptive plan used a broadcast
    join — proof the hint removal costs nothing at small scale while
    preventing OOM at 100×."""
    df = Q.q3_shipping_priority(spark, SF_SMOKE)
    df.collect()  # materialize so AQE finalizes the plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final


def test_kmeans_assign_uses_in_array_argmin_and_fixed_broadcast(spark):
    """kmeans_lloyd's scale contract (r14): each assignment pass
    broadcasts the ONE-ROW sorted centroid array (two passes -> two
    nested-loop joins over a broadcast side that never grows with SF)
    and the argmin is computed in-array per point (array_min over
    struct(dist, cluster)) — NO window shuffle anywhere in the plan; a
    task never holds more than its own points."""
    from dbtransfer_spark.registry import QUERIES

    plan = formatted_plan(QUERIES["kmeans_lloyd"](spark, SF_SMOKE))
    tree = plan.split("\n\n")[0]  # simple-tree section; details repeat names
    assert tree.count("BroadcastNestedLoopJoin") == 2, tree
    assert "Window" not in plan, plan
    assert "array_min" in plan, plan
    assert "CartesianProduct" not in plan


def test_gap_fill_windows_are_all_partitioned(spark):
    """gap_fill_forward must never fall into a single-partition global
    window: every window spec carries the user_id partition key (the
    spine explode and both windows parallelize per user)."""
    import re

    from dbtransfer_spark.registry import QUERIES

    plan = formatted_plan(QUERIES["gap_fill_forward"](spark, SF_SMOKE))
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in spec, spec


def test_oov_rate_broadcasts_vocab(spark):
    """The ≤1000-row vocab membership probe must be a broadcast join
    (a shuffled join would move the whole token stream twice)."""
    from dbtransfer_spark.registry import QUERIES

    df = QUERIES["oov_rate"](spark, SF_SMOKE)
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    assert "TakeOrdered" in plan  # vocab selection: heap top-K, no global sort


def test_incremental_dedup_is_banded_equi_join(spark):
    """New-vs-corpus candidates must come from the (band, bucket)
    equi-join — the asymmetric production shape, never a product."""
    from dbtransfer_spark.registry import QUERIES

    df = QUERIES["dedup_incremental_new_vs_corpus"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_path_topk_take_ordered(spark):
    """Top-10 path selection must be TakeOrdered (per-partition heaps),
    not a global sort of all paths."""
    from dbtransfer_spark.registry import QUERIES

    df = QUERIES["session_path_topk"](spark, SF_SMOKE)
    assert "TakeOrdered" in formatted_plan(df)


def test_correlation_matrix_single_aggregate_no_window(spark):
    """The moment sums must be ONE scan pass — no window, no join, no
    second scan of the fact table. r11: the block-bounded cents moments
    add a second exchange, but both exchanges carry only partial rows
    (≤rows/32768 after map-side aggregation), never fact rows."""
    from dbtransfer_spark.registry import QUERIES

    df = QUERIES["correlation_matrix"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Window" not in plan
    # one scan node (each appears once in the tree and once in details)
    assert plan.count("Location: InMemoryFileIndex") == 1
    # block partial + final aggregate exchanges only
    assert count_exchanges(df) <= 2


def test_event_type_user_overlap_broadcasts_size_table(spark):
    """The ≤|types|-row size tables must broadcast onto the pair rows."""
    from dbtransfer_spark.registry import QUERIES

    df = QUERIES["event_type_user_overlap"](spark, SF_SMOKE)
    assert has_broadcast_join(df)


# Static-lineage scan budget: more parquet scan nodes than this usually
# means a multiply-consumed lineage lost its persist(). Iterative
# operators legitimately unroll (persisted at runtime), and the FK audit
# scans one bounded pair per edge of the whole schema.
_SCAN_BUDGET = 12
_SCAN_BUDGET_EXEMPT = {
    "dedup_clusters",        # label-propagation rounds, persisted per round
    "fk_integrity_audit",    # one scan pair per FK edge (7 edges)
    "pagerank_bipartite",    # power-iteration rounds, persisted per round
    "golden_record_survivorship",  # composes dedup_clusters' fixpoint lineage
}


def test_every_query_within_scan_budget(all_queries):
    import re

    over = {}
    for name, (_, plan) in all_queries.items():
        if name in _SCAN_BUDGET_EXEMPT:
            continue
        n = len(re.findall(r"\(\d+\) Scan parquet", plan))
        if n > _SCAN_BUDGET:
            over[name] = n
    assert not over, f"queries over the static scan budget ({_SCAN_BUDGET}): {over}"


def test_r7_operator_plan_shapes(spark):
    """Round-7 operators' scale contracts, plan-asserted."""
    import re

    from dbtransfer_spark.operators import graph, skew, windows
    from dbtransfer_spark.operators.cdc import fuzzy_part_linkage

    # part_hierarchy_rollup: single scan, single exchange (one aggregate
    # shuffle after the constant explode), no join of any kind
    plan = formatted_plan(graph.part_hierarchy_rollup(spark, SF_SMOKE))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in plan, plan

    # ewma: exactly ONE Window node — Catalyst must collapse the 16
    # identical inline specs, not stack 16 sorts
    plan = formatted_plan(windows.ewma_daily_revenue(spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan

    # SNM: the lead() window must be partitioned by brand (never a
    # global single-partition sort over the part dim)
    plan = formatted_plan(fuzzy_part_linkage(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    from dbtransfer_spark.operators.cdc import sorted_neighborhood_pairs

    plan = formatted_plan(sorted_neighborhood_pairs(spark, SF_SMOKE))
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "windowspecdefinition(p_brand" in ln, ln

    # join_cardinality_preflight: no fact-to-fact join — the only joins
    # are between count tables and the two 1-row total broadcasts
    df = skew.join_cardinality_preflight(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan or "count" in plan.lower()
    # per-key scans are column-pruned to the single join key; the r14
    # side-total scans (bare count(*), guide §1.2 — they no longer
    # re-run the per-key aggregates) are pruned to ZERO columns
    cols = read_schema_columns(df)
    assert cols and all(len(c) <= 1 for c in cols), cols
    assert sum(len(c) for c in cols) == 2, cols  # 2 keyed + 2 empty scans


def test_countmin_sketch_state_is_constant(spark):
    """The CMS build aggregates onto d*w cells regardless of SF — the
    sketch table must be at most 512 rows at ANY scale."""
    from dbtransfer_spark.operators.skew import countmin_heavy_hitters

    out = countmin_heavy_hitters(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 20
    # estimate is an upper bound on the exact count for every probe key
    assert all(r["overcount"] >= 0 for r in out)
    assert all(r["cms_est"] >= r["exact_n"] for r in out)


def test_r7s2_operator_plan_shapes(spark):
    """Round-7 session-2 operators' scale contracts, plan-asserted."""
    import re

    from dbtransfer_spark.registry import QUERIES

    # item_cf_cosine2_topk: candidate generation must carry NO
    # fact-to-fact join — r14: pair counts come from the session-shared
    # co-purchase edge frame (its build is the zero-join in-array
    # explode) and the denominator is one distinct-first fact
    # aggregate; the only joins are against the dimension-sized
    # per-item count table. Count numbered operator headers, not raw
    # tree lines: once the shared edge frame is materialized (by any
    # earlier query in the session), its InMemoryRelation inlines the
    # cached build's Final/Initial plans, whose display-only scan lines
    # would inflate a naive tree.count("Scan parquet").
    plan = formatted_plan(QUERIES["item_cf_cosine2_topk"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan

    # column_domain_overlap: the staged domain frame serves every
    # consumer — static plan shows cached scans, one parquet scan per
    # profiled column entry only
    plan = formatted_plan(QUERIES["column_domain_overlap"](spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan, "domain frame must be staged"
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 12, n_scans

    # watermark_cost_curve: ALL four thresholds ride ONE window pass —
    # exactly one Window node, one scan
    plan = formatted_plan(QUERIES["watermark_cost_curve"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree

    # predicate_selectivity_audit: one scan computes all eight counts
    plan = formatted_plan(
        QUERIES["predicate_selectivity_audit"](spark, SF_SMOKE)
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in plan, plan

    # snapshot_table_diff: exactly one join (the full-outer key join),
    # collapsing into a single-row aggregate — no second pass
    plan = formatted_plan(QUERIES["snapshot_table_diff"](spark, SF_SMOKE))
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1, plan
    assert "FullOuter" in plan, plan

    # token_id_encode_checksum: the vocab side must BROADCAST onto the
    # token stream (256 rows), never shuffle the fact side for the join
    df = QUERIES["token_id_encode_checksum"](spark, SF_SMOKE)
    assert has_broadcast_join(df)

    # weighted_median_by_flag (r13 histogram rewrite): one partial-
    # aggregated exchange builds the (flag, cents) value histogram, both
    # window frames share ONE exchange on the flag partitioning (no
    # second shuffle for the totals window), plus the final 3-row sort —
    # and the windows run over |distinct cents| rows, never fact rows
    df = QUERIES["weighted_median_by_flag"](spark, SF_SMOKE)
    assert count_exchanges(df) <= 3, formatted_plan(df)
    plan = formatted_plan(df)
    # both window nodes stacked on ONE sort+exchange (no re-shuffle)
    assert re.search(
        r"\(\d+\) Window\n\s*\+- Window", plan
    ) or re.search(r"Window \(\d+\)\n\s*\+- Window", plan), plan
    assert plan.count("HashAggregate") >= 2, plan  # partial+final histogram


def test_winsorize_histogram_percentile_partial_aggregated(spark):
    """r12 VERDICT #1: the p05/p95 cutpoints must come from the
    histogram percentile (partial-aggregated HashAggregate everywhere),
    never the typed-imperative Percentile that collects a group's full
    value multiset into one reducer; the only window partitions by flag
    over |distinct cents| rows."""
    df = Q.winsorize_prices(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "percentile" not in plan.lower(), plan
    assert "ObjectHashAggregate" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × stages


def test_bench_charges_shared_edge_build_before_family_consumers():
    """r12 VERDICT #2: the bench HEADLINE must time the shared co-purchase
    edge build as its own line BEFORE any family consumer, so family rows
    measure post-build residuals order-independently."""
    import bench

    idx_build = bench.HEADLINE.index("copurchase_edges_build")
    family = [
        q
        for q in bench.HEADLINE
        if q
        in {
            "link_prediction_common_neighbors",
            "item_cf_cosine2_topk",
            "market_basket_pairs",
            "copurchase_triangles",
            "degree_assortativity",
            "kcore_peel_rounds",
        }
    ]
    assert family, "no family consumer left in HEADLINE?"
    assert all(bench.HEADLINE.index(q) > idx_build for q in family)


def test_family_one_row_queries_internal_plans_auditable(spark):
    """copurchase_triangles / degree_assortativity return eagerly
    materialized literal frames (query-local cache release, r12 ADVICE),
    which hides their real plans from the query-level audit — so the
    internal builders are pinned here instead: shuffle-hash adjacency
    joins (r12), stats-gated degree broadcasts, no cartesian."""
    from dbtransfer_spark.operators.graph import (
        _copurchase_triangles_plan,
        _degree_assortativity_plan,
    )

    df, qlocals = _copurchase_triangles_plan(spark, SF_SMOKE)
    try:
        plan = formatted_plan(df)
        assert "ShuffledHashJoin" in plan, plan  # adjacency-array attach
        assert "CartesianProduct" not in plan, plan
        assert has_broadcast_join(df)  # smoke-size deg passes the gate
    finally:
        for f in qlocals:
            f.unpersist()
    df, qlocals = _degree_assortativity_plan(spark, SF_SMOKE)
    try:
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, plan
        assert has_broadcast_join(df)
    finally:
        for f in qlocals:
            f.unpersist()


def test_kcore_internal_plan_is_bounded_checkpoint_union(spark):
    """r14: kcore_peel_rounds also materializes eagerly now (so its
    kth/per-round reliable checkpoints can be freed before returning —
    the last durable-file leak from r13 ADVICE). The internal builder
    stays auditable here: its output is a union of the ≤4 per-round
    1-row checkpointed stats frames (each round's real iterative work —
    degree agg, broadcasted kth threshold, semi-join peel — runs inside
    ``cut_lineage``), so the residual plan must be checkpoint scans
    only: no join of any kind, no shuffle beyond the 4-row sort."""
    from dbtransfer_spark.operators.graph import _kcore_peel_rounds_plan
    from dbtransfer_spark.operators.iterative import free_local_checkpoint

    df, checkpoints = _kcore_peel_rounds_plan(spark, SF_SMOKE)
    try:
        assert len(checkpoints) == 5  # kth + rounds 0-3 stats
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "Join" not in plan, plan  # all joins consumed pre-checkpoint
        tree = plan.split("\n\n")[0]
        # 4 checkpointed round frames unioned, nothing recomputable
        assert tree.count("Scan ExistingRDD") == 4, tree
        assert df.count() == 4
    finally:
        for f in checkpoints:
            free_local_checkpoint(f)


def test_approx_sketches_exact_reference_is_histogram_percentile(spark):
    """r13 VERDICT #5: approx_sketches' exact reference median must come
    from the shared histogram-percentile recipe (partial-aggregated
    HashAggregate + domain-bounded windows), never the typed-imperative
    Percentile over fact rows. The GK sketch (approx_percentile) keeps
    its own ObjectHashAggregate pair — O(accuracy) state, it IS the
    demonstrated sketch — and every join broadcasts."""
    import re

    from dbtransfer_spark.registry import QUERIES as LIBQ

    df = LIBQ["approx_sketches"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    # no exact percentile aggregate anywhere (approx_percentile is fine)
    assert not re.search(r"(?<!approx_)percentile\(", plan), plan
    # ObjectHashAggregate only for the GK sketch side: partial + final
    assert plan.count("ObjectHashAggregate (") == 2, plan
    # the two percentile windows (cum + total) share ONE sort/exchange
    tree = plan.split("\n\n")[0]
    assert tree.count("Window (") == 2, tree
    assert tree.count("Sort (") == 1, tree
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pca_power_sketch_plan_one_scan_reduce(spark):
    """r14: embedding_pca_power_top1 is eager (the 8×8 power iteration
    runs in exact driver ints after a 1-row collect — guide §5), which
    hides its plan from the query-level audit; the heavy half is pinned
    here instead: ONE parquet scan feeding a partial+final HashAggregate
    pair with a single 1-partition exchange — no joins, no windows, no
    stack fanout before the reduce."""
    from dbtransfer_spark.operators.similarity import _pca_comoment_plan

    df = _pca_comoment_plan(spark, SF_SMOKE)
    plan = formatted_plan(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert count_exchanges(df) == 1, tree
    assert "Join" not in plan and "Window" not in tree, tree
    assert plan.count("HashAggregate (") == 2, tree


def test_pca_power_trunc_div_matches_spark_div():
    """_trunc_div must reproduce Spark SQL's BIGINT ``div`` (truncation
    toward zero) including on negative numerators, where Python's //
    floors instead."""
    from dbtransfer_spark.operators.similarity import _trunc_div

    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # Python -7 // 2 == -4
    assert _trunc_div(0, 5) == 0
    assert _trunc_div(-1, 1000000) == 0
