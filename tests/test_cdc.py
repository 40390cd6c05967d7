"""CDC/SCD2 merge and blocked fuzzy-linkage operators."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _ts(s):
    return datetime.fromisoformat(s)


def test_scd2_collapses_idempotent_updates_and_builds_intervals(spark):
    from dbtransfer_spark.registry import QUERIES

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 7, "view", 0.0, None),
        (2, _ts("2024-01-02T00:00:00"), 7, "view", 0.0, None),     # idempotent → collapsed
        (3, _ts("2024-01-03T00:00:00"), 7, "click", 0.0, None),
        (4, _ts("2024-01-03T00:00:00"), 7, "purchase", 0.0, None), # same ts: event_id breaks tie
        (5, _ts("2024-01-01T00:00:00"), 8, "signup", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import dbtransfer_spark.operators.cdc as cdc_mod
    orig = cdc_mod.load_table
    cdc_mod.load_table = lambda sp, d, name: df  # events only in this query
    try:
        hist = {(r["user_id"], r["event_type"]): r for r in QUERIES["scd2_history"](spark, "ignored").collect()}
    finally:
        cdc_mod.load_table = orig
    assert len(hist) == 4                                   # 5 events, 1 collapsed
    v = hist[(7, "view")]
    assert v["valid_from"] == _ts("2024-01-01T00:00:00")    # first, not second, view
    assert v["valid_to"] == _ts("2024-01-03T00:00:00") and not v["is_current"]
    c = hist[(7, "click")]
    assert c["valid_to"] == _ts("2024-01-03T00:00:00")      # closed by same-ts purchase
    assert hist[(7, "purchase")]["is_current"]
    assert hist[(8, "signup")]["is_current"]


def test_cdc_merge_update_delete_insert_passthrough(spark):
    from dbtransfer_spark.registry import QUERIES

    cust = spark.createDataFrame(
        [(1, "alice", 0, 10.0, "A"), (2, "bob", 0, 20.0, "A"), (3, "carol", 0, 30.0, "A")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), 1, "click", 99.0, None),   # update alice
            (2, _ts("2024-01-02T00:00:00"), 2, "error", 0.0, None),    # delete bob
            (3, _ts("2024-01-01T00:00:00"), 9, "signup", 5.0, None),   # insert user 9
            (4, _ts("2024-01-03T00:00:00"), 1, "view", 42.0, None),    # later update wins
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import dbtransfer_spark.operators.cdc as cdc_mod
    orig = cdc_mod.load_table
    cdc_mod.load_table = lambda sp, d, name: {"customer": cust, "events": ev}[name]
    try:
        out = {r["custkey"]: r for r in QUERIES["cdc_apply_merge"](spark, "x").collect()}
    finally:
        cdc_mod.load_table = orig
    assert set(out) == {1, 3, 9}                      # bob deleted
    assert out[1]["status"] == "updated" and out[1]["acctbal"] == 42.0
    assert out[3]["status"] == "unchanged" and out[3]["acctbal"] == 30.0
    assert out[9]["status"] == "inserted" and out[9]["name"] == "cdc-insert-9"


def test_fuzzy_linkage_blocks_and_distances(spark):
    from dbtransfer_spark.registry import QUERIES

    pairs = QUERIES["fuzzy_part_linkage"](spark, SF_SMOKE).collect()
    assert pairs, "smoke fixture should contain same-name part pairs"
    for r in pairs:
        assert r["partkey_a"] < r["partkey_b"]
        assert 0 <= r["dist"] <= 3
        # blocking key respected: same first token
        assert r["name_a"].split(" ")[0] == r["name_b"].split(" ")[0]


def test_fellegi_sunter_empty_candidate_set_returns_no_rows(spark):
    """r14 ADVICE: with zero candidate pairs the global-agg rewrite used
    to emit 3 all-NULL rows where the pre-r14 groupBy form returned 0
    rows; the stats filter must restore the 0-row degenerate shape."""
    from dbtransfer_spark.registry import QUERIES

    # One part per (brand, size) block → no ka < kb pair anywhere.
    df = spark.createDataFrame(
        [(1, "BrandA", 5, "azure linen", "TYPE X", 10.0)],
        "p_partkey long, p_brand string, p_size int, p_name string,"
        " p_type string, p_retailprice double",
    )
    import dbtransfer_spark.operators.cdc as cdc_mod

    orig = cdc_mod.load_table
    cdc_mod.load_table = lambda sp, d, name: df
    try:
        out = QUERIES["fellegi_sunter_weights"](spark, "ignored").collect()
    finally:
        cdc_mod.load_table = orig
    assert out == []
