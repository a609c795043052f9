"""Operator edge semantics: date parsing modes, W1 tie routing, audit
attribution, summary shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capex_data_pipeline_spark.operators.aggregates import (
    analytics_summary,
    parse_request_date,
    summary_report,
    value_counts,
)
from capex_data_pipeline_spark.operators.audit import build_audit
from capex_data_pipeline_spark.operators.rules import (
    PASS_A,
    accumulate_pass,
    init_tags,
)
from capex_data_pipeline_spark.operators.windows import select_representative_rows


def test_date_parsing_default_dayfirst(spark):
    df = spark.createDataFrame(
        [("17-04-2025",), ("05-06-2025",), ("garbage",), (None,)], "RequestDate string"
    )
    got = {str(r.RequestDate) for r in parse_request_date(df).collect()}
    assert got == {"2025-04-17", "2025-06-05", "None"}


def test_date_parsing_legacy_monthfirst_bug(spark):
    """legacy_dates reproduces the reference's pd.to_datetime default:
    ambiguous values parse month-first, unambiguous fall back day-first
    (process_capex.py:928, quirk register)."""
    df = spark.createDataFrame(
        [("17-04-2025",), ("05-06-2025",)], "RequestDate string"
    )
    got = {str(r.RequestDate) for r in parse_request_date(df, legacy_dates=True).collect()}
    assert got == {"2025-04-17", "2025-05-06"}


def _w1_frame(spark, rows):
    cols = "RequestNo string, AssetItemName string, CurrentStatus string, IsSelectedVendor string, RequestFunction string, _row_id long"
    return spark.createDataFrame(rows, cols)


def test_w1_small_groups_keep_all(spark):
    rows = [("R1", f"i{i}", "Approved", "Yes", "Ops", i) for i in range(3)]
    rows += [("R2", f"i{i}", "Approved", "Yes", "Ops", 10 + i) for i in range(5)]
    out = select_representative_rows(_w1_frame(spark, rows))
    counts = {r.RequestNo: r.n for r in out.groupBy("RequestNo").agg(F.count("*").alias("n")).collect()}
    assert counts == {"R1": 3, "R2": 5}


def test_w1_caps_at_five_highest_priority(spark):
    rows = [
        ("R1", "low1", "Rejected", None, "Ops", 0),
        ("R1", "hi1", "Approved", "Yes", "Ops", 1),
        ("R1", "hi2", "Approved", "Yes", "Ops", 2),
        ("R1", "hi3", "Approved", None, "Ops", 3),
        ("R1", "mid1", "Sent for Approval", None, "Ops", 4),
        ("R1", "mid2", "Sent for Approval", None, "Ops", 5),
        ("R1", "low2", "Rejected", None, "Ops", 6),
    ]
    out = select_representative_rows(_w1_frame(spark, rows))
    kept = {r.AssetItemName for r in out.collect()}
    # distinct priorities: 110,110,100,50,50,0,0 — unique top-5 set
    assert kept == {"hi1", "hi2", "hi3", "mid1", "mid2"}


def test_w1_boundary_tie_matches_reference(spark, reference_mod):
    """A priority tie straddling rank 5 routes through the pandas-replay
    path; the kept set must equal the reference's for the same frame."""
    import contextlib
    import io

    import pandas as pd

    rows = [
        ("R1", f"item{i}", "Approved", "Yes", "Ops", i) for i in range(8)
    ]  # 8 rows all priority 110 -> ambiguous boundary
    pdf = pd.DataFrame(
        rows,
        columns=["RequestNo", "AssetItemName", "CurrentStatus", "IsSelectedVendor", "RequestFunction", "_row_id"],
    ).drop(columns=["_row_id"])
    with contextlib.redirect_stdout(io.StringIO()):
        ref_out = reference_mod.select_representative_rows_per_requestno(pdf.copy())
    ref_kept = sorted(ref_out["AssetItemName"].tolist())

    out = select_representative_rows(_w1_frame(spark, rows))
    got = sorted(r.AssetItemName for r in out.collect())
    assert got == ref_kept


def test_audit_records_last_removing_rule(spark):
    """A key whose rows die under different rules is attributed to the
    rule that removed its LAST row (reference semantics: a key is only
    recorded once no row carries it, process_capex.py:197-220)."""
    from tests.conftest import RAW_COLUMNS, make_raw_row

    import pandas as pd

    rows = [
        # same robust key pieces; row 1 dies at F1 (rejected), row 2 at F3
        make_raw_row(request_no="K1", item="Shared Item", status="Rejected"),
        make_raw_row(request_no="K1", item="Shared Item", function="Sales"),
        # a key where one row survives: must NOT be audited
        make_raw_row(request_no="K2", item="Other Item", status="Rejected"),
        make_raw_row(request_no="K2", item="Other Item"),
    ]
    pdf = pd.DataFrame(rows, columns=RAW_COLUMNS)
    from capex_data_pipeline_spark.schemas import CAPEX_RAW_SCHEMA

    df = init_tags(
        spark.createDataFrame(pdf, schema=CAPEX_RAW_SCHEMA).withColumn(
            "_row_id", F.monotonically_increasing_id()
        )
    )
    tagged = accumulate_pass(df, PASS_A)
    kept = tagged.filter(F.col("_excl_order").isNull())
    audit = build_audit([tagged.filter(F.col("_excl_order").isNotNull())], kept)
    rows_a = {r.CompositeKey: r.label for r in audit.collect()}
    assert rows_a == {
        "K1|Shared Item|Acme Corp": "3: Removed RequestFunction (CS/FA/Sales/Channel/Vigilance)"
    }


def test_summary_shapes(spark, raw_sdf, office_sdf):
    from capex_data_pipeline_spark.plans.pipeline import run_pipeline

    res = run_pipeline(raw_sdf, office_sdf)
    rep = summary_report(res.processed)
    assert set(rep) == {"Zone", "AssetCategoryName", "RequestFunction", "CurrentStatus", "totals"}
    totals = rep["totals"].collect()[0]
    assert totals["total_records"] == res.processed.count()
    a = analytics_summary(res.processed, "Zone")
    assert set(a.columns) == {"Zone", "Count", "Total_Amount", "Average_Amount"}
    vc = value_counts(res.processed, "Zone").collect()
    assert sum(r["count"] for r in vc) == res.processed.count()


def test_zone_fallback_sees_overlapping_region_codes(spark):
    """The remarks fallback must reproduce the reference's per-code
    re.search (process_capex.py:268-279): every code that occurs
    ANYWHERE in the remark competes, and the smallest dict position
    wins. A plain (non-lookahead) alternation scan consumes its match,
    so 'NEW DELHI' at pos 0 hides the overlapping 'DELHI' at pos 4 and
    the later-dict-order code would win — this pins the lookahead fix."""
    import re

    from capex_data_pipeline_spark.operators.joins import add_zone_region

    # dict order: DELHI first, NEW DELHI second (regioncode first
    # occurrence fixes priority); branch codes never match -> fallback
    office = spark.createDataFrame(
        [
            ("B_D", "North", "Delhi NCR", "DELHI"),
            ("B_ND", "Capital", "New Delhi", "NEW DELHI"),
            ("B_G", "West", "Goa", "GOA"),
        ],
        "office string, zone string, region string, regioncode string",
    )
    remarks = [
        "NEW DELHI office refresh",  # DELHI overlaps inside NEW DELHI -> DELHI wins
        "shift to NEW DELHI",        # same overlap, later in the string
        "GOA then NEW DELHI",        # GOA pos 2 vs DELHI pos 0 -> DELHI wins
        "only GOA here",
        "no codes at all",
        None,
    ]
    df = spark.createDataFrame([(f"X{i}", r) for i, r in enumerate(remarks)],
                               "BranchCode string, UserRemarks string")
    got = {
        r["BranchCode"]: (r["Zone"], r["Region"])
        for r in add_zone_region(df, office).collect()
    }

    # reference semantics, computed independently: first dict-order code
    # found anywhere in the remark wins
    dim = [("DELHI", ("North", "Delhi NCR")),
           ("NEW DELHI", ("Capital", "New Delhi")),
           ("GOA", ("West", "Goa"))]
    for i, rem in enumerate(remarks):
        text = str(rem) if rem is not None else "nan"
        want = ("Unknown", "Unknown")
        for code, zr in dim:
            if re.search(rf"\b{re.escape(code)}\b", text, re.IGNORECASE):
                want = zr
                break
        assert got[f"X{i}"] == want, (rem, got[f"X{i}"], want)


def _zones_by_dict(office_rows, branch_rows):
    """The reference's J1 branch lookup (process_capex.py:234-239): a
    dict of office -> (zone, region), last occurrence wins; unmatched
    branches fall to 'Unknown' (no region codes in these fixtures)."""
    branch = {o: (z, r) for o, z, r, _ in office_rows if o is not None}
    return {b: branch.get(b, ("Unknown", "Unknown")) for b, _ in branch_rows}


def _zones(spark, office_rows, branch_rows):
    from capex_data_pipeline_spark.operators.joins import add_zone_region

    office = spark.createDataFrame(
        office_rows, "office string, zone string, region string, regioncode string"
    )
    df = spark.createDataFrame(branch_rows, "BranchCode string, UserRemarks string")
    return {
        r["BranchCode"]: (r["Zone"], r["Region"])
        for r in add_zone_region(df, office).collect()
    }


def test_zone_branch_map_is_a_local_table_scan(spark, office_sdf):
    """The branch map is a LocalRelation: its broadcast reads a
    LocalTableScan on the driver, never a parallelized Python RDD
    (ExistingRDD), whose scan starts Python workers in every job; an
    empty map too."""
    from capex_data_pipeline_spark.operators.joins import build_zone_maps

    no_codes = office_sdf.withColumn("office", F.lit(None).cast("string"))
    for office in (office_sdf, no_codes):
        plan = build_zone_maps(office).by_branch._jdf.queryExecution()
        plan = plan.executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
    maps = build_zone_maps(office_sdf)
    want = {
        r["office"]: (r["zone"], r["region"])
        for r in office_sdf.collect()
        if r["office"] is not None
    }
    got = {r["_dim_office"]: (r["_zone_b"], r["_region_b"])
           for r in maps.by_branch.collect()}
    assert got == want


def test_zone_branch_map_without_office_codes_is_empty(spark):
    """An office frame with no non-null office code gives a zero-row,
    string-typed branch map; every row falls back (here to 'Unknown')."""
    from capex_data_pipeline_spark.operators.joins import build_zone_maps

    office_rows = [(None, "North", "Delhi NCR", None), (None, "West", "Goa", None)]
    office = spark.createDataFrame(
        office_rows, "office string, zone string, region string, regioncode string"
    )
    maps = build_zone_maps(office)
    assert maps.by_branch.count() == 0
    assert all(t == "string" for _, t in maps.by_branch.dtypes)
    branch_rows = [("A1", "x"), (None, None)]
    assert _zones(spark, office_rows, branch_rows) == _zones_by_dict(
        office_rows, branch_rows
    )


def test_zone_branch_map_quotes_and_backslashes(spark):
    """Codes and zone names with quotes and backslashes round-trip
    through the branch map's SQL literals; the last occurrence of a
    repeated code wins, as in the reference's dict."""
    office_rows = [
        ("B'1", "Zo'ne", "Re\\gion", None),
        ("B\\2", "Z\\one'", "R'", None),
        ("B'1", "Later'", "Wins\\", None),
        ("B3", None, "NoZone", None),
    ]
    branch_rows = [("B'1", None), ("B\\2", None), ("B3", None), ("B4", None)]
    got = _zones(spark, office_rows, branch_rows)
    want = _zones_by_dict(office_rows, branch_rows)
    # a null zone on a matched branch falls through to 'Unknown'
    want["B3"] = ("Unknown", "NoZone")
    assert got == want


def test_salted_join_matches_plain_join(spark):
    """Skewed inner/left joins through salted_join must produce exactly
    the plain join's multiset of rows — salting only changes HOW rows
    spread over reducers, never which pairs meet."""
    from capex_data_pipeline_spark.operators.joins import salted_join

    # 90%-hot key 1, plus keys absent from the right side (left-join nulls)
    left = spark.range(0, 2000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 1 ELSE CAST(id % 7 AS BIGINT) END AS k",
        "id AS left_id",
    )
    right = spark.range(0, 7).selectExpr("id AS k", "id * 100 AS right_val")
    for how in ("inner", "left"):
        plain = sorted(
            tuple(r) for r in left.join(right, ["k"], how).collect()
        )
        salted = sorted(
            tuple(r)
            for r in salted_join(left, right, "k", num_salts=8, how=how).collect()
        )
        assert salted == plain, how

    import pytest

    with pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, "k", how="full")


def test_salted_join_plan_partitions_on_salt(spark):
    """The mechanism, not just the algebra: the physical plan's shuffle
    must hash-partition on (k, _salt) so the hot key's rows spread over
    num_salts reducers — if a refactor drops _salt from the exchange the
    operator silently stops de-skewing."""
    from capex_data_pipeline_spark.operators.joins import salted_join

    left = spark.range(0, 2000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 1 ELSE CAST(id % 7 AS BIGINT) END AS k",
        "id AS left_id",
    )
    right = spark.range(0, 200).selectExpr("id AS k", "id * 100 AS right_val")
    # salting targets the no-broadcast regime; force a shuffle join so
    # the exchange's partitioning is observable
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            salted_join(left, right, "k", num_salts=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    exchanges = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert exchanges, plan
    assert any("_salt" in ln for ln in exchanges), plan


def test_salted_join_preserves_user_salt_column(spark):
    """A real '_salt' column on either input must survive untouched —
    the working column picks a non-colliding name instead of shadowing
    and then dropping user data."""
    from capex_data_pipeline_spark.operators.joins import salted_join

    left = spark.range(0, 50).selectExpr(
        "id % 5 AS k", "id AS left_id", "id * 2 AS _salt"
    )
    right = spark.range(0, 5).selectExpr("id AS k", "id * 100 AS right_val")
    out = salted_join(left, right, "k", num_salts=4)
    assert "_salt" in out.columns
    got = {(r.left_id, r._salt) for r in out.collect()}
    assert got == {(i, i * 2) for i in range(50)}


def test_contains_any_ci_empty_literals_both_paths(spark):
    """Empty literal lists must yield a valid, vacuously-false predicate
    on BOTH the string-name (SQL expr) path and the Column path — the
    SQL path used to emit '()', a parse error at plan build."""
    from pyspark.sql import functions as F

    from capex_data_pipeline_spark.operators.projections import contains_any_ci
    from capex_data_pipeline_spark.operators.rules import _contains_any_ci

    assert _contains_any_ci("AssetItemName", []) == "false"
    df = spark.createDataFrame([("laptop",), (None,)], ["AssetItemName"])
    via_name = df.select(contains_any_ci("AssetItemName", []).alias("m")).collect()
    via_col = df.select(
        contains_any_ci(F.col("AssetItemName"), []).alias("m")
    ).collect()
    assert [r.m for r in via_name] == [False, False]
    assert [r.m for r in via_col] == [False, False]
