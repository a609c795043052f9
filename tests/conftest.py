"""Shared fixtures: one SparkSession per test session, synthetic capex
fixtures covering the quirk rows of FIXTURES.md §1, and (when available)
access to the read-only reference implementation for differential tests.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

REFERENCE_DIR = os.environ.get("CAPEX_REFERENCE_DIR", "/root/reference")
TESTDATA_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from capex_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="capex-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture
def same_rows_any_join(spark):
    """Join-strategy A/B: ``check(build)`` runs the zero-argument
    DataFrame builder twice, once under the session's
    ``autoBroadcastJoinThreshold`` and once with it at ``-1`` (no
    planner broadcasts), asserts equal sorted rows and returns them.
    The conf is restored afterwards. This is the spark-rapids
    ``assert_gpu_and_cpu_are_equal_collect`` pattern with the join
    strategy as the mechanism switched off."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    def collect(build):
        return sorted(map(tuple, build().collect()), key=repr)

    def check(build):
        before = spark.conf.get(key)
        try:
            planned = collect(build)
            spark.conf.set(key, "-1")
            shuffled = collect(build)
        finally:
            spark.conf.set(key, before)
        assert planned == shuffled
        assert planned, "empty result: the A/B compared nothing"
        return planned

    return check


def _dead_jvm_status(report) -> str | None:
    """How the session's JVM died, or None while it lives (or was never
    started). Dead = the Py4J gateway's process has exited, or the
    failure is a refused connection to it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return None
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is not None:
        return f"pid {proc.pid} exited with status {proc.returncode}"
    if "ConnectionRefusedError" in report.longreprtext:
        return "the Py4J gateway refused the connection"
    return None


@pytest.hookimpl(trylast=True)
def pytest_runtest_logreport(report):
    """Stop the session at the first failure caused by a dead JVM: every
    later Spark test would fail with the same ConnectionRefusedError."""
    status = _dead_jvm_status(report) if report.failed else None
    if status is not None:
        pytest.exit(
            f"the Spark session JVM died during {report.nodeid} ({status}); "
            "later tests cannot run. If the kernel killed it, its OOM log "
            "says why: dmesg | grep -i -A3 'out of memory'",
            returncode=1,
        )


def pytest_terminal_summary(terminalreporter):
    """Count the tests that skipped because the reference checkout is
    absent, so a parity gap never passes as green."""
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and "reference" in rep.longrepr[2]
    )
    if n:
        terminalreporter.write_line(
            f"reference parity: {n} skipped ({REFERENCE_DIR} absent)"
        )


def _load_reference_module():
    """Import the read-only reference pipeline for differential testing.
    Returns None when unavailable (tests that need it will skip)."""
    path = os.path.join(REFERENCE_DIR, "process_capex.py")
    if not os.path.exists(path):
        return None
    spec = importlib.util.spec_from_file_location("reference_process_capex", path)
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    except Exception:
        return None
    return mod


@pytest.fixture(scope="session")
def reference_mod():
    mod = _load_reference_module()
    if mod is None:
        pytest.skip("reference implementation not available")
    return mod


# --- synthetic capex fixture (FIXTURES.md §1 quirk rows) -------------------

RAW_COLUMNS = [
    "RequestNo", "RequestDate", "RequestType", "AssetFacilityType",
    "CapexRequestAmount", "RegionCode", "BranchCode", "BranchName",
    "RequestBU", "RequestFunction", "IsBudgeted", "BudgetRefNo",
    "UserRemarks", "CurrentStatus", "LastActionDate", "LastActionRemarks",
    "LastActionRejectionReason", "LastActionBy", "AssetCategoryName",
    "AssetItemName", "VendorProcType", "ItemCategory",
    "ItemRatePerQtyForCentralProcItems", "AssetItemQty",
    "AssetItemRatePerQty", "AssetAddlCharges", "AssetAddlChargesRemarks",
    "AssetItemAmount", "AssetItemRemarks", "VendorName",
    "Vendor_RatePerQty", "Vendor_TotalAmount", "Vendor_DeliveryPeriod",
    "Vendor_PaymentTerms", "IsSelectedVendor",
]


def make_raw_row(
    request_no="CPX-A/A/202526/0001",
    request_date="17-04-2025",
    status="Approved",
    function="Ops",
    category="COMPUTER",
    item="Desktop Workstation",
    item_category="ITASSETS-OPS",
    remarks="standard request",
    vendor="Acme Corp",
    selected="Yes",
    branch="A01",
    amount=1000.0,
):
    return {
        "RequestNo": request_no,
        "RequestDate": request_date,
        "RequestType": "Asset",
        "AssetFacilityType": "Asset",
        "CapexRequestAmount": amount,
        "RegionCode": "A",
        "BranchCode": branch,
        "BranchName": "Branch " + str(branch),
        "RequestBU": "Dom Exp",
        "RequestFunction": function,
        "IsBudgeted": "Yes",
        "BudgetRefNo": None,
        "UserRemarks": remarks,
        "CurrentStatus": status,
        "LastActionDate": "18-04-2025",
        "LastActionRemarks": None,
        "LastActionRejectionReason": None,
        "LastActionBy": "approver ",
        "AssetCategoryName": category,
        "AssetItemName": item,
        "VendorProcType": "Local",
        "ItemCategory": item_category,
        "ItemRatePerQtyForCentralProcItems": 0.0,
        "AssetItemQty": 1,
        "AssetItemRatePerQty": amount,
        "AssetAddlCharges": 0.0,
        "AssetAddlChargesRemarks": None,
        "AssetItemAmount": amount,
        "AssetItemRemarks": None,
        "VendorName": vendor,
        "Vendor_RatePerQty": amount,
        "Vendor_TotalAmount": amount,
        "Vendor_DeliveryPeriod": "30 days",
        "Vendor_PaymentTerms": "30 days",
        "IsSelectedVendor": selected,
    }


def synthetic_raw_rows() -> list[dict]:
    """Quirk rows per FIXTURES.md §1 — each exercises one rule edge."""
    r = make_raw_row
    rows = [
        # F1: rejected in mixed case
        r(request_no="R001", status="REJECTED  "),
        r(request_no="R001b", status="rejected"),
        # F2: '-' vendor removed, NaN vendor kept
        r(request_no="R002", selected="-", item="Server Rack Unit"),
        r(request_no="R003", selected=None, vendor=None, item="Server Cabinet"),
        # F3: lowercase vigilance; Sales
        r(request_no="R004", function="vigilance"),
        r(request_no="R005", function="Sales"),
        # F4: fan vs fans vs words containing fan
        r(request_no="R006", item="Ceiling Fans"),
        r(request_no="R007", item="Industrial Fan"),
        r(request_no="R008", item="Fanfold Paper Tray"),  # kept: \bfans?\b no match
        # F4: fire extinguisher misspelling
        r(request_no="R009", item="Fire Extingushier 9kg"),
        # F4: AC with and without context
        r(request_no="R010", item="Split AC 2 Ton"),
        r(request_no="R011", item="AC Unit", remarks="for server room"),  # no ctx word in combined -> kept? 'Unit' no; but 'AC Unit' alone
        r(request_no="R012", item="Storage Rack AC"),  # AC without context kept
        # F4: stool-ops, cctv
        r(request_no="R013", item="STOOL - Ops"),
        r(request_no="R014", item="CCTV - BRANCH"),
        r(request_no="R015", item="Dome Camera 4MP"),
        # F5 via P1: typo categories normalize; SOFTWARE removed
        r(request_no="R016", category="LEASEHOLD IMPROVEMENTS", item="Flooring Work"),
        r(request_no="R017", category="SOFTWARE", item="ERP License"),
        # P2: furniture typo -> P&M unless exempt item
        r(request_no="R018", category="FURINTURE", item="Storage Cabinet"),
        r(request_no="R019", category="OFFICE EQUIPTMENTS", item="Heavy Duty Stools"),  # exempt (Stools)
        r(request_no="R020", category="OFFICE EQPT", item="Conveyor Motor"),
        # F6: personal devices + negation
        r(request_no="R021", item="Laptop Dell 5420"),
        r(request_no="R022", remarks="no laptop required, warehouse kit", item="Trolley Large"),
        r(request_no="R023", remarks="need macbook pro for design", item="Workstation"),
        r(request_no="R024", item="Rugged Tablet Mount", remarks=None),
        # F7: DS word vs inside word; dark store; counter w/ legit item
        r(request_no="R025", remarks="for DS hub setup", item="Weighing Scale"),
        r(request_no="R026", remarks="feeds processing", item="Weighing Scale B"),
        r(request_no="R027", remarks="dark store expansion", item="Shelving"),
        r(request_no="R028", remarks="new counter for billing", item="Billing Kiosk"),
        r(request_no="R029", remarks="counter installation", item="Table - Counter"),  # legit item kept
        # F8/F9: IT + test remarks; approval statuses
        r(request_no="R030", function="IT", remarks="pilot run for sorting", item="Scanner Gun"),
        r(request_no="R031", function="IT", remarks="production rollout", item="Scanner Gun B"),
        r(request_no="R032", status="Approval in Progress", item="Dock Leveler"),
        r(request_no="R033", status="Sent for Approval", remarks="demo setup", item="Dock Shelter"),
        r(request_no="R034", status="Sent for Approval", remarks="expansion phase 2", item="Dock Shelter B"),
        # F14: substring semantics — 'latest' contains 'test'; 'industrial' kept at F8 but…
        r(request_no="R035", remarks="latest spec conveyor", item="Conveyor X"),
        r(request_no="R036", remarks="industrial grade pallet", item="Pallet Jack"),
        # Admin / Ops through IT rows (the reference crashes if a
        # RequestFunction group is empty at its split-filter stage)
        r(request_no="R048", function="Admin", remarks="personal use cabin", item="Cabin Fitout"),
        r(request_no="R049", function="Admin", remarks="branch refurb", item="Paneling"),
        r(request_no="R050", function="Ops through IT", remarks="trial deployment", item="Handheld Terminal"),
        r(request_no="R051", function="Ops through IT", remarks="full deployment", item="Handheld Terminal B"),
        # P3: X-Ray/DWS/Sorter/TBC
        r(request_no="R037", category="PLANT & MACHINERY", item="X-Ray Baggage Machine"),
        r(request_no="R038", category="PLANT & MACHINERY", item="DWS System"),
        r(request_no="R039", category="PLANT & MACHINERY", item="Sorter Arm Extension"),
        # P4: AMC / Rental overlap (last-wins Rental_Opex)
        r(request_no="R040", item="AMC for Lease Equipment"),
        r(request_no="R041", item="Annual Maintenance Contract - Gensets"),
        # J1b: unmapped branch + regioncode in remarks
        r(request_no="R042", branch="ZZZ", remarks="capex for BLR facility", item="Racking"),
        r(request_no="R043", branch="ZZZ", remarks="central purchase", item="Racking B"),
        # MUM region rows (branch mapped to MUMBAI region)
        r(request_no="R044", branch="M01", item="Conveyor Belt 20m"),
        # W1: >5 rows for one RequestNo with mixed statuses
        *[
            r(
                request_no="R045",
                status=["Approved", "Sent for Approval", "Approval in Progress"][i % 3],
                selected=["Yes", "-", None][i % 3],
                item=f"Bulk Item {i}",
                amount=100.0 + i,
            )
            for i in range(7)
        ],
        # exact duplicate (key, amount) pair
        r(request_no="R046", item="Dup Item", amount=500.0),
        r(request_no="R046", item="Dup Item", amount=500.0),
        # cp1252-ish byte: en dash
        r(request_no="R047", remarks="budget – approved", item="Mezzanine Floor"),
    ]
    return rows


OFFICE_ROWS = [
    # zone, region, city, office, name, lat, lon, regioncode
    ("WEST", "MUMBAI", "Mumbai", "M01", "Mumbai Hub", 19.07, 72.87, "MUM"),
    ("SOUTH", "BANGALORE", "Bangalore", "B01", "Bangalore Hub", 12.97, 77.59, "BLR"),
    ("NORTH", "DELHI", "Delhi", "D01", "Delhi Hub", 28.61, 77.20, "DEL"),
    ("EAST", "KOLKATA", "Kolkata", "K01", "Kolkata Hub", 22.57, 88.36, "KOL"),
    ("WEST", "AHMEDABAD", "Ahmedabad", "A01", "Ahmedabad Hub", 23.02, 72.57, "AMD"),
]


@pytest.fixture(scope="session")
def office_pdf():
    import pandas as pd

    return pd.DataFrame(
        OFFICE_ROWS,
        columns=["zone", "region", "city", "office", "name", "lat", "lon", "regioncode"],
    )


@pytest.fixture(scope="session")
def raw_pdf():
    import numpy as np
    import pandas as pd

    df = pd.DataFrame(synthetic_raw_rows(), columns=RAW_COLUMNS)
    # CSV-faithful missing values: the reference ingests via read_csv, where
    # missing cells are NaN (astype(str) -> 'nan'), never Python None
    # (astype(str) -> 'None'). Spark null == pandas NaN on that path.
    return df.where(df.notna(), np.nan)


@pytest.fixture(scope="session")
def raw_sdf(spark, raw_pdf):
    from capex_data_pipeline_spark.schemas import CAPEX_RAW_SCHEMA

    return spark.createDataFrame(raw_pdf, schema=CAPEX_RAW_SCHEMA)


@pytest.fixture(scope="session")
def office_sdf(spark, office_pdf):
    from capex_data_pipeline_spark.schemas import OFFICE_LOCATION_SCHEMA

    return spark.createDataFrame(office_pdf, schema=OFFICE_LOCATION_SCHEMA)

