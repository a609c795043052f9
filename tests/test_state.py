"""Durable incremental state (extensions/state.py): the persist-and-
fold layer for q198 (CC labels) and q199 (stats cells).

Two properties pinned here:
1. CORRECTNESS — a fold that reads persisted state equals the full
   from-scratch recompute (the same certificate q189/q184 carry, now
   across a disk round-trip).
2. PLAN — the state side of every fold join/aggregate has ZERO
   Exchange: the corpus-sized state streams from its buckets; only
   batch-sized frames shuffle. This is the 100 TB economics the
   persistence exists for.
"""

from __future__ import annotations

import re
import shutil

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _depth(line: str) -> int:
    m = re.search(r"[A-Za-z*(]", line)
    return m.start() if m is not None else len(line)


def _assert_state_scans_shuffle_free(plan: str, needle: str) -> int:
    """Every scan of the state table must reach its nearest Join
    ancestor without passing through an Exchange — i.e. the state side
    of the fold join never shuffles. Returns the number of state scans
    checked (must be > 0 for the assertion to mean anything)."""
    lines = plan.splitlines()
    scan_idx = [
        i for i, ln in enumerate(lines)
        if "Scan parquet" in ln and needle in ln
    ]
    assert scan_idx, f"no scans of {needle} in plan:\n{plan}"
    for i in scan_idx:
        cur = _depth(lines[i])
        for j in range(i - 1, -1, -1):
            dj = _depth(lines[j])
            if dj < cur:
                cur = dj
                # state-sized data ends at the first join OR the first
                # FINAL aggregate (a non-partial HashAggregate reduces
                # the state to a sketch-sized frame; what shuffles
                # above it is cells, not state)
                if "Join" in lines[j] or (
                    "HashAggregate" in lines[j]
                    and "partial_" not in lines[j]
                ):
                    break
                # a shuffle moves state rows over the network; a
                # BroadcastExchange of a batch-sized DERIVED frame does
                # not (and at 100 TB the state itself is never
                # broadcast-eligible — the pin tests force SMJ)
                assert not (
                    "Exchange" in lines[j]
                    and "BroadcastExchange" not in lines[j]
                ), (
                    f"state-side shuffle Exchange above scan:\n{lines[j]}\n"
                    f"full plan:\n{plan}"
                )
    return len(scan_idx)


# ------------------------------------------------------------------ CC


@pytest.fixture()
def cc_state(spark, tmp_path):
    from capex_data_pipeline_spark.extensions.graph import (
        connected_components,
    )
    from capex_data_pipeline_spark.extensions.state import save_cc_state
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    day0 = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "src long, dst long"
    )
    labels = connected_components(
        day0, until_fixpoint=True, assume_canonical=True
    )
    save_cc_state(
        labels, "t_cc_state_test", n_buckets=8,
        path=str(tmp_path / "cc_state"),
    )
    yield "t_cc_state_test"
    drop_table(spark, "t_cc_state_test")
    drop_table(spark, "t_cc_state_test2")


def test_cc_fold_persisted_matches_full_recompute(spark, cc_state):
    from capex_data_pipeline_spark.extensions.graph import (
        connected_components,
    )
    from capex_data_pipeline_spark.extensions.state import cc_fold_persisted

    new_edges = spark.createDataFrame(
        [(2, 3), (7, 8)], "src long, dst long"
    )
    folded = {
        (r["vertex"], r["component"])
        for r in cc_fold_persisted(spark, cc_state, new_edges).collect()
    }
    all_edges = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (2, 3), (7, 8)], "src long, dst long"
    )
    full = {
        (r["vertex"], r["component"])
        for r in connected_components(
            all_edges, until_fixpoint=True, assume_canonical=True
        ).collect()
    }
    assert folded == full
    assert folded == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5), (7, 7), (8, 7)
    }


def test_cc_fold_state_side_never_shuffles(spark, cc_state):
    from capex_data_pipeline_spark.extensions.state import cc_fold_persisted

    new_edges = spark.createDataFrame(
        [(2, 3), (7, 8)], "src long, dst long"
    )
    # at test scale Spark would broadcast the tiny state table, which
    # proves nothing about 100 TB; force the sort-merge path so the
    # bucketed layout is what carries the no-shuffle property
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(cc_fold_persisted(spark, cc_state, new_edges))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # relabel join + seen-vertex anti join: the state parquet scans in
    # the final plan never sit below a shuffle (the endpoint label
    # lookups are materialized inside the fixpoint loop and are pinned
    # separately below)
    n = _assert_state_scans_shuffle_free(plan, "t_cc_state_test")
    assert n >= 2, plan


def test_cc_state_label_lookup_shuffle_free(spark, cc_state):
    """The endpoint label lookup (new_edges joined to the labeling on
    vertex — the la/lb shape inside cc_incremental) streams the state
    from its buckets even through a rename: zero state-side shuffle."""
    new_edges = spark.createDataFrame(
        [(2, 3), (7, 8)], "src long, dst long"
    )
    la = spark.table(cc_state).select(
        F.col("vertex").alias("_va"), F.col("component").alias("_la")
    )
    probe = new_edges.select(F.col("src").alias("_va"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(probe.join(la, "_va", "left"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    _assert_state_scans_shuffle_free(plan, "t_cc_state_test")


def test_cc_fold_save_as_roundtrip(spark, cc_state, tmp_path):
    """Day-over-day loop: fold day1, write back, fold day2 from the
    written state — labels stay the global min member ids."""
    from capex_data_pipeline_spark.extensions.state import cc_fold_persisted

    day1 = spark.createDataFrame([(2, 3)], "src long, dst long")
    cc_fold_persisted(
        spark, cc_state, day1, save_as="t_cc_state_test2",
        save_path=str(tmp_path / "cc_state2"), n_buckets=8,
    )
    day2 = spark.createDataFrame([(4, 5)], "src long, dst long")
    out = {
        (r["vertex"], r["component"])
        for r in cc_fold_persisted(spark, "t_cc_state_test2", day2).collect()
    }
    assert out == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 1)
    }


# --------------------------------------------------------------- stats


@pytest.fixture()
def stats_state(spark, tmp_path):
    from capex_data_pipeline_spark.extensions.state import save_stats_cells
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    history = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    save_stats_cells(
        history,
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
        partition=F.date_trunc("day", F.col("o_orderdate")),
        table="t_stats_state_test",
        b=6,
        n_buckets=8,
        path=str(tmp_path / "stats_state"),
    )
    yield "t_stats_state_test"
    drop_table(spark, "t_stats_state_test")


def test_stats_fold_state_only_has_zero_exchange(spark, stats_state):
    """With no new batch, the whole fold — history-cell merge plus
    finalize — satisfies every distribution from the bucketed scan:
    the plan contains NO Exchange at all."""
    from capex_data_pipeline_spark.extensions.state import (
        stats_fold_persisted,
    )

    df = stats_fold_persisted(spark, stats_state)
    assert "Exchange" not in _plan(df), _plan(df)
    assert df.count() == 3


def test_stats_fold_matches_direct_scan(spark, stats_state):
    """Persisted-history + new-batch fold == direct whole-table stats
    (sketch-only columns), value for value."""
    from capex_data_pipeline_spark.extensions.sketches import table_stats
    from capex_data_pipeline_spark.extensions.state import (
        stats_fold_persisted,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    today = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
    assert today.count() > 0  # the fold must actually fold something
    folded = {
        r["column_name"]: (
            r["n_rows"], r["n_null"], r["null_frac"], r["avg_len"],
            r["ndv_est"],
        )
        for r in stats_fold_persisted(
            spark, stats_state, new_df=today, cols=cols
        ).collect()
    }
    direct = {
        r["column_name"]: (
            r["n_rows"], r["n_null"], r["null_frac"], r["avg_len"],
            r["ndv_est"],
        )
        for r in table_stats(orders, cols).collect()
    }
    assert folded == direct


def test_stats_fold_with_batch_state_side_shuffle_free(spark, stats_state):
    from capex_data_pipeline_spark.extensions.state import (
        stats_fold_persisted,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    today = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(
            stats_fold_persisted(
                spark, stats_state, new_df=today,
                cols=["o_orderkey", "o_orderstatus", "o_totalprice"],
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    _assert_state_scans_shuffle_free(plan, "t_stats_state_test")


def test_save_stats_cells_append_mode(spark, tmp_path):
    """Two days persisted by separate append calls fold identically to
    one combined write — the on-disk state is day-incremental."""
    from capex_data_pipeline_spark.extensions.sketches import table_stats
    from capex_data_pipeline_spark.extensions.state import (
        save_stats_cells,
        stats_fold_persisted,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cols = ["o_orderstatus", "o_totalprice"]
    d1 = orders.filter(F.col("o_orderdate") < F.lit("1995-01-01"))
    d2 = orders.filter(F.col("o_orderdate") >= F.lit("1995-01-01"))
    part = F.date_trunc("day", F.col("o_orderdate"))
    try:
        save_stats_cells(
            d1, cols, partition=part, table="t_stats_append_test",
            n_buckets=8, path=str(tmp_path / "append_state"),
        )
        save_stats_cells(
            d2, cols, partition=part, table="t_stats_append_test",
            n_buckets=8, path=str(tmp_path / "append_state"),
            mode="append",
        )
        folded = {
            r["column_name"]: (r["n_rows"], r["ndv_est"])
            for r in stats_fold_persisted(
                spark, "t_stats_append_test"
            ).collect()
        }
        direct = {
            r["column_name"]: (r["n_rows"], r["ndv_est"])
            for r in table_stats(orders, cols).collect()
        }
        assert folded == direct
    finally:
        drop_table(spark, "t_stats_append_test")


def test_cc_fold_three_day_chain_matches_oracle_each_day(
    spark, cc_state, tmp_path
):
    """Task r12-#4a: a >=3-day chained fold — each day's persisted
    fold equals the from-scratch connected components over all edges
    seen so far (oracle equality at EVERY day, not just the end)."""
    from capex_data_pipeline_spark.extensions.graph import (
        connected_components,
    )
    from capex_data_pipeline_spark.extensions.state import cc_fold_persisted
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    day_batches = [
        [(2, 3)],          # day 1: bridges {1,2} and {3,4}
        [(6, 7), (9, 10)], # day 2: extends {5,6}, new island {9,10}
        [(4, 9), (11, 12)],# day 3: merges big comp with {9,10}; new isl
    ]
    seen = [(1, 2), (3, 4), (5, 6)]
    state = cc_state
    try:
        for i, batch in enumerate(day_batches):
            edges = spark.createDataFrame(batch, "src long, dst long")
            nxt = f"t_cc_chain_day{i}"
            out = cc_fold_persisted(
                spark, state, edges, save_as=nxt,
                save_path=str(tmp_path / f"chain{i}"), n_buckets=8,
            )
            seen += batch
            full = {
                (r["vertex"], r["component"])
                for r in connected_components(
                    spark.createDataFrame(seen, "src long, dst long"),
                    until_fixpoint=True, assume_canonical=True,
                ).collect()
            }
            got = {
                (r["vertex"], r["component"]) for r in out.collect()
            }
            assert got == full, f"day {i}: {got} != {full}"
            state = nxt
    finally:
        for i in range(len(day_batches)):
            drop_table(spark, f"t_cc_chain_day{i}")


def test_compact_stats_cells_bounds_state_and_preserves_fold(
    spark, tmp_path
):
    """Task r12-#4b: compaction merges cells older than the horizon
    into one consolidated NULL-partition cell per (column, bucket) —
    state size becomes horizon-bounded — and a fold over compacted +
    fresh cells equals the full from-scratch recompute value-exactly."""
    from capex_data_pipeline_spark.extensions.sketches import table_stats
    from capex_data_pipeline_spark.extensions.state import (
        compact_stats_cells,
        save_stats_cells,
        stats_fold_persisted,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cols = ["o_orderstatus", "o_totalprice"]
    part = F.date_trunc("day", F.col("o_orderdate"))
    import datetime

    try:
        save_stats_cells(
            orders.filter(F.col("o_orderdate") < F.lit("1996-01-01")),
            cols, partition=part, table="t_cmp_raw", n_buckets=8,
            path=str(tmp_path / "raw"),
        )
        save_stats_cells(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ),
            cols, partition=part, table="t_cmp_raw", n_buckets=8,
            path=str(tmp_path / "raw"), mode="append",
        )
        n_raw = spark.table("t_cmp_raw").count()
        compact_stats_cells(
            spark, "t_cmp_raw", older_than=datetime.datetime(1997, 1, 1),
            save_as="t_cmp_done", n_buckets=8,
            path=str(tmp_path / "done"),
        )
        compacted = spark.table("t_cmp_done")
        n_done = compacted.count()
        assert n_done < n_raw
        # exactly ONE consolidated sentinel partition
        assert compacted.filter(
            F.col("_pt").isNull()
        ).select("_col", "_b").distinct().count() == compacted.filter(
            F.col("_pt").isNull()
        ).count()
        # fresh (within-horizon) partitions survive untouched
        assert compacted.filter(F.col("_pt").isNotNull()).count() > 0
        folded = {
            r["column_name"]: (r["n_rows"], r["n_null"], r["avg_len"],
                               r["ndv_est"])
            for r in stats_fold_persisted(
                spark, "t_cmp_done",
                new_df=orders.filter(
                    F.col("o_orderdate") >= F.lit("1998-01-01")
                ),
                cols=cols,
            ).collect()
        }
        direct = {
            r["column_name"]: (r["n_rows"], r["n_null"], r["avg_len"],
                               r["ndv_est"])
            for r in table_stats(orders, cols).collect()
        }
        assert folded == direct
        # recompaction is idempotent on already-compacted state: the
        # sentinel re-merges, never multiplies
        compact_stats_cells(
            spark, "t_cmp_done", older_than=datetime.datetime(1997, 6, 1),
            save_as="t_cmp_again", n_buckets=8,
            path=str(tmp_path / "again"),
        )
        again = spark.table("t_cmp_again")
        assert again.filter(F.col("_pt").isNull()).select(
            "_col", "_b"
        ).distinct().count() == again.filter(F.col("_pt").isNull()).count()
    finally:
        for t in ("t_cmp_raw", "t_cmp_done", "t_cmp_again"):
            drop_table(spark, t)


def test_compaction_aggregate_and_fold_state_side_shuffle_free(
    spark, tmp_path
):
    """Both the compaction aggregate and the later fold group on keys
    containing the bucket key (_col): zero Exchange anywhere in the
    state-sized part of either plan."""
    from capex_data_pipeline_spark.extensions.state import (
        save_stats_cells,
        stats_fold_persisted,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    try:
        save_stats_cells(
            orders, ["o_orderstatus"], partition=F.date_trunc(
                "day", F.col("o_orderdate")
            ),
            table="t_cmp_plan", n_buckets=8,
            path=str(tmp_path / "plan_state"),
        )
        state = spark.table("t_cmp_plan")
        compacted_plan = _plan(
            state.select(
                F.lit(None).cast("timestamp").alias("_pt"),
                "_col", "_b", "_cnt", "_slen", "_mr",
            )
            .groupBy("_pt", "_col", "_b")
            .agg(
                F.sum("_cnt").alias("_cnt"),
                F.sum("_slen").alias("_slen"),
                F.max("_mr").alias("_mr"),
            )
        )
        assert "Exchange" not in compacted_plan, compacted_plan
        assert "Exchange" not in _plan(
            stats_fold_persisted(spark, "t_cmp_plan")
        )
    finally:
        drop_table(spark, "t_cmp_plan")


# ---------------------------------------------------- stats -> advisor


def test_advisor_from_state_ndv_matches_direct_sketch(spark, tmp_path):
    """Task r12-#2: register max-merge is lossless, so NDV estimates
    read from the persisted cell state equal table_stats_sketch's
    direct-scan estimates bit-for-bit — and the advisor's stats-sized
    profile is identical whichever source fed the widths."""
    from capex_data_pipeline_spark.extensions.sketches import (
        join_graph_profile,
        table_stats_sketch,
    )
    from capex_data_pipeline_spark.extensions.state import (
        join_graph_profile_persisted,
        save_stats_cells,
        stats_fold_persisted,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    )
    try:
        save_stats_cells(
            orders, ["o_orderkey"], partition=F.lit("orders"),
            table="t_adv_state", n_buckets=8,
            path=str(tmp_path / "adv_state"),
        )
        save_stats_cells(
            lineitem, ["l_orderkey"], partition=F.lit("lineitem"),
            table="t_adv_state", n_buckets=8,
            path=str(tmp_path / "adv_state"), mode="append",
        )
        from_state = {
            r["column_name"]: r["ndv_est"]
            for r in stats_fold_persisted(spark, "t_adv_state").collect()
        }
        direct = {
            r["column_name"]: r["ndv_est"]
            for r in table_stats_sketch(orders, ["o_orderkey"]).collect()
        }
        direct.update(
            {
                r["column_name"]: r["ndv_est"]
                for r in table_stats_sketch(
                    lineitem, ["l_orderkey"]
                ).collect()
            }
        )
        assert from_state == direct
        edges = [
            ("orders-lineitem", orders, F.col("o_orderkey"),
             lineitem, F.col("l_orderkey")),
        ]
        got = join_graph_profile_persisted(
            spark, "t_adv_state", edges,
            {"orders-lineitem": ("o_orderkey", "l_orderkey")},
        ).collect()
        want = join_graph_profile(
            edges,
            ndv={"orders-lineitem": max(direct.values())},
            include_exact=False,
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    finally:
        drop_table(spark, "t_adv_state")


def test_advisor_from_state_missing_column_raises(spark, tmp_path):
    from capex_data_pipeline_spark.extensions.state import (
        join_graph_profile_persisted,
        save_stats_cells,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    try:
        save_stats_cells(
            orders, ["o_orderkey"], partition=F.lit("orders"),
            table="t_adv_miss", n_buckets=8,
            path=str(tmp_path / "adv_miss"),
        )
        with pytest.raises(ValueError, match="no usable cells for columns"):
            join_graph_profile_persisted(
                spark, "t_adv_miss",
                [("e", orders, F.col("o_orderkey"), orders,
                  F.col("o_custkey"))],
                {"e": ("o_orderkey", "o_custkey")},
            )
    finally:
        drop_table(spark, "t_adv_miss")


# ----------------------------------------------------------------- SCD2


@pytest.fixture()
def scd2_changelog(spark):
    rows = [
        (1, "2024-01-01", "a"), (1, "2024-01-02", "a"),
        (1, "2024-01-03", "b"),
        (2, "2024-01-01", "x"), (2, "2024-01-03", "y"),
        (3, "2024-01-03", "m"),                       # new key on day 3
        (4, "2024-01-01", None), (4, "2024-01-03", "z"),  # NULL state
    ]
    return spark.createDataFrame(
        rows, "u long, d string, s string"
    ).select("u", F.col("d").cast("date").alias("d"), "s")


def _scd2_rows(df):
    return sorted(
        (r["u"], str(r["s"]), str(r["valid_from"]), str(r["valid_to"]),
         r["is_current"])
        for r in df.collect()
    )


def test_scd2_fold_matches_from_scratch(spark, scd2_changelog, tmp_path):
    """Task r12-#9: folding the last day's snapshot into the persisted
    dimension equals scd2_history over the full changelog — unchanged
    keys keep their open interval, changed keys close + reopen, new
    keys insert, NULL attrs compare null-safely."""
    import datetime

    from capex_data_pipeline_spark.extensions.cleaning import scd2_history
    from capex_data_pipeline_spark.extensions.state import (
        save_scd2_state,
        scd2_fold_persisted,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    ev = scd2_changelog
    try:
        hist = scd2_history(
            ev.filter(F.col("d") < F.lit("2024-01-03")), "u", "d", ["s"]
        ).select("u", "s", "valid_from", "valid_to", "is_current")
        save_scd2_state(
            hist, "u", "t_scd2_test", n_buckets=8,
            path=str(tmp_path / "scd2"),
        )
        snap = ev.filter(F.col("d") == F.lit("2024-01-03")).select(
            "u", "s"
        )
        out = scd2_fold_persisted(
            spark, "t_scd2_test", snap, "u", ["s"],
            datetime.date(2024, 1, 3),
        )
        assert _scd2_rows(out) == _scd2_rows(
            scd2_history(ev, "u", "d", ["s"]).select(
                "u", "s", "valid_from", "valid_to", "is_current"
            )
        )
    finally:
        drop_table(spark, "t_scd2_test")


def test_scd2_fold_chain_day_by_day(spark, scd2_changelog, tmp_path):
    """Folding EVERY day in order from an empty dimension reproduces
    the from-scratch history — the full production loop."""
    import datetime

    from capex_data_pipeline_spark.extensions.cleaning import scd2_history
    from capex_data_pipeline_spark.extensions.state import (
        save_scd2_state,
        scd2_fold_persisted,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    ev = scd2_changelog
    days = sorted(
        r["d"] for r in ev.select("d").distinct().collect()
    )
    empty = spark.createDataFrame(
        [], "u long, s string, valid_from date, valid_to date, "
            "is_current boolean"
    )
    state = "t_scd2_chain_0"
    tables = [state]
    try:
        save_scd2_state(
            empty, "u", state, n_buckets=8, path=str(tmp_path / "c0")
        )
        out = None
        for i, d in enumerate(days):
            snap = ev.filter(F.col("d") == F.lit(d)).select("u", "s")
            nxt = f"t_scd2_chain_{i + 1}"
            tables.append(nxt)
            out = scd2_fold_persisted(
                spark, state, snap, "u", ["s"], d,
                save_as=nxt, save_path=str(tmp_path / f"c{i + 1}"),
                n_buckets=8,
            )
            state = nxt
        assert _scd2_rows(out) == _scd2_rows(
            scd2_history(ev, "u", "d", ["s"]).select(
                "u", "s", "valid_from", "valid_to", "is_current"
            )
        )
    finally:
        for t in tables:
            drop_table(spark, t)


def test_scd2_fold_state_side_never_shuffles(
    spark, scd2_changelog, tmp_path
):
    import datetime

    from capex_data_pipeline_spark.extensions.cleaning import scd2_history
    from capex_data_pipeline_spark.extensions.state import (
        save_scd2_state,
        scd2_fold_persisted,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    ev = scd2_changelog
    try:
        hist = scd2_history(
            ev.filter(F.col("d") < F.lit("2024-01-03")), "u", "d", ["s"]
        ).select("u", "s", "valid_from", "valid_to", "is_current")
        save_scd2_state(
            hist, "u", "t_scd2_plan", n_buckets=8,
            path=str(tmp_path / "scd2_plan"),
        )
        snap = ev.filter(F.col("d") == F.lit("2024-01-03")).select(
            "u", "s"
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(
                scd2_fold_persisted(
                    spark, "t_scd2_plan", snap, "u", ["s"],
                    datetime.date(2024, 1, 3),
                )
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        n = _assert_state_scans_shuffle_free(plan, "t_scd2_plan")
        assert n >= 2, plan  # the current-rows join + the history slice
    finally:
        drop_table(spark, "t_scd2_plan")


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


def test_save_stats_cells_multi_equals_append_loop(spark, tmp_path):
    """One unioned bucketed write must persist EXACTLY the rows the
    overwrite + append loop wrote (q228 / q251 nightly job), so every
    state reader sees identical cells."""
    from capex_data_pipeline_spark.extensions.state import (
        save_stats_cells,
        save_stats_cells_multi,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    a = spark.range(120).select(
        F.col("id").alias("a_key"), (F.col("id") % 9).alias("a_val")
    )
    b = spark.range(40).select((F.col("id") * 2).alias("b_key"))
    parts = [
        (a, ["a_key", "a_val"], F.lit("ta")),
        (b, ["b_key"], F.lit("tb")),
    ]
    try:
        for i, (df, cols, pt) in enumerate(parts):
            save_stats_cells(
                df, cols, partition=pt, table="t_opt13_seq", b=4,
                n_buckets=4, path=str(tmp_path / "seq"),
                mode="overwrite" if i == 0 else "append",
            )
        save_stats_cells_multi(
            parts, table="t_opt13_multi", b=4, n_buckets=4,
            path=str(tmp_path / "multi"), mode="overwrite",
        )
        seq = _rows(spark.table("t_opt13_seq"))
        multi = _rows(spark.table("t_opt13_multi"))
        assert multi == seq and len(multi) > 0
    finally:
        drop_table(spark, "t_opt13_seq")
        drop_table(spark, "t_opt13_multi")
        shutil.rmtree(tmp_path, ignore_errors=True)
