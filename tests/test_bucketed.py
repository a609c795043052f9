"""Bucketed-table co-located joins (sources/bucketed.py): the pay-
the-shuffle-once 100 TB fact-fact join strategy, pinned at the plan
level — a bucketed join must show ZERO Exchange nodes, and bucket-key
sorted writes must also drop the per-bucket Sort.
"""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    from capex_data_pipeline_spark.sources.bucketed import (
        drop_table,
        write_bucketed,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed(
        orders.select("o_orderkey", "o_totalprice", "o_orderstatus"),
        "t_orders_b",
        ["o_orderkey"],
        n_buckets=8,
        sort_cols=["o_orderkey"],
        path=str(tmp_path / "orders_b"),
    )
    write_bucketed(
        li.select("l_orderkey", "l_quantity", "l_extendedprice"),
        "t_lineitem_b",
        ["l_orderkey"],
        n_buckets=8,
        sort_cols=["l_orderkey"],
        path=str(tmp_path / "lineitem_b"),
    )
    yield "t_orders_b", "t_lineitem_b"
    drop_table(spark, "t_orders_b")
    drop_table(spark, "t_lineitem_b")


def test_bucketed_join_has_zero_exchanges(spark, bucketed_pair):
    t_orders, t_li = bucketed_pair
    o, l = spark.table(t_orders), spark.table(t_li)
    joined = o.hint("merge").join(
        l, o["o_orderkey"] == l["l_orderkey"]
    )
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    # the whole point: neither fact side shuffles
    assert "Exchange" not in plan, plan
    # sortBy on the bucket key: per-bucket sort is read from disk too
    assert joined.count() > 0


def test_unbucketed_same_join_does_shuffle(spark):
    """Control: the identical join over plain parquet reads pays two
    Exchanges — the cost bucketing amortizes away."""
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = _plan(
        o.hint("merge").join(l, o["o_orderkey"] == l["l_orderkey"])
    )
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") >= 2


def test_bucketed_groupby_avoids_shuffle(spark, bucketed_pair):
    """Aggregations on the bucket key also skip the Exchange: the
    hash-partitioning satisfies the aggregate's distribution."""
    from pyspark.sql import functions as F

    _, t_li = bucketed_pair
    agg = (
        spark.table(t_li)
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    plan = _plan(agg)
    assert "Exchange" not in plan, plan
    assert agg.count() > 0


def test_write_bucketed_guards(spark):
    from capex_data_pipeline_spark.sources.bucketed import write_bucketed

    df = spark.range(5)
    with pytest.raises(ValueError, match="bucket_cols"):
        write_bucketed(df, "t_x", [], n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        write_bucketed(df, "t_x", ["id"], n_buckets=0)


def test_neardup_index_bucketed_probe_is_index_side_exchange_free(
    spark, tmp_path
):
    """build_neardup_index writes the banded index bucketed on
    (band, bhash); a probe batch joining it with index_is_banded=True
    must plan with ONE FEWER hash Exchange than probing the same index
    stored as plain parquet — the missing Exchange is exactly the
    index side (its bucketed scan arrives pre-partitioned on the join
    key). Results must match the closed-form incremental path
    row-for-row."""
    from pyspark.sql import functions as F

    from capex_data_pipeline_spark.extensions.dedup import (
        build_neardup_index,
        minhash_near_dups_incremental,
    )

    corpus = spark.createDataFrame(
        [(i, f"common text block {i % 7} with words " + "pad " * (i % 3))
         for i in range(60)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1000 + i, f"common text block {i % 7} with words " + "pad " * (i % 3))
         for i in range(10)],
        "doc_id long, text string",
    )
    idx = build_neardup_index(
        corpus, "t_neardup_idx", n_buckets=4, path=str(tmp_path / "idx")
    )
    # plain-parquet control: same rows, no bucketing metadata
    idx.write.mode("overwrite").parquet(str(tmp_path / "idx_plain"))
    plain = spark.read.parquet(str(tmp_path / "idx_plain"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed_probe = minhash_near_dups_incremental(
            new, idx, index_is_banded=True
        )
        plain_probe = minhash_near_dups_incremental(
            new, plain, index_is_banded=True
        )
        bp = bucketed_probe._jdf.queryExecution().executedPlan().toString()
        pp = plain_probe._jdf.queryExecution().executedPlan().toString()
        n_b = bp.count("Exchange hashpartitioning")
        n_p = pp.count("Exchange hashpartitioning")
        assert n_b == n_p - 1, (n_b, n_p)
        assert "Bucketed: true" in bp
        # value parity with the closed-form (re-derive) path
        want = sorted(
            tuple(r)
            for r in minhash_near_dups_incremental(new, corpus).collect()
        )
        got = sorted(tuple(r) for r in bucketed_probe.collect())
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_neardup_idx")

    # guard: index_is_banded with a wrong-shaped frame fails fast
    import pytest

    with pytest.raises(ValueError, match="index_is_banded"):
        minhash_near_dups_incremental(new, corpus, index_is_banded=True)
