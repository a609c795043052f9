"""Synthesize an sf1-equivalent corpus (10x sf0.1) for the
third-decade scaling run (VERDICT r12 task 5).

The driver only ships sf0.001/0.01/0.1, so the sf0.01->sf0.1 scaling
alarm covers one decade. This script inflates sf0.1 by 10x into
``spark-warehouse/sf1_synth/<table>.parquet`` with SHAPE-PRESERVING
copies — the properties that drive operator cost scale linearly, and
the properties that would fake a superlinear blow-up do not:

* fact tables (customer/supplier/part/orders/lineitem, events): 10
  copies with per-copy key offsets, foreign keys re-offset
  consistently — join fan-outs and group counts scale 10x, per-key
  cardinalities stay flat (the TPC-H scaling rule);
* dimensions (region/nation): unchanged — TPC-H holds them fixed;
* documents: 10 copies with doc_id offsets and a per-copy token
  suffix for k>0 (every token ``w`` becomes ``wxk``), so vocabulary
  and near-dup clusters replicate per copy: cluster COUNT scales
  10x, cluster SIZE stays flat. Plain duplication would instead
  multiply every near-dup cluster by 10 and grow the PPJoin pair set
  quadratically — a fake alarm;
* embeddings: 10 copies with vec_id offsets and one per-copy
  component nudged, so no cross-copy exact duplicates.

Usage: ``python scripts/synth_sf1.py [out_dir]``. Re-run is
idempotent (overwrites). The output is NOT registered testdata — it
exists to record sf0.1->sf1 ratios as two runs of ``bench.py``::

    SPARK_GRAFT_SF_DIR=$TESTDATA/sf0.1 SPARK_GRAFT_BENCH_ONLY=q90,q93 python bench.py
    SPARK_GRAFT_SF_DIR=spark-warehouse/sf1_synth SPARK_GRAFT_BENCH_ONLY=q90,q93 python bench.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

COPIES = 10
SRC = "/root/testdata/sf0.1"

#: per-table (key columns to offset). Offsets are table-row-count
#: spaced so copy k's keys occupy a disjoint block; FK columns use
#: the REFERENCED table's spacing so joins stay consistent per copy.
_SPACING = {
    "customer": 1_000_000,
    "orders": 10_000_000,
    "lineitem": 100_000_000,
    "part": 1_000_000,
    "supplier": 1_000_000,
    "events": 10_000_000,
    "events_user": 1_000_000,
    "documents": 1_000_000,
    "embeddings": 1_000_000,
}


def _copies(df, exprs_per_copy):
    out = None
    for k in range(COPIES):
        c = df.select(*exprs_per_copy(k))
        out = c if out is None else out.unionByName(c)
    return out


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "spark-warehouse", "sf1_synth"
    )
    os.makedirs(out_dir, exist_ok=True)

    from capex_data_pipeline_spark.session import get_spark
    from capex_data_pipeline_spark.sources.parquet import read_table

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark(app_name="synth-sf1", master=f"local[{cpus}]")

    def w(df, name, parts=8):
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        print(f"{name}: {df.count()} rows")

    # dimensions: fixed (TPC-H scaling rule)
    for t in ("region", "nation"):
        w(read_table(spark, SRC, t), t, parts=1)

    cust = read_table(spark, SRC, "customer")
    w(
        _copies(
            cust,
            lambda k: [
                (F.col("c_custkey") + k * _SPACING["customer"]).alias(
                    "c_custkey"
                ),
                *[c for c in cust.columns if c != "c_custkey"],
            ],
        ),
        "customer",
    )

    supp = read_table(spark, SRC, "supplier")
    w(
        _copies(
            supp,
            lambda k: [
                (F.col("s_suppkey") + k * _SPACING["supplier"]).alias(
                    "s_suppkey"
                ),
                *[c for c in supp.columns if c != "s_suppkey"],
            ],
        ),
        "supplier",
    )

    part = read_table(spark, SRC, "part")
    w(
        _copies(
            part,
            lambda k: [
                (F.col("p_partkey") + k * _SPACING["part"]).alias(
                    "p_partkey"
                ),
                *[c for c in part.columns if c != "p_partkey"],
            ],
        ),
        "part",
    )

    orders = read_table(spark, SRC, "orders")
    w(
        _copies(
            orders,
            lambda k: [
                (F.col("o_orderkey") + k * _SPACING["orders"]).alias(
                    "o_orderkey"
                ),
                (F.col("o_custkey") + k * _SPACING["customer"]).alias(
                    "o_custkey"
                ),
                *[
                    c
                    for c in orders.columns
                    if c not in ("o_orderkey", "o_custkey")
                ],
            ],
        ),
        "orders",
    )

    li = read_table(spark, SRC, "lineitem")
    w(
        _copies(
            li,
            lambda k: [
                (F.col("l_orderkey") + k * _SPACING["orders"]).alias(
                    "l_orderkey"
                ),
                (F.col("l_partkey") + k * _SPACING["part"]).alias(
                    "l_partkey"
                ),
                (F.col("l_suppkey") + k * _SPACING["supplier"]).alias(
                    "l_suppkey"
                ),
                *[
                    c
                    for c in li.columns
                    if c not in ("l_orderkey", "l_partkey", "l_suppkey")
                ],
            ],
        ),
        "lineitem",
        parts=16,
    )

    ev = read_table(spark, SRC, "events")
    w(
        _copies(
            ev,
            lambda k: [
                (F.col("event_id") + k * _SPACING["events"]).alias(
                    "event_id"
                ),
                (F.col("user_id") + k * _SPACING["events_user"]).alias(
                    "user_id"
                ),
                *[
                    c
                    for c in ev.columns
                    if c not in ("event_id", "user_id")
                ],
            ],
        ),
        "events",
        parts=16,
    )

    docs = read_table(spark, SRC, "documents")
    w(
        _copies(
            docs,
            lambda k: [
                (F.col("doc_id") + k * _SPACING["documents"]).alias(
                    "doc_id"
                ),
                (
                    F.col("text")
                    if k == 0
                    # disjoint per-copy vocabulary: near-dup clusters
                    # replicate instead of merging across copies
                    else F.regexp_replace(
                        F.col("text"), r"([A-Za-z0-9]+)", rf"$1x{k}"
                    )
                ).alias("text"),
                "lang",
                "source",
                F.length(
                    F.col("text")
                    if k == 0
                    else F.regexp_replace(
                        F.col("text"), r"([A-Za-z0-9]+)", rf"$1x{k}"
                    )
                ).cast("long").alias("n_chars"),
            ],
        ),
        "documents",
    )

    emb = read_table(spark, SRC, "embeddings")
    dim_probe = emb.select(F.size("embedding").alias("d")).first()["d"]
    w(
        _copies(
            emb,
            lambda k: [
                (F.col("vec_id") + k * _SPACING["embeddings"]).alias(
                    "vec_id"
                ),
                F.transform(
                    F.col("embedding"),
                    lambda x, i: (
                        x
                        + F.when(
                            i == F.lit(k % dim_probe), F.lit(0.01 * k)
                        ).otherwise(F.lit(0.0))
                    ).cast("float"),
                ).alias("embedding"),
                "label",
            ],
        ),
        "embeddings",
    )
    print(f"sf1_synth written to {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main()
