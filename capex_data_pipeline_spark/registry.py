"""Driver-contract query registry.

One entry per operator class from SURVEY.md §2 (plus the §7 extension
operators), each expressed twice:

- a Spark builder ``(spark, sf_dir) -> DataFrame`` (idiomatic
  DataFrame/SQL; what the engine actually ships), and
- an equivalent ANSI-SQL oracle string for DuckDB over the same parquet
  tables (used by the driver's correctness gate).

Cross-engine hashing rules observed throughout:
- every computed column is aliased identically on both sides;
- timestamps are cast to DATE or string before leaving a query;
- floating aggregates are rounded to a fixed scale on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
#: registered queries that ``bench.py`` does not time: sub-second basics
#: and UI-surface analogs whose plans are subsets of a headline query
NON_HEADLINE: set[str] = set()


def query(name: str, sql: str | None = None, headline: bool = True):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        if not headline:
            NON_HEADLINE.add(name)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from capex_data_pipeline_spark.sources.parquet import read_table

    return read_table(spark, sf_dir, name)


# =========================================================================
# Scans / filters (S*, F* analogs)
# =========================================================================


@query(
    "q01_status_filter",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE lower(trim(o_orderstatus)) <> 'f'
    """,
)
def q01_status_filter(spark, sf_dir):
    """F1 analog: trimmed case-insensitive status exclusion
    (reference: process_capex.py:291-301)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.lower(F.trim(F.col("o_orderstatus"))) != "f")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "q02_regex_filter",
    r"""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE NOT (
        regexp_matches(p_name || ' ' || p_type, '\b(small|cold)\b')
        OR (regexp_matches(p_name || ' ' || p_type, '\bwidget\b')
            AND regexp_matches(p_name || ' ' || p_type, 'ECONOMY|PROMO'))
    )
    """,
)
def q02_regex_filter(spark, sf_dir):
    """F4 analog: regex disjunction + context-gated word over a
    concatenated text column (reference: process_capex.py:330-382)."""
    part = _t(spark, sf_dir, "part")
    c = F.concat_ws(" ", F.col("p_name"), F.col("p_type"))
    excl = (
        c.rlike(r"\b(small|cold)\b")
        | (c.rlike(r"\bwidget\b") & c.rlike(r"ECONOMY|PROMO"))
    )
    return part.filter(~excl).select("p_partkey", "p_name", "p_type")


@query(
    "q03_isin_filter",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE lower(trim(c_mktsegment)) NOT IN ('building', 'machinery')
    """,
    headline=False,
)
def q03_isin_filter(spark, sf_dir):
    """F3/F5 analog: case-insensitive IN-set exclusion
    (reference: process_capex.py:316-327)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.filter(
        ~F.lower(F.trim(F.col("c_mktsegment"))).isin("building", "machinery")
    ).select("c_custkey", "c_name", "c_mktsegment")


# =========================================================================
# Projections / conditional updates (P* analogs)
# =========================================================================


@query(
    "q04_normalize_map",
    """
    SELECT
      CASE upper(trim(p_type))
        WHEN 'ECONOMY' THEN 'ECO'
        WHEN 'PROMO' THEN 'PROMOTION'
        WHEN 'STANDARD' THEN 'STD'
        ELSE upper(trim(p_type))
      END AS norm_type,
      count(*) AS n
    FROM part GROUP BY 1
    """,
    headline=False,
)
def q04_normalize_map(spark, sf_dir):
    """P1 analog: upper/trim + exact-value mapping table
    (reference: process_capex.py:718-740)."""
    part = _t(spark, sf_dir, "part")
    base = F.upper(F.trim(F.col("p_type")))
    mapping = F.create_map(
        F.lit("ECONOMY"), F.lit("ECO"),
        F.lit("PROMO"), F.lit("PROMOTION"),
        F.lit("STANDARD"), F.lit("STD"),
    )
    return (
        part.select(F.coalesce(mapping[base], base).alias("norm_type"))
        .groupBy("norm_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q05_conditional_recat",
    """
    SELECT p_partkey,
      CASE WHEN (p_type = 'ECONOMY' OR p_type = 'PROMO')
                AND NOT (p_name ILIKE '%widget%' OR p_name ILIKE '%bolt%')
           THEN 'RECLASSIFIED' ELSE p_type END AS category
    FROM part
    """,
    headline=False,
)
def q05_conditional_recat(spark, sf_dir):
    """P2 analog: conditional category overwrite with an exempt-item
    list (reference: process_capex.py:742-770)."""
    part = _t(spark, sf_dir, "part")
    exempt = F.lower(F.col("p_name")).contains("widget") | F.lower(
        F.col("p_name")
    ).contains("bolt")
    cond = F.col("p_type").isin("ECONOMY", "PROMO") & ~exempt
    return part.select(
        "p_partkey",
        F.when(cond, F.lit("RECLASSIFIED")).otherwise(F.col("p_type")).alias("category"),
    )


@query(
    "q19_composite_key",
    """
    SELECT l_orderkey, l_linenumber,
      CASE WHEN trim(coalesce(l_returnflag, '')) <> ''
           THEN concat(l_orderkey, '|', l_linenumber, '|', trim(l_returnflag))
           ELSE concat(l_orderkey, '|', l_linenumber) END AS robust_key,
      concat(l_orderkey, '|', l_linenumber, '|',
             trim(coalesce(l_returnflag, ''))) AS strict_key
    FROM lineitem
    """,
    headline=False,
)
def q19_composite_key(spark, sf_dir):
    """P6/P7 analog: strict + robust composite keys
    (reference: process_capex.py:1245-1270, 168-179)."""
    li = _t(spark, sf_dir, "lineitem")
    ok = F.col("l_orderkey").cast("string")
    ln = F.col("l_linenumber").cast("string")
    flag = F.trim(F.coalesce(F.col("l_returnflag"), F.lit("")))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(flag != "", F.concat_ws("|", ok, ln, flag))
        .otherwise(F.concat_ws("|", ok, ln))
        .alias("robust_key"),
        F.concat_ws("|", ok, ln, flag).alias("strict_key"),
    )


@query(
    "q20_priority_score",
    """
    SELECT o_orderkey,
      (CASE WHEN o_orderstatus = 'O' THEN 100 ELSE 0 END
       + CASE WHEN o_orderpriority = '1-URGENT' THEN 50 ELSE 0 END
       + CASE WHEN o_totalprice > 100000 THEN 10 ELSE 0 END) AS priority
    FROM orders
    """,
    headline=False,
)
def q20_priority_score(spark, sf_dir):
    """P8 analog: indicator arithmetic (process_capex.py:1020-1023)."""
    o = _t(spark, sf_dir, "orders")
    prio = (
        F.when(F.col("o_orderstatus") == "O", 100).otherwise(0)
        + F.when(F.col("o_orderpriority") == "1-URGENT", 50).otherwise(0)
        + F.when(F.col("o_totalprice") > 100000, 10).otherwise(0)
    )
    return o.select("o_orderkey", prio.alias("priority"))


# =========================================================================
# Joins (J* analogs)
# =========================================================================


@query(
    "q06_broadcast_dim_join",
    """
    SELECT c_custkey,
      coalesce(n.n_name, 'Unknown') AS nation_name,
      coalesce(r.r_name, 'Unknown') AS region_name
    FROM customer c
    LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 15) n
      ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q06_broadcast_dim_join(spark, sf_dir):
    """J1 analog: broadcast dimension attach with 'Unknown' fill
    (reference: process_capex.py:225-289). The build side is filtered to
    force unmatched rows through the fallback path."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 15)
    region = _t(spark, sf_dir, "region")
    dim = nation.join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
        "left",
    ).select("n_nationkey", "n_name", "r_name")
    return (
        cust.join(F.broadcast(dim), cust["c_nationkey"] == dim["n_nationkey"], "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n_name"), F.lit("Unknown")).alias("nation_name"),
            F.coalesce(F.col("r_name"), F.lit("Unknown")).alias("region_name"),
        )
    )


@query(
    "q07_semi_join",
    """
    SELECT l_orderkey, l_partkey, l_extendedprice
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def q07_semi_join(spark, sf_dir):
    """J2/F15 analog: key-set semi join (process_capex.py:982-1004)."""
    li = _t(spark, sf_dir, "lineitem")
    keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return li.join(F.broadcast(keys.distinct()), "l_orderkey", "left_semi").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )


# NOTE: the standalone J4 anti-join query (formerly q08) was folded into
# q90's full-pipeline oracle, which exercises the fail-open anti-join +
# union + dedup (process_capex.py:12-56) end-to-end with a hash-checked
# DuckDB restatement. Registry size contract: the registry is UNBOUNDED
# (227+ entries across registry*.py); the driver's per-round correctness
# gate samples a fixed 50-query window from it, and the FULL registry is
# value-checked against every oracle by scripts/check_contract.py
# (optionally subset via ONLY=q... prefixes).


# =========================================================================
# Aggregations (A* analogs)
# =========================================================================


@query(
    "q09_pivot_sum",
    """
    SELECT l_returnflag, l_linestatus,
           strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS ship_month,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY 1, 2, 3
    """,
)
def q09_pivot_sum(spark, sf_dir):
    """A1 analog: the pivot aggregation (process_capex.py:925-936).
    Measures sum as exact DECIMAL (deterministic under any partial-
    aggregation order — a double sum would drift with partitioning)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.date_format(F.date_trunc("month", F.col("l_shipdate")), "yyyy-MM-dd").alias(
                "ship_month"
            ),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q10_summary_report",
    """
    SELECT coalesce(o_orderpriority, 'TOTAL') AS o_orderpriority,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2)
             AS avg_amount
    FROM orders GROUP BY ROLLUP (o_orderpriority)
    """,
)
def q10_summary_report(spark, sf_dir):
    """A2 analog: per-dimension count/sum/mean summary report PLUS the
    global-totals row (process_capex.py:938-980,945-946; app.py:344-365)
    — one ROLLUP pass instead of the reference's two separate
    aggregations. Exact decimal sum; the mean divides that one exact sum
    so both engines round the same double. The totals row surfaces as
    o_orderpriority = 'TOTAL' (column never null in the corpus)."""
    o = _t(spark, sf_dir, "orders")
    total = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    return (
        o.rollup("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            total.cast("double").alias("total_amount"),
            F.round(total.cast("double") / F.count(F.lit(1)), 2).alias("avg_amount"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("TOTAL")).alias("o_orderpriority"),
            "cnt",
            "total_amount",
            "avg_amount",
        )
    )


@query(
    "q11_profile",
    """
    SELECT 'distinct_custs' AS section, 'o_custkey' AS key,
           count(DISTINCT o_custkey) AS cnt
    FROM orders
    UNION ALL
    SELECT 'distinct_orders', 'o_orderkey', count(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'value_count', event_type, count(*) FROM events GROUP BY event_type
    UNION ALL
    SELECT 'dup_keys', user_id || '|' || event_type, count(*)
    FROM events GROUP BY user_id, event_type HAVING count(*) > 1
    """,
    headline=False,
)
def q11_profile(spark, sf_dir):
    """A4 + A5 analog in one profile query: exact distinct counts
    (process_capex.py:287), value histogram (:288) and duplicate-key
    detection (:1317-1334), unified as (section, key, cnt) rows.
    Each section is an independent aggregation; Spark unions the partial
    aggregates, so the sections pipeline rather than barrier."""
    o = _t(spark, sf_dir, "orders")
    e = _t(spark, sf_dir, "events")
    distincts = o.agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    ).selectExpr(
        # unpivot the one aggregate row -> two (section, key, cnt) rows
        # without re-scanning orders per section
        "stack(2, 'distinct_custs', 'o_custkey', n_custs,"
        "         'distinct_orders', 'o_orderkey', n_orders)"
        " AS (section, key, cnt)"
    )
    vcounts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("value_count").alias("section"),
        F.col("event_type").alias("key"),
        "cnt",
    )
    dups = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select(
            F.lit("dup_keys").alias("section"),
            F.concat_ws("|", "user_id", "event_type").alias("key"),
            "cnt",
        )
    )
    return distincts.unionByName(vcounts).unionByName(dups)


@query(
    "q21_amount_reconcile",
    """
    WITH li AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS li_total
      FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderkey,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS order_total,
           CAST(CAST(coalesce(li.li_total, 0) AS DECIMAL(18,6)) AS DOUBLE) AS line_total,
           (abs(CAST(coalesce(o.o_totalprice, 0) AS DOUBLE)
                - CAST(coalesce(li.li_total, 0) AS DOUBLE)) > 0.01) AS mismatch
    FROM orders o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
    """,
)
def q21_amount_reconcile(spark, sf_dir):
    """A6 analog: per-key sum comparison with ±0.01 tolerance
    (process_capex.py:1633-1656). Per-item product is computed in double
    (identical IEEE result on both engines), then cast to DECIMAL so the
    sum is exact and partial-aggregation-order-independent."""
    o = _t(spark, sf_dir, "orders")
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("li_total")
        )
    )
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"], "full_outer")
    return j.select(
        F.col("o_orderkey"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("order_total"),
        F.coalesce(F.col("li_total"), F.lit(0))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("line_total"),
        (
            F.abs(
                F.coalesce(F.col("o_totalprice"), F.lit(0.0)).cast("double")
                - F.coalesce(F.col("li_total"), F.lit(0)).cast("double")
            )
            > 0.01
        ).alias("mismatch"),
    )


@query(
    "q22_set_agg_compare",
    """
    SELECT o_custkey,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders GROUP BY 1
    """,
)
def q22_set_agg_compare(spark, sf_dir):
    """A7 analog: per-key collected value sets, serialized sorted so the
    comparison is deterministic (process_capex.py:1659-1708)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@query(
    "q23_validation_metrics",
    """
    WITH processed AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000
    ), reference AS (
      SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ), m AS (
      SELECT
        (SELECT count(*) FROM processed WHERE k IN (SELECT k FROM reference)) AS tp,
        (SELECT count(*) FROM processed WHERE k NOT IN (SELECT k FROM reference)) AS fp,
        (SELECT count(*) FROM reference WHERE k NOT IN (SELECT k FROM processed)) AS fn
    )
    SELECT tp, fp, fn,
      round(CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0 END, 4) AS precision_,
      round(CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0 END, 4) AS recall_,
      round(CASE WHEN (CASE WHEN tp+fp>0 THEN tp/(tp+fp) ELSE 0 END)
                    + (CASE WHEN tp+fn>0 THEN tp/(tp+fn) ELSE 0 END) > 0
            THEN 2 * (CASE WHEN tp+fp>0 THEN tp/(tp+fp) ELSE 0 END)
                   * (CASE WHEN tp+fn>0 THEN tp/(tp+fn) ELSE 0 END)
                 / ((CASE WHEN tp+fp>0 THEN tp/(tp+fp) ELSE 0 END)
                    + (CASE WHEN tp+fn>0 THEN tp/(tp+fn) ELSE 0 END))
            ELSE 0 END, 4) AS f1
    FROM m
    """,
    headline=False,
)
def q23_validation_metrics(spark, sf_dir):
    """A8 analog: key-set precision/recall/F1 (process_capex.py:1573-1595)
    computed with semi/anti joins + one aggregate — no driver loops."""
    processed = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    reference = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    tp = processed.join(reference, "k", "left_semi").count()
    fp = processed.join(reference, "k", "left_anti").count()
    fn = reference.join(processed, "k", "left_anti").count()
    precision = tp / (tp + fp) if (tp + fp) else 0.0
    recall = tp / (tp + fn) if (tp + fn) else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return spark.createDataFrame(
        [(tp, fp, fn, round(precision, 4), round(recall, 4), round(f1, 4))],
        "tp long, fp long, fn long, precision_ double, recall_ double, f1 double",
    )


# =========================================================================
# Windows / sorts / dedup (W* analogs)
# =========================================================================


@query(
    "q14_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 5
    """,
)
def q14_topk_per_group(spark, sf_dir):
    """W1 analog: top-5 per key with deterministic tiebreak
    (process_capex.py:1006-1045). Plans as WindowGroupLimit: the rank
    predicate is pushed into the shuffle."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q15_dedup_first",
    """
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q15_dedup_first(spark, sf_dir):
    """W3 analog: drop_duplicates keep='first' with a deterministic
    notion of first (process_capex.py:53). Timestamps leave the query as
    epoch microseconds (integers survive any hashing scheme)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us"))
    )


# =========================================================================
# Set operations (U* analogs)
# =========================================================================


@query(
    "q16_set_ops",
    """
    SELECT 'union' AS op, key FROM (
      SELECT o_orderkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    UNION ALL
    SELECT 'intersect', key FROM (
      SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'except', key FROM (
      SELECT c_custkey AS key FROM customer
      EXCEPT
      SELECT o_custkey FROM orders
    )
    """,
    headline=False,
)
def q16_set_ops(spark, sf_dir):
    """U1 + U2 + U3 analogs in one query, tagged by op: vertical concat
    (process_capex.py:540,584-585), key-set intersection (:1575) and
    key-set difference (:1577-1579), unified as (op, key) rows. Each arm
    stays an independent Spark set operator — union is a zero-shuffle
    concat; intersect/except are the same hash-aggregate + join plans
    the standalone queries produced."""
    o = _t(spark, sf_dir, "orders")
    union_arm = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("key"))
        .unionByName(
            o.filter(F.col("o_orderpriority") == "2-HIGH").select(
                F.col("o_orderkey").alias("key")
            )
        )
        .select(F.lit("union").alias("op"), "key")
    )
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("key")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("key"))
    intersect_arm = a.intersect(b).select(F.lit("intersect").alias("op"), "key")
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    okeys = o.select(F.col("o_custkey").alias("key"))
    except_arm = (
        cust.exceptAll(okeys.distinct())
        .distinct()
        .select(F.lit("except").alias("op"), "key")
    )
    return union_arm.unionByName(intersect_arm).unionByName(except_arm)


@query(
    "q28_rollup_subtotals",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    headline=False,
)
def q28_rollup_subtotals(spark, sf_dir):
    """Hierarchical subtotals via ROLLUP — beyond the reference's four
    separate group-bys (SURVEY.md §2.5 notes it never uses grouping
    sets); one pass produces per-(status,priority), per-status and grand
    totals."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@query(
    "q54_running_analytics",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(sum(o_totalprice) OVER w, 2) AS running_total,
           round(coalesce(lag(o_totalprice) OVER w, 0.0), 2) AS prev_price,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice, o_orderkey) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING)
    """,
    headline=False,
)
def q54_running_analytics(spark, sf_dir):
    """Analytic window functions (running sum, lag, ntile) — absent from
    the reference (SURVEY.md §2.6) but core engine surface; deterministic
    via orderkey tiebreaks."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wq = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        F.round(F.coalesce(F.lag("o_totalprice").over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ), F.lit(0.0)), 2).alias("prev_price"),
        F.ntile(4).over(wq).alias("price_quartile"),
    )


# extension queries register themselves on import (same QUERIES/ORACLES)
from capex_data_pipeline_spark import registry_ext  # noqa: E402,F401  isort:skip
from capex_data_pipeline_spark import registry_cleaning  # noqa: E402,F401  isort:skip
from capex_data_pipeline_spark import registry_ts  # noqa: E402,F401  isort:skip
from capex_data_pipeline_spark import registry_search  # noqa: E402,F401  isort:skip
from capex_data_pipeline_spark import registry_graph  # noqa: E402,F401  isort:skip
from capex_data_pipeline_spark import registry_ml  # noqa: E402,F401  isort:skip
from capex_data_pipeline_spark import registry_train  # noqa: E402,F401  isort:skip


# =========================================================================
# Multi-dimensional aggregates (CUBE — A2's ROLLUP completed)
# =========================================================================


@query(
    "q207_cube_aggregate",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue_cents,
           count(*)::BIGINT AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q207_cube_aggregate(spark, sf_dir):
    """CUBE over (status, priority) with the grouping-id disambiguator
    — every subtotal combination (cell, per-status, per-priority,
    grand total) in ONE pass: Spark's Expand replicates each row once
    per grouping set BEFORE the hash aggregate, so the whole lattice
    costs one shuffle with map-side partials, not 4 scans (the
    OLAP-cube shape A2's ROLLUP started; gid tells a NULL dimension
    value apart from a NULL-because-aggregated cell). Revenue summed
    cents-exact as BIGINT (the q175 convention), so the oracle —
    DuckDB's GROUP BY CUBE with the standard GROUPING bitmask —
    matches bit-for-bit, gid included."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid",
            "revenue_cents", "n_orders",
        )
    )
