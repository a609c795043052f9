"""The benchmark workloads.

Each workload is one closed-loop client in one process. ``stage``
prepares its inputs from the generated tables (set-up), ``run_once``
is one timed operation wrapped in layer spans, and ``check`` compares
the outputs the last timed operation wrote with the registry's DuckDB
oracles over the same generated tables (``expected.py``).
"""

from __future__ import annotations

import os
import random
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from expected import check_outputs, parquet_sql
from spans import Tracer


@dataclass
class Context:
    spark: SparkSession
    tracer: Tracer
    scratch: str
    seed: int
    data_dir: str = ""
    rows: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def out_dir(self, name: str) -> str:
        return os.path.join(self.scratch, "out", f"{name}-{uuid.uuid4().hex[:12]}")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def touch_operators(ctx: Context) -> None:
    """The warm-up: a full warm-up operation would not fit the run
    budget, so touch the common physical operators (scan, join,
    aggregate, window, parquet write) once instead; the timed operation
    then pays its own plans' compilation but not the JVM's first-use
    costs."""
    from pyspark.sql.window import Window

    from capex_data_pipeline_spark.sources.parquet import read_table

    o = read_table(ctx.spark, ctx.data_dir, "orders")
    li = read_table(ctx.spark, ctx.data_dir, "lineitem")
    per_cust = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy(
        "o_custkey").agg(F.sum("l_extendedprice"), F.countDistinct("l_partkey"))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    noop(o.withColumn("rn", F.row_number().over(w)).filter("rn <= 3"))
    per_cust.write.parquet(ctx.out_dir("warmup"))


# ------------------------------------------------------------ workloads


class Workload:
    name = ""
    #: scale factor of the generated tables, and documents generated
    sf = 0.001
    n_docs = 100

    def stage(self, ctx: Context) -> None:
        """Workload-specific set-up on top of the generated tables."""

    def input_rows(self, ctx: Context) -> int:
        raise NotImplementedError

    def warmup(self, ctx: Context) -> None:
        """Untimed, after staging: fill the JVM's code caches and the
        engine's lazy state, so the timed operation runs warm."""
        raise NotImplementedError

    def run_once(self, ctx: Context, i: int) -> list[float]:
        """One timed operation; returns per-query latencies in s."""
        raise NotImplementedError

    def oracles(self) -> list[str]:
        """Registry oracles the output check compares against."""
        raise NotImplementedError

    def check(self, ctx: Context, expected: dict) -> list[tuple[str, bool, str]]:
        raise NotImplementedError


def _released(ctx: Context) -> tuple[str, bool, str]:
    n = ctx.state["tracked_after"]
    return "cache_released", n == 0, f"{n} frames still tracked"


class CapexEtl(Workload):
    name = "capex_etl"
    sf = 0.01

    def stage(self, ctx: Context) -> None:
        from capex_data_pipeline_spark.plans.synth import synthesize_capex_raw
        from capex_data_pipeline_spark.sources.sinks import write_csv_cp1252

        raw = synthesize_capex_raw(ctx.spark, ctx.data_dir)
        path = os.path.join(ctx.data_dir, "capex_raw_csv")
        write_csv_cp1252(raw, path)
        ctx.state["csv"] = path
        ctx.state["schema"] = raw.schema

    def input_rows(self, ctx: Context) -> int:
        return ctx.rows["orders"]

    def warmup(self, ctx: Context) -> None:
        touch_operators(ctx)

    def run_once(self, ctx: Context, i: int) -> list[float]:
        from capex_data_pipeline_spark import cache
        from capex_data_pipeline_spark.operators.aggregates import summary_report
        from capex_data_pipeline_spark.operators.enrichment import (
            enrich_false_negatives,
        )
        from capex_data_pipeline_spark.operators.validation import (
            validate_processed,
            with_robust_key,
        )
        from capex_data_pipeline_spark.plans.pipeline import (
            CapexPipelineConfig,
            run_pipeline,
        )
        from capex_data_pipeline_spark.plans.synth import synthesize_office
        from capex_data_pipeline_spark.sources.csv import read_csv_with_fallback
        from capex_data_pipeline_spark.sources.sinks import (
            write_csv_cp1252,
            write_parquet,
        )

        span, spark = ctx.tracer.span, ctx.spark
        with span("sources.read_csv"):
            raw = read_csv_with_fallback(
                spark, ctx.state["csv"], schema=ctx.state["schema"]
            )
            golden = raw.drop("VendorName")
        with span("plans.run_pipeline"):
            res = run_pipeline(
                raw,
                synthesize_office(spark, ctx.data_dir),
                config=CapexPipelineConfig(exact_w1_ties=False),
            )
        with span("plans.materialize"):
            for df in (res.processed, res.pivot, res.amc, res.sorter,
                       res.rental, res.audit):
                noop(df)
        with span("operators.summary_report"):
            for df in summary_report(res.processed).values():
                noop(df)
        with span("operators.validate_processed"):
            validate_processed(res.processed, golden)
        with span("operators.enrich.build"):
            p_keys = with_robust_key(res.processed).select("CompositeKey").distinct()
            g_keys = with_robust_key(golden).select("CompositeKey").distinct()
            fn = g_keys.join(p_keys, "CompositeKey", "left_anti")
            enriched = enrich_false_negatives(
                fn, res.audit_ordered, raw=raw, reference=golden,
                shared_reference=True,
            )
        out = {"enriched": ctx.out_dir("enriched"),
               "processed": ctx.out_dir("processed"),
               "pivot": ctx.out_dir("pivot")}
        with span("operators.enrich.exec"):
            write_parquet(enriched, out["enriched"])
        with span("sources.write"):
            write_parquet(res.processed, out["processed"])
            write_csv_cp1252(res.pivot, out["pivot"])
        with span("cache.release"):
            res.unpersist()
            cache.release_persisted()
            cache.clear_staging()
        ctx.state["tracked_after"] = cache.tracked_count()
        ctx.state["out"] = out
        return []

    def oracles(self) -> list[str]:
        return ["q90_capex_pipeline", "q93_fn_enrichment"]

    def check(self, ctx: Context, expected: dict) -> list[tuple[str, bool, str]]:
        out = ctx.state["out"]
        processed = parquet_sql(
            out["processed"],
            "RequestNo, AssetItemName, VendorName, Zone, Region, "
            "AssetCategoryName_2, Category_Type, AssetItemAmount, "
            "coalesce(priority, -1) AS priority, "
            "coalesce(ReincludedViaFailOpen, false) AS ReincludedViaFailOpen",
        )
        return check_outputs(ctx.scratch, [
            ("processed_vs_q90", processed, "q90_capex_pipeline"),
            ("enrichment_vs_q93", parquet_sql(out["enriched"]), "q93_fn_enrichment"),
        ], expected) + [_released(ctx)]


#: registry builders behind the reference's dashboard views (SURVEY
#: section 2 operators: filter, broadcast and semi joins, pivot, top-k and
#: dedup windows, composite key, reconciliation, rollup, running
#: analytics), plus the exact Jaccard self-join (q161), the one
#: compute-bound query; with the tables each one scans. Eleven of the
#: registry's 21 sub-second builders: each costs about 2 s cold in a
#: fresh JVM, and all 21 would put an invocation well over a minute.
DASHBOARD = {
    "q01_status_filter": ["orders"],
    "q06_broadcast_dim_join": ["customer", "nation", "region"],
    "q07_semi_join": ["lineitem", "orders"],
    "q09_pivot_sum": ["lineitem"],
    "q14_topk_per_group": ["orders"],
    "q15_dedup_first": ["events"],
    "q19_composite_key": ["lineitem"],
    "q21_amount_reconcile": ["orders", "lineitem"],
    "q28_rollup_subtotals": ["orders"],
    "q54_running_analytics": ["orders"],
    "q161_jaccard_join": ["documents"],
}
#: q161's builder is the dedup layer's jaccard_similarity_join
JACCARD = "q161_jaccard_join"


def _dashboard_pass(ctx: Context, i: int, out: dict) -> list[float]:
    """Build and write every dashboard query in seeded order, each twice
    back to back; returns the latency of each second run (builder call
    through the write)."""
    from capex_data_pipeline_spark.registry import QUERIES

    span = ctx.tracer.span
    names = sorted(DASHBOARD)
    random.Random(f"{ctx.seed}-{i}").shuffle(names)
    lat = []
    for q in names:
        jaccard = q == JACCARD
        # the first run pays the query's cold cost (planning, code
        # generation, first use of its operators), which a warm-up pass
        # would double within the run budget; the second is the warm
        # refresh a long-lived dashboard serves, a steadier sample.
        # q161 is compute-bound and runs once: it counts in wall_s only
        for warm in (False,) if jaccard else (False, True):
            out[q] = ctx.out_dir(q)
            with span("registry.query" if warm else "registry.first") as s:
                with span("registry.build"), \
                        span("dedup.jaccard.build") if jaccard else nullcontext():
                    df = QUERIES[q](ctx.spark, ctx.data_dir)
                with span("registry.exec"), \
                        span("dedup.jaccard.exec") if jaccard else nullcontext():
                    df.write.parquet(out[q])
            if warm:
                lat.append(s.wall_s)
    return lat


def _cc_state(ctx: Context, out: dict) -> None:
    """Label the old 80% of the co-purchase graph (the q198 shape), save
    the labeling as a bucketed table, then fold the seeded new-edge
    batch from it and write the folded labeling."""
    from capex_data_pipeline_spark.extensions.graph import connected_components
    from capex_data_pipeline_spark.extensions.state import (
        cc_fold_persisted,
        save_cc_state,
    )
    from capex_data_pipeline_spark.registry_graph import _copurchase_edges

    span, spark = ctx.tracer.span, ctx.spark
    # the seed picks which residue class of 5 is the new batch
    batch = ctx.seed % 5
    table = f"cc_state_{uuid.uuid4().hex[:12]}"
    out["cc"] = ctx.out_dir("cc")
    with span("graph.cc"):
        edges = _copurchase_edges(spark, ctx.data_dir)
        is_new = (F.col("a") + F.col("b")) % 5 == batch
        labels = connected_components(
            edges.filter(~is_new), src_col="a", dst_col="b",
            until_fixpoint=True, assume_canonical=True,
        )
    with span("state.save_cc"):
        save_cc_state(labels, table, n_buckets=8,
                      path=os.path.join(ctx.scratch, "state", table))
    with span("state.cc_fold.build"):
        folded = cc_fold_persisted(spark, table, edges.filter(is_new),
                                   src_col="a", dst_col="b")
    with span("state.cc_fold.exec"):
        folded.write.parquet(out["cc"])


class DashboardAndState(Workload):
    name = "dashboard_and_state"
    sf = 0.002
    n_docs = 200

    def input_rows(self, ctx: Context) -> int:
        scanned = sum(ctx.rows[t] for tables in DASHBOARD.values() for t in tables)
        return scanned + ctx.rows["lineitem"]

    def warmup(self, ctx: Context) -> None:
        touch_operators(ctx)

    def run_once(self, ctx: Context, i: int) -> list[float]:
        from capex_data_pipeline_spark import cache

        out = {}
        lat = _dashboard_pass(ctx, i, out)
        _cc_state(ctx, out)
        with ctx.tracer.span("cache.release"):
            cache.release_persisted()
            cache.clear_staging()
        ctx.state["tracked_after"] = cache.tracked_count()
        ctx.state["out"] = out
        return lat

    def pairs_out(self, ctx: Context) -> int:
        return pq.ParquetDataset(ctx.state["out"][JACCARD]).read().num_rows

    def oracles(self) -> list[str]:
        return sorted(DASHBOARD) + ["q198_cc_persisted_fold"]

    def check(self, ctx: Context, expected: dict) -> list[tuple[str, bool, str]]:
        # the q198 oracle recomputes components from scratch on ALL edges,
        # so it holds for whichever residue class the seed made the batch
        out = ctx.state["out"]
        tasks = [(q, parquet_sql(out[q]), q) for q in sorted(DASHBOARD)]
        tasks.append(("cc_fold_vs_q198", parquet_sql(out["cc"]), "q198_cc_persisted_fold"))
        return check_outputs(ctx.scratch, tasks, expected) + [_released(ctx)]


WORKLOADS = {w.name: w for w in (CapexEtl(), DashboardAndState())}
