"""The end-to-end capex cleaning pipeline — the reference's 19-stage DAG
(process_capex.py:1080-1181, see SURVEY.md §3) as one lazy Spark plan.

Shape of the plan (4 tagging passes instead of 15 materialized filters):

    raw ──[+_row_id, null tags]── pass A (F1-F4) ── P2 ── P1
        ── pass B (F5-F7) ── J1 zone/region (broadcast) ── pass C (F8-F13)
        ── P3 ── P4 ── P5 ── pass D (F14) ── P6 key ── [F15 golden tag]
        ──► ONE tagged lineage frame [cut], consumed by:
              kept (tags null) ── W1 top-5 window ──┐
              audit (tags non-null, key fully gone) ├─ [J4 fail-open] ─► processed [cut]
              pivot (kept, pre-P3 categories)       │
              amc/sorter/rental extracts            ┘

Every row flows through a single linear plan carrying its exclusion tag
(first matching rule wins, rules.txt order) — the scan, the regex
passes and the broadcast join run ONCE regardless of how many outputs
are consumed. Two frames are cut with ``cache.plan_boundary``: the
tagged frame before fan-out, so multi-output actions don't recompute
it, and the final ``processed`` frame, which most consumers read
(summaries, validation, the q93 anti-join, sinks), so none of them
re-runs W1 and the fail-open tail. A cut is a plan boundary, not a
persist: by default a ``localCheckpoint``, so every consumer analyzes
and plans a one-node ``LogicalRDD`` leaf instead of the 19-stage rule
plan; ``$SPARK_GRAFT_BOUNDARY=staging`` writes both as staging
tables instead (``cache.plan_boundary`` decides how every cut is
made). The only shuffles are the W1 window (top-k pushed into the
shuffle via WindowGroupLimit / the grouped-Arrow exchange in
exact-ties mode) and the small audit/fail-open key aggregations.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from capex_data_pipeline_spark.cache import (
    checkpoint_rdd,
    persisted,
    plan_boundary,
    release_frame,
    track,
    untrack,
)
from capex_data_pipeline_spark.functions.keys import robust_key, strict_composite_key
from capex_data_pipeline_spark.operators.audit import AUDIT_COLUMNS, build_audit
from capex_data_pipeline_spark.operators.joins import add_zone_region, build_zone_maps
from capex_data_pipeline_spark.operators.rules import (
    PASS_A,
    PASS_B,
    PASS_C,
    PASS_D,
    TAG_COLUMNS,
    accumulate_pass,
    init_tags,
)
from capex_data_pipeline_spark.operators.aggregates import create_pivot_table
from capex_data_pipeline_spark.operators.projections import (
    AMC_KEYWORDS,
    RENTAL_KEYWORDS,
    SORTER_KEYWORDS,
    apply_mum_remarks,
    apply_normalize_category,
    apply_office_furniture_recat,
    apply_separate_plant_machinery,
    category_type_col,
    contains_any_ci,
    normalized_category,
)
from capex_data_pipeline_spark.operators.windows import (
    select_representative_rows,
    w1_frame_order,
)
from capex_data_pipeline_spark.sources.parquet import spread_few_splits

GOLDEN_FILTER_LABEL = "Post: Not in final_data RequestNos"
_GOLDEN_RULE_ORDER = 99


@dataclass(frozen=True)
class CapexPipelineConfig:
    fail_open: bool = True  # FAIL_OPEN_UNKNOWN defaults true (process_capex.py:10)
    legacy_dates: bool = False  # reproduce the dayfirst misparse when True
    exact_w1_ties: bool = True  # replay pandas' unstable sort in W1


@dataclass
class PipelineResult:
    processed: DataFrame
    pivot: DataFrame
    amc: DataFrame
    sorter: DataFrame
    rental: DataFrame
    audit: DataFrame
    cleaned: DataFrame = None  # post-rule, pre-window frame (for tests)
    audit_ordered: DataFrame = None  # audit + dict-insertion order cols
    tagged: DataFrame = None  # the cut lineage frame (all consumers)
    stage_counts: dict = field(default_factory=dict)
    # the frames THIS run holds blocks for (the tagged and processed
    # checkpoint cuts, the fail-open add-back persist) — released via
    # unpersist() below
    persisted_frames: list = field(default_factory=list)

    def unpersist(self, blocking: bool = False) -> int:
        """Release the blocks this pipeline run took out.

        The cuts and the add-back persist are a structural win while
        the result's frames are being consumed, but Spark never evicts
        their blocks on its own — a long-lived session running many
        pipelines must release each run when done with it (or call
        ``capex_data_pipeline_spark.cache.release_persisted()`` to drop
        everything). Call it after the last read: with the default
        ``'local'`` boundary the result's frames (every one reads a
        checkpoint cut) cannot be read afterwards — Spark raises
        ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` rather than recompute."""
        released = 0
        while self.persisted_frames:
            df = self.persisted_frames.pop()
            untrack(df)  # no lingering strong ref / double release
            try:
                release_frame(df, blocking)
                released += 1
            except Exception:
                pass
        return released

    @property
    def stage_report(self) -> DataFrame:
        """Per-rule (removed, remaining) counts; built ON ACCESS — every
        DataFrame operation runs the analyzer over the (large) tagged
        plan, and most consumers never read the report, so building it
        eagerly would tax every run_pipeline call (~1.5 s of driver
        time) for nothing."""
        return build_stage_report(self.tagged)


def build_stage_report(tagged: DataFrame) -> DataFrame:
    """Per-rule (removed, remaining) counts — the distributed analog of
    the reference's per-stage prints ('Removed N ... Remaining: M rows',
    process_capex.py:294-380) and its final report (:1171-1177).

    ONE hash aggregation over the lineage tags (the same cut frame
    every other consumer reads — no extra scan of the input), then a
    window over the handful of rule rows; the kept bucket only feeds the
    total. Returns (rule_order, rule_label, removed, remaining) ordered
    by rule application."""
    kept_marker = 1_000_000  # sorts after every real rule order
    counts = tagged.groupBy(
        F.coalesce(F.col("_excl_order"), F.lit(kept_marker)).alias("rule_order"),
        F.coalesce(F.col("_excl_label"), F.lit("(kept)")).alias("rule_label"),
    ).agg(F.count(F.lit(1)).alias("removed"))
    # ≤ ~20 rows after the aggregation: single-partition windows are fine
    w_total = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_cum = Window.orderBy("rule_order").rowsBetween(Window.unboundedPreceding, 0)
    return (
        counts.withColumn("_total", F.sum("removed").over(w_total))
        .withColumn("_cum", F.sum("removed").over(w_cum))
        .filter(F.col("rule_order") < kept_marker)
        .select(
            "rule_order",
            "rule_label",
            "removed",
            (F.col("_total") - F.col("_cum")).alias("remaining"),
        )
        .orderBy("rule_order")
    )


def render_stage_report(
    result: "PipelineResult", initial_count: int, final_count: int | None = None
) -> str:
    """Collect the (tiny) stage report and format it like the reference's
    printed output (process_capex.py:1171-1177). ``final_count`` triggers
    the full DAG if the caller hasn't already counted — pass the number
    they already have where possible."""
    lines = []
    for r in result.stage_report.collect():
        lines.append(
            f"Removed {r.removed} rows ({r.rule_label}). "
            f"Remaining: {r.remaining} rows"
        )
    if final_count is None:
        final_count = result.processed.count()
    lines += [
        "",
        "Processing completed!",
        f"Initial records: {initial_count}",
        f"Final records: {final_count}",
        f"Records removed: {initial_count - final_count}",
    ]
    return "\n".join(lines)


def _ingest(raw: DataFrame) -> DataFrame:
    """Attach the deterministic row id used for pandas-order tiebreaks,
    then spread a few-file input (one CSV, one parquet file) with
    :func:`spread_few_splits`: the rule passes are regex-heavy and
    would otherwise run on a single core. The id is assigned BELOW the
    exchange, so it still reflects input order and stays
    deterministic."""
    return spread_few_splits(
        raw.withColumn("_row_id", F.monotonically_increasing_id())
    )


def run_pipeline(
    raw: DataFrame,
    office: DataFrame,
    golden: DataFrame | None = None,
    config: CapexPipelineConfig = CapexPipelineConfig(),
) -> PipelineResult:
    """Build the pipeline's plan and cut its two fan-out frames.

    The cuts run jobs here: each ``localCheckpoint`` runs its frame's
    broadcast and shuffle stages (AQE plans a frame by running them)
    and then the frame itself — the scan, the rule passes and the zone
    join for the tagged frame, W1 and the fail-open tail for the
    processed frame. Every output is then a cheap plan over the two
    cuts, and nothing else runs until an action."""
    raw_with_id = _ingest(raw)
    df = init_tags(raw_with_id)

    # pass A: F1 rejected, F2 dash vendor, F3 functions, F4 equipment
    df = accumulate_pass(df, PASS_A)

    # snapshot the one other column a projection mutates (P2): fail-open
    # reconstructs ORIGINAL raw rows from the tagged frame instead of
    # re-scanning the input (at 100 TB the second scan is the cost)
    df = df.withColumn("_orig_category", F.col("AssetCategoryName"))

    # P2 office/furniture re-cat (mutates AssetCategoryName), then P1
    # normalize into AssetCategoryName_2 — reference order :1123-1125.
    df = apply_normalize_category(apply_office_furniture_recat(df))

    # pass B: F5 category keep-3, F6 personal devices, F7 ds/darkstore/counter
    df = accumulate_pass(df, PASS_B)

    # J1(+J1b): zone/region broadcast join with remarks fallback. The
    # office digest (one small collect job) is shared with the fail-open
    # re-join instead of being rebuilt there.
    zone_maps = build_zone_maps(office)
    df = add_zone_region(df, office, zone_maps)

    # pass C: F8 IT, F9 approval, F10 darkstore, F11 Admin, F12 Ops, F13 OtIT
    df = accumulate_pass(df, PASS_C)

    # A1's input categories are pre-P3 (reference pivots at :1147, before
    # separate_plant_machinery) and the P4 extracts snapshot remarks
    # before P5's MUM suffix: remember both before the mutations.
    df = df.withColumn("_cat_pre_p3", F.col("AssetCategoryName_2"))

    # P3 separate P&M items, P4 Category_Type, P5 MUM remarks.
    # Category_Type and the pre-P5 remarks snapshot are independent
    # (neither reads the other's output): ONE withColumns = one analyzer
    # pass over the wide plan instead of two.
    df = apply_separate_plant_machinery(df)
    df = df.withColumns(
        {
            "Category_Type": category_type_col(),
            "_remarks_pre_p5": F.col("UserRemarks"),
        }
    )
    df = apply_mum_remarks(df)

    # pass D: F14 non-ops keywords + CCTV
    df = accumulate_pass(df, PASS_D)

    # P6: strict composite key (trailing '|' on empty vendor, :1245-1270)
    df = df.withColumn(
        "CompositePrimaryKey",
        strict_composite_key(
            F.col("RequestNo"), F.col("AssetItemName"), F.col("VendorName")
        ),
    )

    # F15: golden RequestNo tag (skipped when no golden file, :982-1004)
    if golden is not None:
        golden_keys = golden.select("RequestNo").distinct()
        df = df.join(
            F.broadcast(golden_keys.withColumn("_in_golden", F.lit(True))),
            "RequestNo",
            "left",
        )
        newly_gone = F.col("_excl_order").isNull() & F.col("_in_golden").isNull()
        # all four tag updates read the PRE-update tag columns: one
        # withColumns (one analyzer pass) is both correct and 4x cheaper
        df = df.withColumns(
            {
                "_excl_order": F.when(newly_gone, F.lit(_GOLDEN_RULE_ORDER)).otherwise(
                    F.col("_excl_order")
                ),
                "_excl_label": F.when(newly_gone, F.lit(GOLDEN_FILTER_LABEL)).otherwise(
                    F.col("_excl_label")
                ),
                "_excl_column": F.when(newly_gone, F.lit("RequestNo")).otherwise(
                    F.col("_excl_column")
                ),
                "_excl_value": F.when(
                    newly_gone, F.col("RequestNo").cast("string")
                ).otherwise(F.col("_excl_value")),
            }
        ).drop("_in_golden")

    # ── the single tagged lineage frame; everything below consumes it ──
    run_persists: list[DataFrame] = []

    def _cut(frame: DataFrame, label: str) -> DataFrame:
        """Cut a fan-out frame (the tagged lineage frame, then the final
        processed frame) with ``cache.plan_boundary``: a local
        checkpoint by default, or under ``$SPARK_GRAFT_BOUNDARY=staging``
        a staging-table write (durable, read back by every consumer —
        the 100 TB shape, where executor loss would otherwise lose the
        checkpoint blocks). Either way consumers read a leaf, not the
        rule plan. A checkpoint holds executor blocks until released,
        so it joins this run's frames."""
        frame = plan_boundary(frame, eager=True, label=label)
        if checkpoint_rdd(frame) is not None:
            run_persists.append(track(frame))
        return frame

    df = _cut(df, "capex-tagged")

    _internal = ("_cat_pre_p3", "_remarks_pre_p5", "_orig_category")
    kept = df.filter(F.col("_excl_order").isNull()).drop(*TAG_COLUMNS, *_internal)
    excluded = df.filter(F.col("_excl_order").isNotNull()).drop(*_internal)

    # raw-shaped reconstruction (original column values, pre-mutation)
    # for the fail-open path — avoids a second scan of the input
    raw_shape = df.select(
        *[
            F.col("_orig_category").alias("AssetCategoryName")
            if c == "AssetCategoryName"
            else F.col("_remarks_pre_p5").alias("UserRemarks")
            if c == "UserRemarks"
            else F.col(c)
            for c in raw.columns
        ],
        "_row_id",
    )

    # Rows that survived rules F1-F13: the reference computes the pivot
    # (:1147) and the P4 extracts (:1151) at that point in the DAG, so
    # rows later removed by F14/F15/W1 still participate. F14 tags use
    # orders ≥ 14 and the golden tag 99, making the membership test a
    # predicate on the lineage column.
    through_f13 = df.filter(
        F.col("_excl_order").isNull() | (F.col("_excl_order") >= 14)
    )

    # A1: pivot with pre-P3 categories
    pivot = create_pivot_table(
        through_f13.drop("AssetCategoryName_2", *TAG_COLUMNS)
        .withColumnRenamed("_cat_pre_p3", "AssetCategoryName_2")
        .drop("_remarks_pre_p5"),
        legacy_dates=config.legacy_dates,
    )

    # P4 extracts (may overlap; pre-P5 remarks, no composite key yet)
    item = "AssetItemName"
    extract_base = (
        through_f13.withColumn("UserRemarks", F.col("_remarks_pre_p5"))
        .drop(*TAG_COLUMNS, *_internal, "CompositePrimaryKey")
    )
    amc = extract_base.filter(contains_any_ci(item, AMC_KEYWORDS)).withColumn(
        "Category_Type", F.lit("AMC")
    )
    sorter = extract_base.filter(contains_any_ci(item, SORTER_KEYWORDS)).withColumn(
        "Category_Type", F.lit("Sorter")
    )
    rental = extract_base.filter(contains_any_ci(item, RENTAL_KEYWORDS)).withColumn(
        "Category_Type", F.lit("Rental_Opex")
    )

    cleaned = kept  # survived every exclusion rule; W1 removals unaudited
    audit_ordered = build_audit([excluded], cleaned, keep_order_cols=True)
    audit = audit_ordered.select(*AUDIT_COLUMNS)

    # W1: top-5 representative rows per RequestNo (adds leaky 'priority')
    processed = select_representative_rows(cleaned, exact_ties=config.exact_w1_ties)

    # J4: fail-open — re-include raw rows whose key was neither kept nor
    # audited (reinstate_unknown_exclusions, process_capex.py:12-56).
    # The W1 output feeds two consumers there: the key anti-join inside
    # the add-back persist, and the union. The persist is built by its
    # own plan, so exchange reuse cannot share W1 with the union, and W1
    # runs twice while the processed cut is built; cutting W1 as well
    # built processed no faster (sf0.01, 4 cores, with persist cuts).
    if config.fail_open:
        processed = _fail_open(
            raw_shape, processed, office, audit, zone_maps, _persists=run_persists
        )

    # the frame every consumer reads (sinks, summaries, validation, the
    # q93 false-negative anti-join, the registry's capex family): cut it
    # once here, so none of them re-runs W1 and the fail-open tail
    processed = _cut(processed, "capex-processed")

    return PipelineResult(
        processed=processed,
        pivot=pivot,
        amc=amc,
        sorter=sorter,
        rental=rental,
        audit=audit,
        audit_ordered=audit_ordered,
        cleaned=cleaned,
        tagged=df,
        persisted_frames=run_persists,
    )


def _fail_open(
    raw: DataFrame,
    processed: DataFrame,
    office: DataFrame,
    audit: DataFrame,
    zone_maps=None,
    _persists: list | None = None,
) -> DataFrame:
    """Reinstate unexplained exclusions, then re-normalize — reproducing
    reinstate_unknown_exclusions (process_capex.py:12-56) including its
    side effects on already-processed rows:

    - when NOTHING needs re-including the reference early-returns
      (:26-28,:38-39) — none of the side effects below happen. That
      global condition is carried in-plan as a broadcast 1-row flag so
      the pipeline stays lazy;
    - re-running P1 on the merged frame erases P3's
      'PLANT & MACHINERY - <item>' labels from AssetCategoryName_2
      (process_capex.py:43-46) — a real reference quirk;
    - re-running the zone join recomputes Zone/Region for every row
      (idempotent for previously mapped rows);
    - dedup on (CompositePrimaryKey, AssetItemAmount) keeps processed
      rows over re-included ones (concat order + keep='first', :40-53);
    - the raw side uses ROBUST keys while the processed side keeps its
      STRICT keys (trailing '|' on empty vendors, :22-26) — so a kept
      row with an empty vendor never matches and gets re-included as a
      duplicate. Reproduced deliberately.
    """
    raw_keyed = raw.withColumn(
        "CompositePrimaryKey",
        robust_key(F.col("RequestNo"), F.col("AssetItemName"), F.col("VendorName")),
    )
    processed_keys = processed.select("CompositePrimaryKey").distinct()
    audited_keys = audit.select(
        F.col("CompositeKey").alias("CompositePrimaryKey")
    ).distinct()

    add_back = (
        raw_keyed.join(processed_keys, "CompositePrimaryKey", "left_anti")
        .join(audited_keys, "CompositePrimaryKey", "left_anti")
        .withColumn("ReincludedViaFailOpen", F.lit(True))
        .withColumn("FailOpenNote", F.lit("Unknown exclusion; fail-open applied"))
    )
    # two consumers (the early-return flag aggregate and the union):
    # without this the whole anti-join chain over the raw keys runs
    # twice — at 100 TB that's a second full pass over the input keys
    add_back = persisted(add_back)
    if _persists is not None:
        _persists.append(add_back)

    # the reference's early-return condition, as data: did anything get
    # re-included? (1-row broadcast; gates every side effect below)
    has_addback = add_back.agg(
        (F.count(F.lit(1)) > 0).alias("_failopen_active")
    )

    merged = processed.unionByName(add_back, allowMissingColumns=True)
    merged = merged.crossJoin(F.broadcast(has_addback))
    active = F.col("_failopen_active")

    # P1 re-run on the merged frame (erases P3 suffixes — see docstring)
    merged = merged.withColumn(
        "AssetCategoryName_2",
        F.when(active, normalized_category(F.col("AssetCategoryName"))).otherwise(
            F.col("AssetCategoryName_2")
        ),
    )
    # zone join re-run; blend with the previous values under the flag
    merged = add_zone_region(
        merged.withColumnsRenamed({"Zone": "_old_zone", "Region": "_old_region"}),
        office,
        zone_maps,
    )
    merged = merged.withColumns(
        {
            "Zone": F.when(active, F.col("Zone")).otherwise(F.col("_old_zone")),
            "Region": F.when(active, F.col("Region")).otherwise(F.col("_old_region")),
        }
    ).drop("_old_zone", "_old_region")
    # keep processed rows over re-included ones; within the processed
    # side the reference's keep='first' sees the W1 output order
    # (priority desc, then the split-permutation frame order), while
    # re-included rows follow raw input order — but only dedup at all
    # when the fail-open actually fired
    is_reincluded = F.col("ReincludedViaFailOpen").isNotNull()
    w = Window.partitionBy("CompositePrimaryKey", "AssetItemAmount").orderBy(
        F.when(is_reincluded, F.lit(1)).otherwise(F.lit(0)),
        F.when(is_reincluded, F.lit(0)).otherwise(
            -F.coalesce(F.col("priority"), F.lit(0))
        ),
        F.when(is_reincluded, F.lit(0)).otherwise(w1_frame_order()),
        F.asc("_row_id"),
    )
    merged = (
        merged.withColumn("_dedup_rn", F.row_number().over(w))
        .filter(~active | (F.col("_dedup_rn") == 1))
        .drop("_dedup_rn", "_failopen_active")
    )
    return merged
