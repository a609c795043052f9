"""False-negative enrichment — the reference's main debugging affordance
(process_capex.py:1406-1471): every validation false negative gets an
exclusion reason attached, resolved through a fallback chain:

    1. exact audit hit on the FN composite key
    2. audit hit on the short key (RequestNo|AssetItemName)
    3. earliest audit entry whose key extends the short key by a vendor
       (string-prefix match, dict-insertion order = recording-step order
       then step-frame order — process_capex.py:1437-1443)
    4. rule re-derivation on the first matching raw input row
       (``explain_exclusion_reason``, :385-499; strict-key lookup, then
       short-key)
    5. the same re-derivation over the reference/golden frame
    6. 'Unknown'

Every stage is an equi-join on a key column (the "prefix" match is an
equi-join on the short key derived from BOTH sides) — no per-key driver
loops, no quadratic scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from capex_data_pipeline_spark.functions.keys import strict_composite_key
from capex_data_pipeline_spark.functions.text import (
    DARK_STORE,
    EXPERIMENTAL,
    IT_NON_RELEVANT,
    PERSONAL_DEVICE_WORDS,
    PERSONAL_NONBUSINESS,
    negation_aware_any,
    negation_aware_pattern,
    phrase_pattern,
)

#: explain_exclusion_reason's REDUCED normalization map
#: (process_capex.py:447-453 — not P1's 13-entry map)
_EXPLAIN_CATEGORY_MAP = {
    "LEASEHOLD IMPROVEMENTS": "LEASEHOLD",
    "LEASE HOLD": "LEASEHOLD",
    "LEASEHOLD IMPROVEMENT": "LEASEHOLD",
    "FURNITURE": "FURNITURE",
    "OFFICE EQUIPMENTS": "OFFICE EQUIPMENTS",
}

_NON_OPS_KEYWORDS = (
    "Personal",
    "Individual",
    "Non-operational",
    "Administrative only",
    "test",
    "demo",
    "sample",
)

_UNWANTED_FUNCTIONS = ("cs", "fa", "sales", "channel", "vigilance")

def _val(name: str, strip: bool = True) -> Column:
    v = F.coalesce(F.col(name).cast("string"), F.lit(""))
    return F.trim(v) if strip else v


def _first_occurrence_not_negated(text_lower: Column, word: str) -> Column:
    """The reference checks negation only at the FIRST occurrence of a
    device word (process_capex.py:475-478 uses _contains_phrase(...)[0]):
    true iff the first plain match position equals the first non-negated
    match position."""
    plain = F.regexp_instr(text_lower, F.lit(phrase_pattern(word)))
    nonneg = F.regexp_instr(text_lower, F.lit(negation_aware_pattern(word)))
    return (plain > 0) & (plain == nonneg)


def _explain_branches() -> "tuple[list, list]":
    """The ordered (condition, value) branch lists of the explain CASE,
    split at the in-loop audit-fallback slot: ``pre`` holds every branch
    evaluated BEFORE the fallback (through the first NON_OPS keyword),
    ``post`` the keywords after it. Split out so the expensive regex
    conditions can be evaluated ONCE per row and reused by several
    label variants (see :func:`_explain_on_pair`)."""
    cs = _val("CurrentStatus")
    isv = _val("IsSelectedVendor")
    rf = _val("RequestFunction")
    ac = _val("AssetCategoryName")
    item = _val("AssetItemName")
    itemcat = _val("ItemCategory")
    remarks = _val("UserRemarks", strip=False)

    combined = F.concat_ws(" ", item, itemcat, ac)
    fire = combined.rlike(r"(?i)fire\s*extinguish\w*|\bfire\s*ex\w*|\bfireex\b")
    fan = combined.rlike(r"(?i)\bfans?\b")
    aircond = combined.rlike(
        r"(?i)air\s*condit(?:ion|ioner|ioning)?|air[-\s]*conditioning"
        r"|air\s*condition|air\s*conditioner|air\s*conditioning"
        r"|air\s*con\b|aircon\b|a\s*\/\s*c"
    )
    ac_word = combined.rlike(r"(?i)\bAC\b") & combined.rlike(
        r"(?i)split|window|\bton\b|inverter|compressor|air|cond"
    )

    ac2 = F.upper(ac)
    for k, v in _EXPLAIN_CATEGORY_MAP.items():
        ac2 = F.when(F.upper(ac) == k, F.lit(v)).otherwise(ac2)

    norm_remark = F.trim(remarks)  # _normalize_remark strips (:82-85)
    ds_word = F.lower(norm_remark).rlike(r"(?i)\bds\b")
    dark = negation_aware_any(norm_remark, DARK_STORE)
    counter = negation_aware_any(norm_remark, ("counter",))

    combined_pd = F.lower(F.concat_ws(" ", item, itemcat, remarks, ac))
    device = F.lit(False)
    for w in PERSONAL_DEVICE_WORDS:
        device = device | _first_occurrence_not_negated(combined_pd, w)

    nonrel = (
        negation_aware_any(norm_remark, PERSONAL_NONBUSINESS)
        | negation_aware_any(norm_remark, IT_NON_RELEVANT)
        | negation_aware_any(norm_remark, EXPERIMENTAL)
    )

    combined2 = F.lower(F.concat_ws(" ", item, itemcat, remarks))

    def kw_hit(kw: str) -> Column:
        return combined2.contains(kw.lower())

    pre = [
        (F.lower(cs) == "rejected", F.lit("Rejected status")),
        (isv == "-", F.lit("IsSelectedVendor is '-'")),
        (
            F.lower(rf).isin(*_UNWANTED_FUNCTIONS),
            F.concat(F.lit("Removed RequestFunction '"), rf, F.lit("'")),
        ),
        (
            fire | fan | aircond | ac_word,
            F.lit("Excluded equipment: Air Conditioner/Fan/Fire Extinguisher"),
        ),
        (
            ~ac2.isin("COMPUTER", "PLANT & MACHINERY", "LEASEHOLD"),
            F.concat(
                F.lit("Asset category excluded after normalization ('"),
                ac2,
                F.lit("')"),
            ),
        ),
        (ds_word, F.lit("UserRemarks mention 'DS'")),
        (dark, F.lit("UserRemarks mention 'dark store'")),
        (counter, F.lit("UserRemarks mention 'counter'")),
        (
            device,
            F.lit(
                "Mention of personal computing device (laptop/macbook/tablet/phone)"
            ),
        ),
    ]
    for func in ("IT", "Admin", "Ops", "Ops through IT"):
        pre.append(
            ((rf == func) & nonrel, F.lit(f"{func} non-relevant by UserRemarks"))
        )
    pre.append(
        (
            cs == "Approval in Progress",
            F.lit("Status 'Approval in Progress' removed"),
        )
    )
    # 18) keyword loop — the in-loop audit fallback slot sits after the
    # FIRST keyword ('Personal') and before the rest (:481-497)
    pre.append(
        (
            kw_hit(_NON_OPS_KEYWORDS[0]),
            F.lit(f"Non-Ops equipment keyword: '{_NON_OPS_KEYWORDS[0]}'"),
        )
    )
    post = [
        (kw_hit(kw), F.lit(f"Non-Ops equipment keyword: '{kw}'"))
        for kw in _NON_OPS_KEYWORDS[1:]
    ]
    return pre, post


def _branch_index(branches: list) -> Column:
    """Fold ordered (condition, value) branches into ONE first-match
    integer index (1-based; 0 = no branch matched). The expensive regex
    conditions are evaluated exactly once per row to produce this
    single column — values are reattached later from the index (see
    :func:`_branch_value`), which lets a plan barrier (persist) sit
    between the regex pass and multiple consumers."""
    out = None
    for i, (cond, _val_) in enumerate(branches, start=1):
        piece = F.lit(i)
        out = F.when(cond, piece) if out is None else out.when(cond, piece)
    return out.otherwise(F.lit(0))


def _branch_value(branches: list, idx: Column) -> Column:
    """The value of branch ``idx`` (NULL for idx=0) — a cheap
    integer-keyed chain; the only column-dependent values reference
    RequestFunction / AssetCategoryName, which callers must keep
    through the barrier."""
    out = None
    for i, (_cond, val) in enumerate(branches, start=1):
        out = (
            F.when(idx == i, val) if out is None else out.when(idx == i, val)
        )
    return out


def explain_exclusion_reason_col(rowkey_label: Column | None = None) -> Column:
    """``explain_exclusion_reason`` (process_capex.py:385-499) as one
    first-match CASE over raw-row columns — including its quirks: the
    reduced category map, no CCTV/STOOL branch in 3a, first-occurrence
    negation for device words, and the in-loop audit fallback that fires
    after the 'Personal' keyword check but before 'Individual'
    (:481-497 — the try block is indented inside the keyword loop).

    ``rowkey_label`` is the audit label for the row's own un-stripped
    robust key (the in-loop fallback's lookup); pass None to skip it.
    """
    pre_b, post_b = _explain_branches()
    reason = None
    for cond, val in pre_b:
        reason = F.when(cond, val) if reason is None else reason.when(cond, val)
    if rowkey_label is not None:
        reason = reason.when(rowkey_label.isNotNull(), rowkey_label)
    for cond, val in post_b:
        reason = reason.when(cond, val)
    return reason.otherwise(F.lit("Unknown"))


def _short_key(key: Column) -> Column:
    return F.concat_ws("|", F.slice(F.split(key, r"\|", -1), 1, 2))


def _loop_fallback_rowkey(has_vendor: bool = True) -> Column:
    """The key the in-loop fallback builds from the row itself
    (process_capex.py:484-490): UN-stripped components, '' for nulls,
    vendor included only when non-blank after stripping (row.get of a
    missing VendorName column renders '')."""
    req = _val("RequestNo", strip=False)
    item = _val("AssetItemName", strip=False)
    vendor = _val("VendorName", strip=False) if has_vendor else F.lit("")
    full = F.concat(req, F.lit("|"), item, F.lit("|"), vendor)
    short = F.concat(req, F.lit("|"), item)
    return F.when(F.trim(vendor) != "", full).otherwise(short)


def _explain_on(
    frame: DataFrame,
    fn_keys: DataFrame,
    audit: DataFrame,
    tag: str,
) -> DataFrame:
    """Re-derive the exclusion reason from the first frame row whose
    STRICT key matches the FN key (then the short key) — the reference
    keys the lookup frame with create_composite_primary_key, whose
    fillna-first rendering is the strict builder (:1245-1270). When the
    frame has no VendorName column the reference's builder raises and it
    falls back to the robust short/full key (:1416-1420)."""
    if "VendorName" in frame.columns:
        key = strict_composite_key(
            F.col("RequestNo"), F.col("AssetItemName"), F.col("VendorName")
        )
    else:
        from capex_data_pipeline_spark.functions.keys import robust_key

        key = robust_key(F.col("RequestNo"), F.col("AssetItemName"), F.lit(""))
    keyed = frame.withColumn("_strict", key).withColumn(
        "_ord", F.monotonically_increasing_id()
    )
    # id below, regex above (same spread discipline as
    # _explain_pair_staged): the explain CASE below would otherwise run
    # single-task on a few-split input. Project down to the columns the
    # fallback rowkey, the explain CASE, and the downstream joins
    # actually consume BEFORE the exchange — the full-width frame would
    # otherwise ride the round-robin shuffle (and its
    # sortBeforeRepartition local sort) for nothing, exactly the
    # pre-projection _explain_pair_staged already does.
    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    _needed = ["_strict", "_ord"] + [
        c
        for c in (
            "RequestNo",
            "AssetItemName",
            "VendorName",
            "RequestFunction",
            "AssetCategoryName",
            "CurrentStatus",
            "IsSelectedVendor",
            "ItemCategory",
            "UserRemarks",
        )
        if c in keyed.columns
    ]
    keyed = spread_few_splits(keyed.select(*_needed))
    # audit label for the row's own (un-stripped) robust key feeds the
    # keyword loop's in-line fallback
    keyed = keyed.join(
        audit.select(
            F.col("CompositeKey").alias("_rk"),
            F.col("label").alias("_rk_label"),
        ),
        _loop_fallback_rowkey("VendorName" in frame.columns) == F.col("_rk"),
        "left",
    )
    # persist: by_full and by_short both consume this frame, and the
    # explain CASE is the expensive part (dozens of regexes per row) —
    # without it the whole regex pass over the input runs TWICE per frame
    from capex_data_pipeline_spark.cache import persisted

    explained = (
        keyed.withColumn("_reason", explain_exclusion_reason_col(F.col("_rk_label")))
        .select("_strict", "_ord", "_reason")
        .transform(persisted)
    )

    def first_match(on: Column, out: str) -> DataFrame:
        w = Window.partitionBy("CompositeKey").orderBy(F.asc("_ord"))
        return (
            fn_keys.join(explained, on, "inner")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("CompositeKey", F.col("_reason").alias(out))
        )

    by_full = first_match(F.col("CompositeKey") == F.col("_strict"), f"_expl_{tag}_full")
    by_short = first_match(F.col("_short_ck") == F.col("_strict"), f"_expl_{tag}_short")
    return (
        fn_keys.join(by_full, "CompositeKey", "left")
        .join(by_short, "CompositeKey", "left")
        .select(
            "CompositeKey",
            F.coalesce(f"_expl_{tag}_full", f"_expl_{tag}_short").alias(f"_expl_{tag}"),
        )
    )


def _explain_pair_staged(frame: DataFrame) -> DataFrame:
    """The shared-regex staged frame of :func:`_explain_on_pair`. The
    projection reduces every explain condition to a SINGLE first-match
    index over pre+post branches (one short-circuiting chain — the same
    lazy per-row cost as the original CASE; separate pre/post indices
    would evaluate the post keywords even for rows an early branch
    settled) and is PERSISTED: the plan depends only on ``frame``, so repeat
    invocations are a canonical-plan cache hit — the regex cost is
    paid once per session — and the barrier stops Catalyst from
    inlining the chain into each reason variant. The raw key
    components travel along for the post-barrier label joins;
    RequestFunction / AssetCategoryName feed the two dynamic branch
    values. (The pre/post SPLIT survives in one index because post
    branches only matter when no pre branch fired: an index in the
    post range implies pre missed, so the per-variant fallback label
    still slots between them at reassembly.)"""
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.functions.keys import robust_key
    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    strict = strict_composite_key(
        F.col("RequestNo"), F.col("AssetItemName"), F.col("VendorName")
    )
    short = robust_key(F.col("RequestNo"), F.col("AssetItemName"), F.lit(""))
    pre_b, post_b = _explain_branches()
    # keys + frame-order id are assigned BELOW the spread (so ``_ord``
    # still reflects input order, the same _ingest discipline), then
    # the regex CASE — the expensive part — runs ABOVE it: a few-split
    # input (one parquet split at bench scale) would otherwise evaluate
    # every branch regex on a single task. The exchange ships only the
    # key/branch-input projection.
    base = spread_few_splits(
        frame.select(
            strict.alias("_strict_raw"),
            short.alias("_strict_ref"),
            F.monotonically_increasing_id().alias("_ord"),
            "RequestNo",
            "AssetItemName",
            "VendorName",
            "RequestFunction",
            "AssetCategoryName",
            "CurrentStatus",
            "IsSelectedVendor",
            "ItemCategory",
            "UserRemarks",
        )
    )
    return base.select(
        "_strict_raw",
        "_strict_ref",
        "_ord",
        "RequestNo",
        "AssetItemName",
        "VendorName",
        "RequestFunction",
        "AssetCategoryName",
        _branch_index(pre_b + post_b).alias("_bi"),
    ).transform(persisted)


def _explain_on_pair(
    frame: DataFrame,
    fn_keys: DataFrame,
    audit: DataFrame,
) -> DataFrame:
    """Both explain fallbacks — the strict-keyed 'raw' variant and the
    vendor-less robust-keyed 'ref' variant — from ONE physical pass
    over ``frame`` (which must carry VendorName). Valid only when the
    reference frame is the raw frame minus its VendorName column
    (same rows, same order): then the 'ref' variant's key and in-loop
    fallback label are pure column functions of the raw rows, so the
    expensive regex CASE (dozens of patterns per row — the dominant
    cost of q93 at sf0.1) runs once instead of once per frame. The
    (pre, post) split keeps the per-variant fallback label OUTSIDE the
    shared pass (see :func:`explain_exclusion_parts_col`)."""
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.functions.keys import robust_key

    staged = _explain_pair_staged(frame)
    pre_b, post_b = _explain_branches()
    n_pre = len(pre_b)
    keyed = staged
    # projection reduces every condition to a SINGLE first-match
    # index over pre+post branches (one short-circuiting chain, the
    # same lazy per-row cost as the original CASE — two separate
    # pre/post indices would evaluate the post keywords even for rows
    # an early branch already settled) and is PERSISTED. The split
    # semantics survive because post branches only matter when no pre
    # branch fired: an index in the post range IMPLIES pre missed, so
    # the per-variant fallback label can still slot between them at
    # reassembly. The plan depends only on ``frame`` (audit label
    # joins happen AFTER the barrier), so (a) the persist is a
    # canonical-plan cache hit on repeat invocations — the regex cost
    # is paid once per session — and (b) the barrier stops Catalyst
    # from inlining the regex chain into each reason variant. The raw
    # key components travel along for the post-barrier label joins;
    # RequestFunction / AssetCategoryName feed the two dynamic branch
    # VALUES.
    for tag, has_vendor in (("raw", True), ("ref", False)):
        keyed = keyed.join(
            audit.select(
                F.col("CompositeKey").alias(f"_rk_{tag}"),
                F.col("label").alias(f"_rk_label_{tag}"),
            ),
            _loop_fallback_rowkey(has_vendor) == F.col(f"_rk_{tag}"),
            "left",
        )
    all_val = _branch_value(pre_b + post_b, F.col("_bi"))

    def _reason(label: Column) -> Column:
        return (
            F.when(
                (F.col("_bi") > 0) & (F.col("_bi") <= n_pre), all_val
            )
            .when(label.isNotNull(), label)
            .when(F.col("_bi") > n_pre, all_val)
            .otherwise(F.lit("Unknown"))
        )

    # MELT both sides and resolve all four (tag × key-kind) lookups in
    # ONE join + ONE aggregate — the naive form is four independent
    # join+window pipelines (raw/ref × full/short), each re-shuffling
    # the 150k-row explained frame. Selection semantics preserved
    # exactly: full-key hits beat short-key hits (kind_rank 0 < 1 —
    # the original coalesce(full, short)), ties within a kind resolve
    # by first frame order (_ord), and min() skipping NULLs gives the
    # per-tag LEFT-join behavior.
    explained_melt = keyed.select(
        "_ord",
        F.explode(
            F.array(
                F.struct(
                    F.col("_strict_raw").alias("_sk"),
                    F.lit("raw").alias("_tag"),
                    _reason(F.col("_rk_label_raw")).alias("_reason"),
                ),
                F.struct(
                    F.col("_strict_ref").alias("_sk"),
                    F.lit("ref").alias("_tag"),
                    _reason(F.col("_rk_label_ref")).alias("_reason"),
                ),
            )
        ).alias("_m"),
    ).select("_ord", "_m._sk", "_m._tag", "_m._reason")
    fn_melt = fn_keys.select(
        "CompositeKey",
        F.explode(
            F.array(
                F.struct(
                    F.col("CompositeKey").alias("_pk"),
                    F.lit(0).alias("_kr"),
                ),
                F.struct(F.col("_short_ck").alias("_pk"), F.lit(1).alias("_kr")),
            )
        ).alias("_p"),
    ).select("CompositeKey", "_p._pk", "_p._kr")

    # the FN melt is the tiny side and the regex-explained melt the
    # wide one: the planner broadcasts the FN side and streams the
    # explained frame map-side instead of exchanging it
    j = fn_melt.join(
        explained_melt, F.col("_pk") == F.col("_sk"), "inner"
    ).select(
        "CompositeKey",
        "_tag",
        F.struct("_kr", "_ord", "_reason").alias("_cand"),
    )
    picked = j.groupBy("CompositeKey").agg(
        F.min(F.when(F.col("_tag") == "raw", F.col("_cand"))).alias("_br"),
        F.min(F.when(F.col("_tag") == "ref", F.col("_cand"))).alias("_bf"),
    )
    return fn_keys.select("CompositeKey").join(
        picked, "CompositeKey", "left"
    ).select(
        "CompositeKey",
        F.col("_br._reason").alias("_expl_raw"),
        F.col("_bf._reason").alias("_expl_ref"),
    )


def enrich_false_negatives(
    false_negatives: DataFrame,
    audit_ordered: DataFrame,
    raw: DataFrame | None = None,
    reference: DataFrame | None = None,
    shared_reference: bool = False,
) -> DataFrame:
    """Attach exclusion reasons to FN keys (process_capex.py:1406-1471).

    ``audit_ordered`` must carry the build_audit(keep_order_cols=True)
    columns — the prefix fallback resolves ties by the audit dict's
    insertion order (recording step, then step-frame order).

    Returns (CompositeKey, RequestNo, AssetItemName, VendorName,
    exclusion_reason, exclusion_column, exclusion_value, reason_source);
    column/value are null on the explain/unknown paths, exactly like the
    reference's string-valued reasons.

    Both inputs are cut with :func:`cache.plan_boundary` first, one
    after the other: the FN-key frame is consumed by up to 8 join
    sites here and the audit by 5, so an uncut deep producer (the
    pipeline tail, the processed-vs-golden anti-join) would be
    embedded, analyzed and re-run at every site. The cuts are tracked,
    so ``cache.release_persisted`` frees them; read (or write) the
    result before releasing — a released cut raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, the same contract as the
    pipeline's own cuts.

    ``shared_reference``: set True ONLY when ``reference`` is ``raw``
    minus its VendorName column (same rows, same order) — then both
    explain fallbacks come from one shared regex pass over ``raw``
    (:func:`_explain_on_pair`), halving the dominant cost; the result
    is row-identical to the two-pass path (pinned by test + oracle).
    """
    from capex_data_pipeline_spark.cache import plan_boundary, track

    false_negatives = track(
        plan_boundary(false_negatives, eager=True, label="fn-keys")
    )
    audit_ordered = track(
        plan_boundary(audit_ordered, eager=True, label="fn-audit")
    )
    # every lookup join below is left to the planner: a checkpoint-cut
    # frame keeps its size estimate, so the FN-key and audit sides
    # broadcast under autoBroadcastJoinThreshold with no hint
    # (planner fact pinned in tests/test_graph.py)
    parts = F.split(F.col("CompositeKey"), r"\|", -1)
    fn = false_negatives.select(
        "CompositeKey",
        F.coalesce(F.try_element_at(parts, F.lit(1)), F.lit("")).alias("RequestNo"),
        F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit("")).alias("AssetItemName"),
        F.coalesce(F.try_element_at(parts, F.lit(3)), F.lit("")).alias("VendorName"),
        _short_key(F.col("CompositeKey")).alias("_short_ck"),
    )

    audit = audit_ordered
    a = audit.select(
        F.col("CompositeKey").alias("_ak"),
        F.col("label").alias("_a_label"),
        F.col("column").alias("_a_column"),
        F.col("value").alias("_a_value"),
        F.col("rule_order").alias("_a_order"),
        F.col("_step_ord").alias("_a_step"),
        F.col("_row_id").alias("_a_row"),
    )

    exact = a.select(
        F.col("_ak").alias("CompositeKey"),
        F.col("_a_label").alias("_x_label"),
        F.col("_a_column").alias("_x_column"),
        F.col("_a_value").alias("_x_value"),
    )
    short = a.select(
        F.col("_ak").alias("_short_ck"),
        F.col("_a_label").alias("_s_label"),
        F.col("_a_column").alias("_s_column"),
        F.col("_a_value").alias("_s_value"),
    )
    # prefix: audit keys that extend a short key by a vendor component;
    # first hit in dict-insertion order wins (:1437-1443)
    wp = Window.partitionBy("_short_ck").orderBy(
        F.asc("_a_order"), F.asc("_a_step"), F.asc("_a_row")
    )
    prefix = (
        a.withColumn("_a_short", _short_key(F.col("_ak")))
        .filter(F.col("_ak").startswith(F.concat(F.col("_a_short"), F.lit("|"))))
        .withColumnRenamed("_a_short", "_short_ck")
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") == 1)
        .select(
            "_short_ck",
            F.col("_a_label").alias("_p_label"),
            F.col("_a_column").alias("_p_column"),
            F.col("_a_value").alias("_p_value"),
        )
    )

    out = (
        fn.join(exact, "CompositeKey", "left")
        .join(short, "_short_ck", "left")
        .join(prefix, "_short_ck", "left")
    )

    expl_cols = []
    if shared_reference and raw is not None and reference is not None:
        # caller asserts reference == raw minus VendorName (same rows,
        # same order) — one shared regex pass computes both fallbacks
        out = out.join(
            _explain_on_pair(
                raw, fn.select("CompositeKey", "_short_ck"), audit
            ),
            "CompositeKey",
            "left",
        )
        expl_cols = ["_expl_raw", "_expl_ref"]
    else:
        for tag, frame in (("raw", raw), ("ref", reference)):
            if frame is not None:
                out = out.join(
                    _explain_on(
                        frame,
                        fn.select("CompositeKey", "_short_ck"),
                        audit,
                        tag,
                    ),
                    "CompositeKey",
                    "left",
                )
                expl_cols.append(f"_expl_{tag}")

    reason = F.coalesce(
        "_x_label",
        "_s_label",
        "_p_label",
        *expl_cols,
        F.lit("Unknown"),
    )
    source = (
        F.when(F.col("_x_label").isNotNull(), F.lit("audit_exact"))
        .when(F.col("_s_label").isNotNull(), F.lit("audit_short_key"))
        .when(F.col("_p_label").isNotNull(), F.lit("audit_prefix"))
    )
    for tag, label in (("raw", "explained_input"), ("ref", "explained_reference")):
        if f"_expl_{tag}" in out.columns:
            source = source.when(
                F.col(f"_expl_{tag}").isNotNull(), F.lit(label)
            )
    audit_col = F.coalesce("_x_column", "_s_column", "_p_column")
    audit_val = F.coalesce("_x_value", "_s_value", "_p_value")
    audit_hit = (
        F.col("_x_label").isNotNull()
        | F.col("_s_label").isNotNull()
        | F.col("_p_label").isNotNull()
    )
    return out.select(
        "CompositeKey",
        "RequestNo",
        "AssetItemName",
        "VendorName",
        reason.alias("exclusion_reason"),
        F.when(audit_hit, audit_col).alias("exclusion_column"),
        F.when(audit_hit, audit_val).alias("exclusion_value"),
        source.otherwise(F.lit("unknown")).alias("reason_source"),
    )
