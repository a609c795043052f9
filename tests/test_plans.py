"""Physical-plan regression tests: the scale properties documented in
docs/SCALE.md pinned as assertions, so a refactor that silently turns a
broadcast join into a shuffle (or a bucketed candidate join into an
all-pairs nested loop) fails CI instead of failing at 100 TB."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _stored_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs that hold blocks in the session's storage."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cut_ids(res) -> list[int]:
    """RDD ids of a pipeline run's two checkpoint cuts."""
    from capex_data_pipeline_spark.cache import checkpoint_rdd

    return [checkpoint_rdd(df).id() for df in (res.tagged, res.processed)]


@pytest.fixture(scope="module")
def queries():
    from capex_data_pipeline_spark.registry import QUERIES

    return QUERIES


def test_dim_join_broadcasts(spark, queries):
    plan = _plan(queries["q06_broadcast_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact side must not shuffle


def test_topk_pushes_into_shuffle(spark, queries):
    plan = _plan(queries["q14_topk_per_group"](spark, SF))
    assert "WindowGroupLimit" in plan  # top-k applied map-side pre-exchange


def test_filter_scan_prunes_columns(spark, queries):
    plan = _plan(queries["q01_status_filter"](spark, SF))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    # the orders table has 6 columns; q01 needs only its projection
    assert "o_orderdate" not in read_schema[0]


def test_dedup_candidate_joins_are_equi_joins(spark, queries):
    """No dedup path may degrade to an all-pairs join: every candidate
    generator joins on a compact LSH key (band hash, sketch segment,
    SRP bucket)."""
    for name in (
        "q31_minhash_lsh",
        "q33_ngram_jaccard",
        "q35_embedding_neardup",
        "q32_simhash",
    ):
        plan = _plan(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_corpus_prep_operators_are_narrow(spark):
    """Chunking and hash sampling must stay map-only: no Exchange in
    either plan (a shuffle creeping in would turn a linear 100 TB pass
    into a cluster-wide move)."""
    from capex_data_pipeline_spark.extensions.corpus import (
        chunk_documents,
        stratified_hash_sample,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h", "s0"), (2, "x y z", "s1")],
        "doc_id long, text string, source string",
    )
    chunk_plan = _plan(chunk_documents(docs, chunk_tokens=4, overlap=1))
    assert "Exchange" not in chunk_plan
    sample_plan = _plan(
        stratified_hash_sample(
            docs, {"s0": 1.0}, strata_col="source", key_col="doc_id"
        )
    )
    assert "Exchange" not in sample_plan


def test_pipeline_consumers_read_the_persisted_frame(spark, raw_sdf, office_sdf):
    """The tagged-lineage design's core property: the fan-out consumers
    (kept rows, audit keys, pivot, extracts) all read the cut tagged
    frame — LogicalRDD leaves — instead of re-deriving from the input,
    so the scan + regex + join work runs once however many outputs are
    consumed. A re-derived consumer would carry the J1 zone join, whose
    build side is the only place ``_dim_office`` appears."""
    from capex_data_pipeline_spark.plans.pipeline import run_pipeline

    res = run_pipeline(raw_sdf, office_sdf, golden=None)
    for df in (res.audit_ordered, res.pivot, res.amc):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan
        assert "_dim_office" not in plan
    audit_plan = res.audit_ordered._jdf.queryExecution().optimizedPlan().toString()
    assert audit_plan.count("LogicalRDD") >= 2  # excluded + kept sides
    res.unpersist()


def test_pipeline_cuts_are_checkpoint_leaves(spark, raw_sdf, office_sdf):
    """The two fan-out frames are plan boundaries, not persists: each
    analyzes to a one-node LogicalRDD plan, so every consumer plans a
    leaf instead of the 19-stage rule plan under an InMemoryRelation."""
    from capex_data_pipeline_spark.plans.pipeline import run_pipeline

    res = run_pipeline(raw_sdf, office_sdf, golden=None)
    for df in (res.tagged, res.processed):
        plan = df._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "LogicalRDD"
        assert plan.children().size() == 0
        assert not df.storageLevel.useMemory  # no persist under the cut
    res.unpersist()


def test_pipeline_result_unpersist_releases_cached_blocks(spark, raw_sdf, office_sdf):
    """Long-lived sessions must be able to release a run's blocks (the
    tagged and processed checkpoint cuts, the fail-open add-back
    persist): every RDD block the run stored is gone afterwards, and a
    released cut cannot be read again (no recompute)."""
    from capex_data_pipeline_spark.plans.pipeline import run_pipeline

    before = _stored_rdd_ids(spark)
    res = run_pipeline(raw_sdf, office_sdf, golden=None)
    res.processed.count()  # materialize the add-back cache too
    assert len(res.persisted_frames) == 3
    run_blocks = _stored_rdd_ids(spark) - before
    assert set(_cut_ids(res)) < run_blocks  # both cuts + the add-back
    assert res.unpersist() == 3
    assert not _stored_rdd_ids(spark) & run_blocks
    assert not res.persisted_frames  # handle is drained; idempotent
    assert res.unpersist() == 0
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        res.processed.count()


def test_pipeline_processed_is_the_persisted_frame(spark, raw_sdf, office_sdf):
    """Every consumer of ``res.processed`` reads one stored frame instead
    of re-running W1 and the fail-open tail: processed is one of the
    run's three tracked frames (tagged, add-back, processed), its
    checkpoint blocks are in storage, and ``res.unpersist()`` releases
    them."""
    from capex_data_pipeline_spark.plans.pipeline import run_pipeline

    res = run_pipeline(raw_sdf, office_sdf, golden=None)
    assert len(res.persisted_frames) == 3
    assert any(df is res.processed for df in res.persisted_frames)
    res.processed.count()
    processed_id = _cut_ids(res)[1]
    assert processed_id in _stored_rdd_ids(spark)
    res.unpersist()
    assert processed_id not in _stored_rdd_ids(spark)


def test_release_persisted_clears_tracked_frames(spark):
    """The module-level release drains everything persisted() tracked."""
    from capex_data_pipeline_spark.cache import (
        persisted,
        release_persisted,
        tracked_count,
    )

    release_persisted()  # start clean (other tests may have tracked frames)
    df = persisted(spark.range(100))
    df.count()
    assert tracked_count() >= 1
    assert df.storageLevel.useMemory
    assert release_persisted() >= 1
    assert tracked_count() == 0
    assert not df.storageLevel.useMemory


def test_scoped_persists_releases_only_scope_frames(spark):
    """scoped_persists frees one operator invocation's frames without
    touching earlier persists or the pipeline memo — the scoped
    counterpart to the all-or-nothing release_persisted."""
    from capex_data_pipeline_spark.cache import (
        persisted,
        release_persisted,
        scoped_persists,
        tracked_count,
    )

    release_persisted()
    outer = persisted(spark.range(50))
    outer.count()
    with scoped_persists() as release:
        inner = persisted(spark.range(60))
        inner.count()
        assert tracked_count() == 2
        assert release() == 1  # early release, returns count
        assert not inner.storageLevel.useMemory
        assert tracked_count() == 1
    assert tracked_count() == 1  # exit is idempotent after early release
    assert outer.storageLevel.useMemory  # outer frame untouched

    # the common shape: rely on exit alone
    with scoped_persists():
        inner2 = persisted(spark.range(70))
        inner2.count()
    assert not inner2.storageLevel.useMemory
    assert outer.storageLevel.useMemory and tracked_count() == 1
    release_persisted()


def test_cache_registry_thread_safety(spark):
    """Concurrent persist/untrack/release from worker threads (normal
    for Spark driver apps) must not corrupt the registry, double-release,
    or raise."""
    import threading

    from capex_data_pipeline_spark.cache import (
        persisted,
        release_persisted,
        scoped_persists,
        tracked_count,
        untrack,
    )

    release_persisted()
    errors: list[Exception] = []

    def worker(seed: int) -> None:
        # range sizes are disjoint across threads AND iterations: Spark's
        # CacheManager keys cache entries by canonicalized plan, so two
        # threads persisting spark.range(N) with the SAME N would share
        # (and race on) one cache entry — a test artifact, not the
        # registry behavior under test
        try:
            for i in range(5):
                df = persisted(spark.range(100 + seed * 20 + i))
                df.count()
                if i % 2:
                    untrack(df)
                    df.unpersist()
            with scoped_persists():
                persisted(spark.range(1000 + seed)).count()
        except Exception as e:  # pragma: no cover - failure diagnostics
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, [repr(e) for e in errors]
    # whatever remains tracked is exactly the even-i frames not yet
    # released; the global sweep drains them all without error
    release_persisted()
    assert tracked_count() == 0


def test_clear_pipeline_cache_releases_memoized_runs(spark):
    """The registry memoizes one pipeline DAG per (app, sf_dir, config);
    clear_pipeline_cache must unpersist those runs' frames and empty the
    memo so a long-lived session can sweep the registry repeatedly
    without accumulating cached blocks."""
    from capex_data_pipeline_spark import registry_ext

    res = registry_ext._synth_pipeline(spark, "/root/testdata/sf0.001")
    res.processed.count()  # materialize the add-back cache too
    assert registry_ext._PIPELINE_CACHE
    cuts = set(_cut_ids(res))
    assert cuts <= _stored_rdd_ids(spark)
    released = registry_ext.clear_pipeline_cache()
    assert released >= 1
    assert not registry_ext._PIPELINE_CACHE
    assert not res.persisted_frames
    assert not cuts & _stored_rdd_ids(spark)


def test_driver_contract_registry_invariants():
    """Pin the driver-contract shape: exactly 128 registered queries
    (50 at the round-3 consolidation; q38 + q44-q49 corpus-prep, the
    q63-q89 cleaning/curation/temporal/analytics families, the
    round-8 q58/q59/q95-q103 retrieval/drift/entropy/quality/graph/tokenizer additions,
    the q104 split-leakage / q105 histogram profiling pair, the
    round-6 q106/q108 duplicated-span find+removal / q107+q109 BPE
    encode / q110 URL canonicalization / q111 within-doc repeated
    spans, the round-6/7 graph family q112 triangle counting /
    q113 k-core peel / q114 connected components / q116 label
    propagation, the round-7 q115 engine-portable k-means, and the
    round-7 ML trio q117 PCA power iteration / q118 trigram LM /
    q119 Bloom decontamination, q120 HTML extraction, q121 PQ ANN, q122 Zipf diagnostics, q123 mixture schedule, q124 link graph, q125 count-min sketch, q126 HyperLogLog, q127 snapshot diff, q128 source calibration, the round-7 q129 logistic-regression trainer, q130 trigram perplexity filtering, q131 phrase search, q132 anchor-text aggregation, q133 canonical-per-cluster election, q134 temperature mixture resampling, q135 multi-source BFS hops, q136 hard-negative mining, q137 c-TF-IDF source keywords, q138 stupid-backoff cross-corpus perplexity, q139 boilerplate-header detection, q140 word-dropout augmentation, q141 reciprocal-rank fusion, q142 shingle containment, the round-8 q143 sqrt(N)-sized IVF build/query split, q144 perceptual-hash image near-dup, q145 unigram-LM tokenizer training, q146 unigram encode, q147 ANN recall evaluation, q148 image near-dup clustering, q149 Z-order clustering keys, q150 association rules, q151 curriculum bucketing, q152 near-dup-safe cluster splits, q153 per-group HLL, q154 binned ROC/AUC, and q155 CMS join-size estimation), a full
    value-exact oracle for EVERY query (no rows-only fallbacks), and
    every ``headline=False`` tag naming a registered query."""
    import __spark_entry__ as E
    from capex_data_pipeline_spark.registry import NON_HEADLINE

    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) == 268
    # drift lint: registered names must be a contiguous q1..qN block, so
    # an added/removed query fails HERE with the offending number, not
    # just a bare count mismatch
    nums = sorted(int(re.match(r"q(\d+)", n).group(1)) for n in qs)
    assert nums == list(range(1, len(qs) + 1)), (
        f"query numbering drifted: missing/dup numbers in {nums[-5:]}"
    )
    assert set(oracles) == set(qs)
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    assert NON_HEADLINE <= set(qs)
    assert set(qs) - NON_HEADLINE, "bench.py would time no query"


def test_bench_emits_one_json_line_with_stats():
    """bench.py's output is a contract: it must print exactly two JSON lines,
    the full record with the contract keys plus the self-defense block
    (per-query median/min/spread/runs and loadavg), then the tail. Run
    as a subprocess over every headliner at the smallest SF with a
    single rep to keep it fast."""
    import json
    import os
    import subprocess
    import sys

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPS="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "..", "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    json_lines = [
        ln for ln in out.stdout.splitlines() if ln.startswith("{") and ln.endswith("}")
    ]
    # r9 contract: the full stats line, then a compact tail summary
    # LAST (the driver keeps only the end of stdout — the tail line
    # keeps every BENCH_rN artifact self-interpreting)
    assert len(json_lines) == 2, out.stdout[-2000:]
    d = json.loads(json_lines[0])
    assert d["metric"] == "headline_queries_total"
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["sf"] == 0.001
    assert set(d["queries"]) == set(d["stats"])
    for st in d["stats"].values():
        assert {"median", "min", "spread", "runs"} <= set(st)
    assert "before" in d["loadavg"] and "after" in d["loadavg"]
    tail = json.loads(json_lines[1])
    assert tail["summary"] == "tail"
    assert tail["value"] == d["value"]
    assert tail["n_queries"] == len(d["queries"])
    assert 0 < len(tail["slowest"]) <= 10
    assert all(q in d["queries"] for q in tail["slowest"])


def test_unpersist_untracks_from_global_registry(spark, raw_sdf, office_sdf):
    """PipelineResult.unpersist must also drop its frames from the
    module release registry — otherwise the per-run release path leaks
    driver-side references and release_persisted double-releases."""
    from capex_data_pipeline_spark.cache import release_persisted, tracked_count
    from capex_data_pipeline_spark.plans.pipeline import run_pipeline

    release_persisted()
    res = run_pipeline(raw_sdf, office_sdf, golden=None)
    n_run = len(res.persisted_frames)
    assert tracked_count() >= n_run > 0
    before = tracked_count()
    res.unpersist()
    assert tracked_count() == before - n_run


def test_release_persisted_invalidates_pipeline_memo(spark):
    """cache.release_persisted() must not leave _PIPELINE_CACHE serving
    results whose persisted frames it just dropped (they'd silently
    re-run the tagged subplan once per consumer)."""
    from capex_data_pipeline_spark import registry_ext
    from capex_data_pipeline_spark.cache import release_persisted
    from tests.conftest import TESTDATA_SF_DIR

    res = registry_ext._synth_pipeline(spark, TESTDATA_SF_DIR)
    res.processed.count()
    n_frames = len(res.persisted_frames)
    assert registry_ext._PIPELINE_CACHE and n_frames > 0
    cuts = set(_cut_ids(res))
    assert cuts <= _stored_rdd_ids(spark)
    # hook-released frames count toward the total (return-value contract)
    assert release_persisted() >= n_frames
    assert not registry_ext._PIPELINE_CACHE
    assert not cuts & _stored_rdd_ids(spark)


def test_round7_query_plans_stay_narrow(spark, queries):
    """Plan pins for the round-7 families: no cartesian blowups
    anywhere; the single-window operators carry exactly one exchange;
    classifier scoring carries none beyond the scan."""
    for name in (
        "q76_crossdoc_lines",
        "q77_range_join",
        "q79_resample_ffill",
        "q82_sessionize",
        "q83_robust_zscore",
        "q84_cohort_retention",
        "q85_funnel",
        "q87_bigram_pmi",
        "q88_rolling_window",
        "q18_fuzzy_match",
        "q08_scd2",
        "q13_cube",
        "q26_unpivot_melt",
    ):
        plan = _plan(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        # 1-row broadcast totals (q87) legitimately use BroadcastNestedLoopJoin;
        # everything else must not
        if name != "q87_bigram_pmi":
            assert "BroadcastNestedLoopJoin" not in plan, name
    for name in ("q82_sessionize", "q88_rolling_window"):
        plan = _plan(queries[name](spark, SF))
        assert plan.count("Exchange") == 1, (name, plan.count("Exchange"))


def test_correlated_subqueries_are_decorrelated(spark, queries):
    """q29's correlated scalar + EXISTS subqueries must decorrelate
    into joins: the executed plan contains no Subquery nodes and no
    cartesian/nested-loop fallbacks."""
    plan = _plan(queries["q29_correlated_subquery"](spark, SF))
    assert "Subquery" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round8_query_plans(spark, queries):
    """Round-8 family pins: the stream-static enrich broadcasts the
    dimension (the stream side must never shuffle); char entropy is
    map-only (zero exchanges beyond the scan); BM25 and drift carry no
    cartesian/nested-loop joins beyond 1-row broadcast totals."""
    plan = _plan(queries["q58_static_enrich"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange" not in plan.split("BroadcastExchange")[0], (
        "stream side shuffled before the broadcast join"
    )
    plan = _plan(queries["q97_char_entropy"](spark, SF))
    assert "Exchange" not in plan, "char entropy must stay map-only"
    for name in (
        "q95_bm25_topk",
        "q96_distribution_drift",
        "q98_quality_report",
        "q99_pagerank",
        "q100_bpe_pairs",
        "q101_group_centroids",
        "q102_snapshot_drift",
        "q103_cdc_apply",
        "q59_windowed_topk",
    ):
        plan = _plan(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name
    # q59's top-k must push into the shuffle like q14
    assert "WindowGroupLimit" in _plan(queries["q59_windowed_topk"](spark, SF))
    # q99 must not re-shuffle the caller-distinct edge list: with
    # assume_distinct the operator adds NO distinct aggregate on
    # (src, dst) — the only pair-keyed aggregates are the builder's
    # upstream d.distinct() on (a, b). Reverting assume_distinct (or
    # reintroducing the defensive distinct) surfaces as a
    # HashAggregate keyed on src.
    plan = _plan(queries["q99_pagerank"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate(keys=[src#" not in plan, (
        "pagerank re-added the defensive edge distinct for q99"
    )


def test_profiling_split_query_plans_stay_narrow(spark, queries):
    """q104/q105 plan pins: the split-leakage audit is all equi-joins
    on compact keys (fingerprint/split) — no cartesian, no nested
    loop; the histogram's ONLY nested-loop join is the intended 1-row
    min/max stats broadcast (same pattern as q87's totals)."""
    plan = _plan(queries["q104_split_leakage"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _plan(queries["q105_numeric_histogram"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_round6_span_and_bpe_plans(spark, queries):
    """q106/q107 plan pins: the span dedup's joins are all equi-joins
    on compact keys (md5 digest / doc id) — no cartesian or nested
    loop anywhere — and the duplicated-shingle set applies as a
    LeftSemi; the BPE encode crosses into Python exactly ONCE
    (ArrowEvalPython over the vocab frame), never per-document."""
    plan = _plan(queries["q106_duplicated_spans"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    plan = _plan(queries["q108_span_dedup_removal"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _plan(queries["q107_bpe_encode"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_registry_modules_import_directly_without_cycles():
    """Every registry module must be importable FIRST (not only via
    registry.py's tail imports): a sibling-registry import at module
    scope creates a partial-initialization cycle that poisons QUERIES
    for the rest of the process (the q133/q135/q142 oracle builders
    once pulled _SHINGLES/_COPURCH from sibling registries at import
    time; shared fragments now live in the leaf oracle_frags module).
    Run in a subprocess so this test cannot be masked by modules
    already imported by earlier tests."""
    import subprocess
    import sys

    mods = [
        "registry_ext",
        "registry_cleaning",
        "registry_ts",
        "registry_search",
        "registry_graph",
        "registry_ml",
        "registry_train",
    ]
    for m in mods:
        code = (
            f"from capex_data_pipeline_spark import {m}; "
            "from capex_data_pipeline_spark.registry import QUERIES; "
            "assert len(QUERIES) >= 142, len(QUERIES)"
        )
        r = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            cwd="/root/repo",
        )
        assert r.returncode == 0, (m, r.stderr[-800:])


def test_no_unbounded_global_windows_anywhere_in_registry(spark, queries):
    """Registry-wide lint (round-8): NO query may rank an unbounded
    frame through an unpartitioned window (Window.orderBy with no
    partitionBy) — that moves ALL rows to a single partition. A global
    window is allowed only above a bounding node (TakeOrdered /
    GlobalLimit / keyless aggregate / local relation): the bm25_topk
    convention. This is the pin that caught (and now guards against)
    the q122/q125/q12 full-vocabulary row_number defect."""
    from capex_data_pipeline_spark.planlint import unbounded_global_windows

    offenders = {}
    for name, fn in queries.items():
        plan = _plan(fn(spark, SF))
        bad = unbounded_global_windows(plan)
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_topk_candidate_picks_use_take_ordered(spark, queries):
    """The fixed sites plan their top-k candidate pick as
    TakeOrderedAndProject (per-partition heap + driver merge), not a
    single-partition sort of the full vocabulary."""
    for name in ("q122_term_zipf", "q125_cms_heavy_hitters",
                 "q12_share_report", "q95_bm25_topk"):
        plan = _plan(queries[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, name


def test_planlint_parser_classifies_window_nodes():
    """Unit coverage for the lint itself: unpartitioned-over-unbounded
    flags; bounded or partitioned shapes don't."""
    from capex_data_pipeline_spark.planlint import unbounded_global_windows

    unb = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS r#4], [id#0L ASC NULLS FIRST]\n"
        "   +- Sort [id#0L ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition\n"
        "         +- Range (0, 10, step=1, splits=32)"
    )
    assert len(unbounded_global_windows(unb)) == 1
    # same window above a limit: allowed (bm25_topk shape)
    bounded = unb.replace("Exchange SinglePartition", "GlobalLimit 5")
    assert unbounded_global_windows(bounded) == []
    take = unb.replace(
        "Exchange SinglePartition",
        "TakeOrderedAndProject(limit=20, orderBy=[id#0L ASC], output=[id#0L])",
    )
    assert unbounded_global_windows(take) == []
    # partitioned window with empty ORDER spec prints two groups too —
    # must not flag (second group is bare attributes, no sort direction)
    part = (
        "+- Window [count(1) windowspecdefinition(g#1L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS c#2L], [g#1L]\n"
        "   +- Exchange hashpartitioning(g#1L, 8)"
    )
    assert unbounded_global_windows(part) == []
    # fully partitioned three-group shape: never flags
    part3 = (
        "+- Window [row_number() windowspecdefinition(g#1L, id#0L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS r#2], [g#1L], "
        "[id#0L ASC NULLS FIRST]\n"
        "   +- Exchange hashpartitioning(g#1L, 8)"
    )
    assert unbounded_global_windows(part3) == []
    # keyless (1-row) aggregate below the window: bounded
    agg = unb.replace(
        "Exchange SinglePartition",
        "HashAggregate(keys=[], functions=[sum(x#1L)])",
    )
    assert unbounded_global_windows(agg) == []


def test_doc_query_counts_match_registry():
    """Doc-drift lint (extends the r6 numbering lint to prose): any
    "all N"/"N registered queries" claim in the living docs (README,
    COVERAGE) where N is registry-scale (>= 50) must equal the actual
    registry size — a stale count in docs is the same defect class as
    the r6 test-pin bug (README said "all 141" after q142 landed)."""
    import pathlib

    import __spark_entry__ as E

    n = len(E.queries())
    claim = re.compile(
        r"\ball\s+(\d{2,})\b|\b(\d{2,})\s+registered quer", re.I
    )
    for doc in ("README.md", "COVERAGE.md"):
        # normalize whitespace FIRST: a line-wrapped "(all\n143" must
        # not evade the lint (it did once — this is the fix's pin)
        text = " ".join(
            pathlib.Path("/root/repo", doc).read_text().split()
        )
        for m in claim.finditer(text):
            num = int(m.group(1) or m.group(2))
            if num >= 50:
                assert num == n, (
                    f"{doc} claims {num} queries near "
                    f"{text[max(0, m.start() - 40):m.end() + 20]!r}; "
                    f"registry has {n}"
                )


def test_q194_corpus_side_never_shuffles(spark, queries):
    """q194's whole value is 'the corpus never shuffles': the benchmark
    bands broadcast, so between the corpus scan and the band join
    there must be NO shuffle Exchange — the corpus-side signature +
    banding is map-only and the join is BroadcastHashJoin. (The
    dropDuplicates after the join shuffles the PAIR frame, which is
    benchmark-bounded, not corpus-sized.)"""
    plan = _plan(queries["q194_fuzzy_decontamination"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.search(r"[A-Za-z*(]", line)
        return m.start() if m is not None else len(line)

    # walk up from every corpus scan (documents parquet) to its nearest
    # Join ancestor: no KEYED shuffle Exchange may sit on that path.
    # The one allowed exception is the gated round-robin
    # spread_few_splits exchange of the (doc_id, text) projection —
    # a repartition for scan parallelism on few-split inputs (no-op at
    # scale), NOT a join-keyed shuffle of the corpus: hash/range
    # partitioning on that path still fails this pin.
    scans = [
        i for i, ln in enumerate(lines)
        if "Scan parquet" in ln and "documents" in ln
    ]
    assert scans, plan
    checked = 0
    for i in scans:
        cur = depth(lines[i])
        for j in range(i - 1, -1, -1):
            dj = depth(lines[j])
            if dj < cur:
                cur = dj
                if "Join" in lines[j]:
                    checked += 1
                    break
                assert not (
                    "Exchange" in lines[j]
                    and "BroadcastExchange" not in lines[j]
                    and "RoundRobinPartitioning" not in lines[j]
                ), f"corpus-side shuffle:\n{lines[j]}\nplan:\n{plan}"
    assert checked >= 1, plan
