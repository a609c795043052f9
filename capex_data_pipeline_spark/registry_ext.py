"""Extension-operator queries (SURVEY.md §7 phase 3): dedup, similarity,
text analysis, streaming windows, multimodal plumbing.

Same contract as ``registry``: Spark builder + DuckDB oracle per entry.
Every registered query carries a full value-exact oracle — including
q37 (IVF ANN), whose deterministic sampled-centers quantizer lets the
oracle re-derive the whole index + probe + re-rank path in SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from capex_data_pipeline_spark.registry import _t, query
from capex_data_pipeline_spark.extensions import dedup as D
from capex_data_pipeline_spark.extensions import similarity as S
from capex_data_pipeline_spark.extensions import textstats as TS
from capex_data_pipeline_spark.extensions.multimodal import (
    decode_media,
    documents_as_media,
    frame_sample,
)
from capex_data_pipeline_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

# DuckDB fragments: canonical definitions live in the LEAF module
# oracle_frags (importable by ANY registry module without a cycle);
# re-exported here under the historical names
from capex_data_pipeline_spark.oracle_frags import (  # noqa: E402
    NORM_SQL as _NORM,
    SHINGLES_SQL as _SHINGLES,
    WORDS_SQL as _WORDS,
)


# =========================================================================
# J1b analog on documents: regex word-match fallback join
# =========================================================================

_TAG_DIM = [("spark", "ENGINE"), ("stream", "FLOW"), ("vector", "MATH"), ("window", "SQL")]


@query(
    "q24_regex_fallback_join",
    """
    SELECT doc_id,
      CASE
        WHEN regexp_matches(lower(coalesce(text, '')), '\\bspark\\b') THEN 'ENGINE'
        WHEN regexp_matches(lower(coalesce(text, '')), '\\bstream\\b') THEN 'FLOW'
        WHEN regexp_matches(lower(coalesce(text, '')), '\\bvector\\b') THEN 'MATH'
        WHEN regexp_matches(lower(coalesce(text, '')), '\\bwindow\\b') THEN 'SQL'
        ELSE 'Unknown'
      END AS tag
    FROM documents
    """,
    headline=False,
)
def q24_regex_fallback_join(spark, sf_dir):
    """J1b analog: first-match whole-word regex lookup against a small
    in-memory dimension, 'Unknown' fallback (process_capex.py:252-285) —
    the same compiled WHEN-chain technique operators.joins uses."""
    docs = _t(spark, sf_dir, "documents")
    text = F.lower(F.coalesce(F.col("text"), F.lit("")))
    tag = F.lit("Unknown")
    for word, label in reversed(_TAG_DIM):
        tag = F.when(text.rlike(rf"\b{word}\b"), F.lit(label)).otherwise(tag)
    return docs.select("doc_id", tag.alias("tag"))


@query(
    "q25_negation_flags",
    """
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9'']+') AS tk
      FROM documents
    )
    SELECT doc_id,
      len(list_filter(range(1, len(tk) + 1),
          i -> tk[i] = 'merge'
               AND NOT list_has_any(tk[greatest(i-3,1):i-1],
                   ['no','not','without','exclude','excluding','except',
                    'avoid','cancel','cancelled','drop','skip']))) > 0 AS flag_merge,
      len(list_filter(range(1, len(tk) + 1),
          i -> tk[i] = 'scan'
               AND NOT list_has_any(tk[greatest(i-3,1):i-1],
                   ['no','not','without','exclude','excluding','except',
                    'avoid','cancel','cancelled','drop','skip']))) > 0 AS flag_scan
    FROM tok
    """,
    headline=False,
)
def q25_negation_flags(spark, sf_dir):
    """U2 as a corpus operator: negation-aware word flags. The oracle
    recomputes the 3-token-window definition from first principles
    (token lists), independently validating the compiled Java-regex
    lookbehind (functions.text)."""
    from capex_data_pipeline_spark.functions.text import negation_aware_phrase

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return docs.select(
        "doc_id",
        negation_aware_phrase(F.col("text"), "merge").alias("flag_merge"),
        negation_aware_phrase(F.col("text"), "scan").alias("flag_scan"),
    )


# =========================================================================
# Deduplication
# =========================================================================


@query(
    "q30_exact_dedup",
    f"""
    SELECT md5({_NORM}) AS fingerprint,
           min(doc_id) AS keeper_id,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q30_exact_dedup(spark, sf_dir):
    """Exact dedup: md5 of normalized text, hash aggregate."""
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


@query(
    "q31_minhash_lsh",
    f"""
    WITH sig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_SHINGLES}, s -> md5(i || '|' || s)))) AS sig
      FROM documents
    ), banded AS (
      SELECT doc_id, sig, b,
             md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bhash
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) bands
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(len(list_filter(range(1, 9), i -> sig_a[i] = sig_b[i])) / 8.0, 4)
             AS est_jaccard
    FROM pairs
    WHERE len(list_filter(range(1, 9), i -> sig_a[i] = sig_b[i])) / 8.0 >= 0.5
    """,
)
def q31_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dedup: 8-component md5 signatures, 4 bands,
    banded self-join, signature-estimated Jaccard ≥ 0.5. The oracle
    reproduces the identical signature math in SQL."""
    return D.minhash_near_dups(
        _t(spark, sf_dir, "documents"), num_hashes=8, bands=4, threshold=0.5
    )


@query(
    "q38_dedup_clusters",
    f"""
    WITH RECURSIVE sig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_SHINGLES}, s -> md5(i || '|' || s)))) AS sig
      FROM documents
    ), banded AS (
      SELECT doc_id, sig, b,
             md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bhash
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) bands
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.bhash = b.bhash AND a.doc_id < b.doc_id
      WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) / 8.0 >= 0.5
    ), e2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(u, v) AS (
      SELECT u, v FROM e2
      UNION
      SELECT r.u, e.v FROM reach r JOIN e2 e ON r.v = e.u
    ), lbl AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    ), allc AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN lbl l USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_keeper
    FROM allc
    """,
)
def q38_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: q31's MinHash-LSH pairs grouped into
    connected components by distributed min-label propagation, keeper =
    min doc id per component, singletons included. The oracle restates
    the identical signature math and closes the pair graph with a
    recursive CTE (transitive reachability -> min reachable id), so the
    whole pairs->clusters->keeper path is value-checked cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(docs, num_hashes=8, bands=4, threshold=0.5)
    return D.dedup_clusters(pairs, corpus=docs)


_SIMHASH_SQL = f"""
    CAST(list_sum(list_transform(range(0, 60), bit ->
      CASE WHEN list_sum(list_transform({_WORDS}, wd ->
             CASE WHEN (CAST(('0x' || substr(md5(wd), 1, 15)) AS BIGINT) >> bit) & 1 = 1
                  THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)) AS BIGINT)
"""


@query(
    "q32_simhash",
    f"""
    WITH sk AS (SELECT doc_id, {_SIMHASH_SQL} AS sh FROM documents),
    segs AS (
      SELECT doc_id, sh, i.i AS i, (sh >> (i.i * 15)) & 32767 AS seg
      FROM sk, (SELECT unnest(range(0, 4)) AS i) i
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sh AS sha, b.sh AS shb
      FROM segs a JOIN segs b
        ON a.i = b.i AND a.seg = b.seg AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, sha AS simhash_a, shb AS simhash_b,
           CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sha, shb)) <= 3
    """,
)
def q32_simhash(spark, sf_dir):
    """SimHash sketch + near-dup pairs in one query (60-bit Charikar
    sketch, bit-identical across engines via md5-derived token hashes;
    pairs at Hamming <= 3 via the 4-segment pigeonhole split — any pair
    within distance 3 agrees exactly on one 15-bit segment, so
    candidates equi-join on (segment idx, value), no quadratic block
    scan). Both sketches ride on the output rows so the oracle
    hash-checks the sketch math AND the pair join."""
    return D.simhash_near_dups(
        _t(spark, sf_dir, "documents"), max_hamming=3, include_sketches=True
    )


@query(
    "q33_ngram_jaccard",
    f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform(sh, s -> md5(i || '|' || s)))) AS sig
      FROM sh
    ), banded AS (
      SELECT doc_id, b,
             md5(array_to_string(sig[b+1 : b+1], '|')) AS bhash
      FROM sig, (SELECT unnest(range(0, 8)) AS b) bands
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    ), scored AS (
      SELECT id_a, id_b,
             round(len(list_intersect(sa.sh, sb.sh))
                   / CAST(len(sa.sh) + len(sb.sh)
                          - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE),
                   4) AS jaccard
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    )
    SELECT * FROM scored WHERE jaccard >= 0.1
    """,
    headline=False,
)
def q33_ngram_jaccard(spark, sf_dir):
    """EXACT word-3-gram Jaccard as the re-rank stage over MinHash-LSH
    candidate pairs (8 md5 signature components, 8 single-row bands —
    per-band collision probability = Jaccard itself, the right S-curve
    for this low 0.1 threshold). The standalone explode-join on
    shingles goes quadratic on frequent shingles; the banded join does
    not."""
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.1, num_hashes=8, bands=8
    )


# =========================================================================
# Similarity search
# =========================================================================


@query(
    "q34_cosine_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                   4) AS cosine
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q34_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-10 for query vectors (vec_id < 5).
    Vectors are cast float→double before any arithmetic so both engines
    accumulate identical IEEE doubles in index order."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk(emb, queries, k=10)


@query(
    "q35_embedding_neardup",
    """
    WITH pl AS (
      SELECT b.b AS band, t.t AS bit,
             list_transform(range(0, 64),
               j -> CAST(CAST(('0x' || substr(md5(b.b || '|' || t.t || '|' || j), 1, 12))
                         AS BIGINT) - 140737488355328 AS DOUBLE)) AS c
      FROM (SELECT unnest(range(0, 16)) AS b) b,
           (SELECT unnest(range(0, 12)) AS t) t
    ), bits AS (
      SELECT e.vec_id, pl.band, pl.bit,
             CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.c) > 0
                  THEN (1 << pl.bit) ELSE 0 END AS bv
      FROM embeddings e, pl
    ), buckets AS (
      SELECT vec_id, band, SUM(bv) AS bucket FROM bits GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), scored AS (
      SELECT id_a, id_b,
             round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
                   4) AS cosine
      FROM cand
      JOIN embeddings ea ON ea.vec_id = id_a
      JOIN embeddings eb ON eb.vec_id = id_b
    )
    SELECT * FROM scored WHERE cosine >= 0.3
    """,
    headline=False,
)
def q35_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicates: banded SRP-LSH candidates
    (16 bands x 12 md5-derived integer hyperplane sign bits —
    bit-reproducible in any engine) + exact cosine re-rank. The oracle
    reproduces the identical bucket math in SQL. Threshold 0.3: the
    synthetic embeddings are near-orthogonal (max pairwise cosine
    ~0.5, no true near-dups by construction), and a 0.9 gate returned
    zero rows in every driver run — a 0-row hash match exercises
    nothing. At 0.3 the same candidate generation + re-rank emits ~40
    value-checked pairs per SF; the semantics under test (bucket math,
    exact scoring, >= threshold) are unchanged."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return D.embedding_near_dups(emb, threshold=0.3, dim=64)


@query(
    "q92_capex_zone_join",
    r"""
    WITH office AS (
      SELECT r_name AS zone, n_name AS region,
             'B' || n_nationkey AS office,
             substr(n_name, 1, 3) AS rc, n_nationkey AS pos
      FROM nation JOIN region ON n_regionkey = r_regionkey
    ), rcmap AS (  -- python-dict semantics: first occurrence ranks, last wins
      SELECT rc, arg_max(zone, pos) AS zone, arg_max(region, pos) AS region,
             min(pos) AS pos
      FROM office GROUP BY rc
    ), fact AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN 'ZZ' || (o_custkey % 5)
             ELSE 'B' || (o_custkey % 25) END AS BranchCode,
        (['standard operational request', 'no laptop required for this branch',
          'dark store expansion phase', 'test setup for pilot',
          'new counter for billing', 'central purchase for IND region',
          'pending UNI approval latest', ''])[(o_orderkey % 8) + 1] AS UserRemarks
      FROM orders
    ), branch AS (
      SELECT f.*, o.zone AS bzone, o.region AS bregion
      FROM fact f LEFT JOIN office o ON f.BranchCode = o.office
    ), fb AS (
      SELECT b.o_orderkey, m.zone AS fzone, m.region AS fregion,
             row_number() OVER (PARTITION BY b.o_orderkey ORDER BY m.pos) AS rn
      FROM branch b JOIN rcmap m
        ON b.bzone IS NULL
       AND regexp_matches(lower(coalesce(b.UserRemarks, 'nan')),
                          '\b' || lower(m.rc) || '\b')
    )
    SELECT b.BranchCode, b.UserRemarks,
           coalesce(b.bzone, f.fzone, 'Unknown') AS Zone,
           coalesce(b.bregion, f.fregion, 'Unknown') AS Region
    FROM branch b LEFT JOIN (SELECT * FROM fb WHERE rn = 1) f USING (o_orderkey)
    """,
    headline=False,
)
def q92_capex_zone_join(spark, sf_dir):
    """J1+J1b verified cross-engine on the synthesized capex input: the
    broadcast branch-code join, the whole-word regioncode fallback over
    remarks (python-dict first-occurrence priority on duplicate
    regioncodes — IND/IRA/UNI collide in the nation-derived dim), and
    the 'Unknown' fill. The oracle reimplements the dict semantics with
    arg_max/min-pos + a ranked regex join."""
    from capex_data_pipeline_spark.operators.joins import add_zone_region
    from capex_data_pipeline_spark.plans.synth import (
        synthesize_capex_raw,
        synthesize_office,
    )

    raw = synthesize_capex_raw(spark, sf_dir).withColumn(
        "_row_id", F.monotonically_increasing_id()
    )
    joined = add_zone_region(raw, synthesize_office(spark, sf_dir))
    return joined.select("BranchCode", "UserRemarks", "Zone", "Region")


from capex_data_pipeline_spark.oracle_capex import (
    q27_analytics_oracle_sql,
    q90_processed_oracle_sql,
    q91_audit_oracle_sql,
    q93_fn_enrichment_oracle_sql,
    q94_explain_oracle_sql,
)


_PIPELINE_CACHE: dict = {}


def clear_pipeline_cache() -> int:
    """Release the memoized pipeline results (and their cut and persisted
    frames). For long-lived sessions that sweep the registry more than
    once; the next query simply rebuilds. Returns frames released."""
    released = 0
    while _PIPELINE_CACHE:
        _, res = _PIPELINE_CACHE.popitem()
        released += res.unpersist()
    return released


# a global cache.release_persisted() must not leave this memo serving
# results whose frames it just released — invalidate first
from capex_data_pipeline_spark.cache import register_release_hook  # noqa: E402

register_release_hook(clear_pipeline_cache)


def _synth_pipeline(spark, sf_dir: str, **cfg_kwargs):
    """Build (or reuse) the full capex pipeline on the synthesized corpus.

    q90/q91/q93/q27 all run the same DAG; constructing it costs ~3.5 s of
    driver/analyzer time per call, so a correctness sweep over the
    registry would otherwise pay it four times. The result is pure
    (deterministic DataFrames for a given session + sf_dir + config), so
    memoize per (application, sf_dir, config) — this also re-uses ONE
    pair of cuts (tagged, processed) across the four queries instead of
    four. How they are cut is ``cache.plan_boundary``'s one switch,
    ``$SPARK_GRAFT_BOUNDARY``: ``staging`` writes them once as staging
    tables that every family member reads back."""
    from capex_data_pipeline_spark.plans.pipeline import (
        CapexPipelineConfig,
        run_pipeline,
    )
    from capex_data_pipeline_spark.plans.synth import (
        synthesize_capex_raw,
        synthesize_office,
    )

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        tuple(sorted(cfg_kwargs.items())),
    )
    res = _PIPELINE_CACHE.get(key)
    if res is None:
        res = run_pipeline(
            synthesize_capex_raw(spark, sf_dir),
            synthesize_office(spark, sf_dir),
            config=CapexPipelineConfig(**cfg_kwargs),
        )
        _PIPELINE_CACHE[key] = res
    return res


@query("q27_analytics_dims", q27_analytics_oracle_sql(), headline=False)
def q27_analytics_dims(spark, sf_dir):
    """A3 (app.py:344-365): the three per-dimension count/sum/mean
    summaries (Zone, normalized category, request function) over the
    REAL processed pipeline output, unioned with a dim tag. The oracle
    recomputes them on the DuckDB restatement of the whole pipeline."""
    from functools import reduce

    from capex_data_pipeline_spark.operators.aggregates import analytics_summary

    res = _synth_pipeline(spark, sf_dir, exact_w1_ties=False)
    parts = [
        analytics_summary(res.processed, d).select(
            F.lit(d).alias("dim"),
            F.col(d).cast("string").alias("dim_value"),
            "Count",
            "Total_Amount",
            "Average_Amount",
        )
        for d in ("Zone", "AssetCategoryName_2", "RequestFunction")
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@query("q94_explain_exclusion", q94_explain_oracle_sql(), headline=False)
def q94_explain_exclusion(spark, sf_dir):
    """U3: explain_exclusion_reason (process_capex.py:385-499) applied
    to every synth raw row — the on-the-fly rule re-derivation, quirks
    included (reduced category map, first-occurrence device negation).
    The oracle restates the same CASE in DuckDB."""
    from capex_data_pipeline_spark.operators.enrichment import (
        explain_exclusion_reason_col,
    )
    from capex_data_pipeline_spark.plans.synth import synthesize_capex_raw
    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    # the explain CASE (dozens of regexes per row) fuses onto the synth
    # scan, which is a single parquet split at bench scale: spread
    # first (per-row derivation, order-insensitive)
    raw = spread_few_splits(synthesize_capex_raw(spark, sf_dir))
    return raw.select(
        "RequestNo",
        "AssetItemName",
        explain_exclusion_reason_col(None).alias("explained_reason"),
    )


@query("q90_capex_pipeline", q90_processed_oracle_sql())
def q90_capex_pipeline(spark, sf_dir):
    """End-to-end capex cleaning pipeline (SURVEY.md §3) on a
    deterministic capex-shaped synthesis of the orders table — exercises
    every rule pass, the broadcast zone join + regex fallback, the audit,
    the top-5 window and fail-open at scale-factor-proportional size.
    The oracle (oracle_capex.q90_processed_oracle_sql) restates the
    whole DAG in DuckDB SQL — including the fail-open's P1-rerun /
    zone-rerun / keep-first dedup side effects — so the flagship output
    is value-hash-checked, not just row-counted. Bit-level pandas tie
    parity vs the reference stays covered by
    tests/test_pipeline_differential.py."""
    # native deterministic W1 ties (pure WindowGroupLimit — no Python
    # stage): the tiebreak is (priority desc, frame order, ingest order),
    # fully SQL-expressible, which is what lets q90 carry a DuckDB
    # oracle at all. Bit-level pandas-introsort tie parity vs the
    # reference remains covered by tests/test_pipeline_differential.py
    # (exact_w1_ties=True default there).
    res = _synth_pipeline(spark, sf_dir, exact_w1_ties=False)
    return res.processed.select(
        "RequestNo",
        "AssetItemName",
        "VendorName",
        "Zone",
        "Region",
        "AssetCategoryName_2",
        "Category_Type",
        "AssetItemAmount",
        # sentinels instead of NULLs for the two W1/fail-open-derived
        # columns (NULL INT/BOOLEAN round-trip as NaN through pandas on
        # the oracle side); re-included rows are the flag=true ones
        F.coalesce(F.col("priority"), F.lit(-1)).alias("priority"),
        F.coalesce(F.col("ReincludedViaFailOpen"), F.lit(False)).alias(
            "ReincludedViaFailOpen"
        ),
    )


@query("q91_capex_audit", q91_audit_oracle_sql(), headline=False)
def q91_capex_audit(spark, sf_dir):
    """The exclusion-audit lineage table for q90's run (replaces the
    reference's global EXCLUSION_REASONS dict): one row per fully
    excluded composite key with max-order rule attribution and the
    recording step's frame-order value pick. Oracle: the first-match
    tagging + attribution restated in DuckDB SQL (oracle_capex)."""
    # the audit is derived pre-W1/pre-fail-open, so it is IDENTICAL
    # under the family's shared config — share the memoized pipeline
    # instance with q90/q93/q27 (one tagged-frame materialization per
    # session) instead of forking a fail_open=False build whose only
    # saving was plan-construction driver time, paid once per session
    # under the memo anyway; the fail-open branches never execute for
    # the audit (lazy evaluation)
    res = _synth_pipeline(spark, sf_dir, exact_w1_ties=False)
    return res.audit


@query("q93_fn_enrichment", q93_fn_enrichment_oracle_sql())
def q93_fn_enrichment(spark, sf_dir):
    """False-negative enrichment (process_capex.py:1406-1471): validate
    the pipeline output against a golden frame (the synth raw minus
    VendorName, so its robust keys are short), then resolve every FN
    key through the exact-audit / short-key / prefix / explain fallback
    chain. Bit-parity with the reference's own enrichment is pinned by
    tests/test_enrichment.py on the 2,238-row fixture; the oracle
    restates the chain (incl. explain_exclusion_reason's quirks) in
    DuckDB SQL."""
    from capex_data_pipeline_spark.operators.enrichment import (
        enrich_false_negatives,
    )
    from capex_data_pipeline_spark.operators.validation import with_robust_key
    from capex_data_pipeline_spark.plans.synth import synthesize_capex_raw

    raw = synthesize_capex_raw(spark, sf_dir)
    res = _synth_pipeline(spark, sf_dir, exact_w1_ties=False)
    golden = raw.drop("VendorName")
    p_keys = with_robust_key(res.processed).select("CompositeKey").distinct()
    g_keys = with_robust_key(golden).select("CompositeKey").distinct()
    # the enrichment consumes the FN key set in several joins
    # (exact/short/prefix audit hits + one per explain frame) and cuts
    # it internally (cache.plan_boundary, tracked like the pipeline's
    # cuts), so the processed-vs-golden anti-join runs exactly once
    fn = g_keys.join(p_keys, "CompositeKey", "left_anti")
    # golden IS raw minus VendorName here, so both explain fallbacks
    # share one regex pass (shared_reference contract — halves the
    # dominant cost of this query; equality pinned by oracle + test)
    return enrich_false_negatives(
        fn, res.audit_ordered, raw=raw, reference=golden, shared_reference=True
    )


_Q37_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    "    * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "q37_ann_ivf",
    f"""
    WITH ctr AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell,
             embedding
      FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
    ), sim AS (
      SELECT e.vec_id, c.cell,
             {_Q37_COS.format(a='e.embedding', b='c.embedding')} AS s
      FROM embeddings e, ctr c
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn FROM sim
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn
        FROM sim WHERE vec_id < 5
      ) WHERE rn <= 3
    ), cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             round({_Q37_COS.format(a='eq.embedding', b='en.embedding')}, 4) AS cosine
      FROM cand
      JOIN embeddings eq ON eq.vec_id = query_id
      JOIN embeddings en ON en.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q37_ann_ivf(spark, sf_dir):
    """IVF-Flat top-10 with a DETERMINISTIC quantizer: cells = the 16
    corpus vectors sorting first by md5(vec_id) (uniform sample-from-data
    centers — k-means init without the iterations), cosine cell
    assignment, nprobe=3 probe, exact re-rank inside probed cells. Every
    stage is closed-form over the data, so the oracle re-derives the
    ENTIRE path (center pick → assignment → probe → re-rank) in DuckDB —
    this is the value-exact cross-engine check the k-means variant
    (model state) cannot have. The k-means quantizer remains the
    `centers_mode="kmeans"` default in similarity.ivf_topk, with
    recall bounds asserted in tests/test_extensions.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(
        emb, queries, k=10, n_cells=16, nprobe=3, centers_mode="sample"
    )


@query(
    "q36_ann_lsh",
    """
    WITH pl AS (
      SELECT t.t AS tbl, b.b AS bit,
             list_transform(range(0, 64),
               j -> CAST(CAST(('0x' || substr(md5((t.t*1000 + b.b) || '|' || j), 1, 12))
                         AS BIGINT) - 140737488355328 AS DOUBLE)) AS c
      FROM (SELECT unnest(range(0, 2)) AS t) t,
           (SELECT unnest(range(0, 8)) AS b) b
    ), bits AS (
      SELECT e.vec_id, pl.tbl,
             CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.c) > 0
                  THEN (1 << pl.bit) ELSE 0 END AS bv
      FROM embeddings e, pl
    ), buckets AS (
      SELECT vec_id, tbl, SUM(bv) AS bucket FROM bits GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM (SELECT * FROM buckets WHERE vec_id < 5) q
      JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
                    AND c.vec_id <> q.vec_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(eq.embedding::DOUBLE[], eq.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(en.embedding::DOUBLE[], en.embedding::DOUBLE[]))),
                   4) AS cosine
      FROM cand
      JOIN embeddings eq ON eq.vec_id = query_id
      JOIN embeddings en ON en.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q36_ann_lsh(spark, sf_dir):
    """Approximate top-10 via sign-random-projection LSH (2 tables × 8
    bits), exact re-rank inside buckets. Hyperplane components are
    md5-derived 48-bit integers (exact in a double), so the oracle
    derives bit-identical buckets in SQL and the whole ANN result is
    value-checked — not just row-counted. Recall vs the exact q34
    baseline is additionally asserted in tests/test_extensions.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return S.srp_lsh_topk(emb, queries, k=10, dim=64, n_bits=8, n_tables=2)


# =========================================================================
# Event-time windows (batch-parity forms of the streaming operators)
# =========================================================================


@query(
    "q55_attribution_join",
    """
    SELECT l.user_id,
           l.event_id AS l_event_id, r.event_id AS r_event_id,
           epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us,
           round(CAST(CAST(r.value AS DECIMAL(18,6))
                      - CAST(l.value AS DECIMAL(18,6)) AS DOUBLE), 2)
             AS value_delta
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'view' AND r.event_type = 'purchase'
     -- compare at MICROsecond precision on both sides: Spark's ts is
     -- micro-truncated at read time, DuckDB's is nanos
     AND epoch_us(r.ts) >= epoch_us(l.ts)
     AND epoch_us(r.ts) <= epoch_us(l.ts) + 3600000000
    """,
    headline=False,
)
def q55_attribution_join(spark, sf_dir):
    """Event-to-event interval join (view -> purchase attribution
    within 1 hour, per user) — the batch formulation of the
    stream-stream join in streaming.windows.attribution_join_stream
    (equi-key + event-time range, the state-bounded streaming shape);
    stream==batch parity in tests/test_streaming.py."""
    from capex_data_pipeline_spark.streaming.windows import attribution_join

    e = _t(spark, sf_dir, "events")
    return attribution_join(e, e)


@query(
    "q56_dedup_replayed_stream",
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM (SELECT DISTINCT event_id, ts, user_id, event_type, value
          FROM (SELECT * FROM events UNION ALL SELECT * FROM events))
    """,
    headline=False,
)
def q56_dedup_replayed_stream(spark, sf_dir):
    """Batch analog of streaming.windows.stream_dedup: a replayed
    (doubled) event feed deduplicated on event_id — the exactly-once
    repair for at-least-once sources. The streaming form
    (dropDuplicatesWithinWatermark) bounds the same computation's state
    by the watermark; its stream==batch behavior is covered in
    tests/test_streaming.py."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    deduped = e.unionByName(e).dropDuplicates(["event_id"])
    return deduped.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


@query(
    "q50_tumbling_window",
    """
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
           epoch_us(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS window_end_us,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q50_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour event-time windows (same plan runs under
    Structured Streaming via streaming.windows.tumbling_window_stream)."""
    return tumbling_window_agg(_t(spark, sf_dir, "events"), "1 hour")


@query(
    "q51_sliding_window",
    """
    WITH cand AS (
      SELECT e.*, time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
               AS wstart
      FROM events e, (SELECT unnest([0, 1]) AS k) ks
    )
    SELECT epoch_us(wstart) AS window_start_us,
           epoch_us(wstart + INTERVAL '1 hour') AS window_end_us,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM cand
    WHERE ts >= wstart AND ts < wstart + INTERVAL '1 hour'
    GROUP BY 1, 2, 3
    """,
    headline=False,
)
def q51_sliding_window(spark, sf_dir):
    """Sliding windows (1 hour / 30 min): each event lands in two
    windows; the oracle enumerates both candidate starts."""
    return sliding_window_agg(_t(spark, sf_dir, "events"), "1 hour", "30 minutes")


@query(
    "q52_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_no
      FROM o
    )
    SELECT epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts) + INTERVAL '30 minutes') AS session_end_us,
           user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_no
    """,
)
def q52_session_window(spark, sf_dir):
    """Per-user session windows, 30-minute gap (session end = last
    event + gap). The oracle derives sessions with the classic
    gaps-and-islands formulation."""
    return session_window_agg(_t(spark, sf_dir, "events"), "30 minutes")


@query(
    "q53_user_activity",
    """
    SELECT user_id,
           CAST(count(DISTINCT strftime(ts, '%Y-%m-%d')) AS INTEGER) AS n_active_days,
           count(*) AS n_events,
           round(CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS sum_value
    FROM events GROUP BY 1
    """,
)
def q53_user_activity(spark, sf_dir):
    """Per-user activity profile — the batch-equivalent form of the
    custom stateful streaming operator (streaming/stateful.py,
    applyInPandasWithState); commutative state makes the two provably
    identical, verified in tests/test_streaming.py."""
    from capex_data_pipeline_spark.streaming.stateful import user_activity_batch

    return user_activity_batch(_t(spark, sf_dir, "events"))


# =========================================================================
# Multimodal plumbing
# =========================================================================


@query(
    "q60_binary_meta",
    """
    SELECT doc_id AS media_id,
           'application/octet-stream' AS mime,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    """,
    headline=False,
)
def q60_binary_meta(spark, sf_dir):
    """Binary-column metadata derivation (payload bytes, sha-256) —
    JVM-side only; payload column is never shipped to Python."""
    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return media.select("media_id", "mime", "n_bytes", "sha")


@query(
    "q61_multimodal_decode",
    """
    SELECT doc_id AS media_id,
           16 + octet_length(encode(text)) % 64 AS width,
           16 + (octet_length(encode(text)) // 64) % 64 AS height,
           1 + octet_length(encode(text)) % 4 AS n_frames
    FROM documents
    """,
    headline=False,
)
def q61_multimodal_decode(spark, sf_dir):
    """mapInPandas decode plumbing (deterministic fake decoder standing
    in for Pillow/ffmpeg): the oracle recomputes the scalar metadata the
    fake decoder derives from payload size; the feature vectors are
    covered by tests/test_extensions.py."""
    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return decode_media(media, fake=True).select(
        "media_id", "width", "height", "n_frames"
    )


@query(
    "q62_frame_sample",
    """
    SELECT doc_id AS media_id, unnest(range(0, 1 + octet_length(encode(text)) % 4, 2))
             AS frame_idx
    FROM documents
    """,
    headline=False,
)
def q62_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing: one row per sampled frame index."""
    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return frame_sample(decode_media(media, fake=True), every_n=2)


# =========================================================================
# Text analysis
# =========================================================================


@query(
    "q39_corpus_curation",
    f"""
    WITH fp AS (SELECT doc_id, md5({_NORM}) AS f FROM documents),
    keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
    surv AS (SELECT d.* FROM documents d JOIN keep k USING (doc_id)),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_SHINGLES}, s -> md5(i || '|' || s)))) AS sig
      FROM surv
    ), banded AS (
      SELECT doc_id, sig, b,
             md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bhash
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) bands
    ), losers AS (
      SELECT DISTINCT b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.bhash = b.bhash AND a.doc_id < b.doc_id
      WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) / 8.0 >= 0.5
    ), cur AS (
      SELECT * FROM surv WHERE doc_id NOT IN (SELECT id_b FROM losers)
    ), scored AS (
      SELECT doc_id,
        CASE
          WHEN len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:the|and|of|is|was|with)\\b'))
               >= greatest(
                    len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:der|die|das|und|ist|nicht)\\b')),
                    len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:le|la|les|et|est|pas)\\b')),
                    len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:el|los|las|es|y|como)\\b')))
           AND len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:the|and|of|is|was|with)\\b')) > 0
          THEN 'en'
          WHEN len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:der|die|das|und|ist|nicht)\\b'))
               >= greatest(
                    len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:le|la|les|et|est|pas)\\b')),
                    len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:el|los|las|es|y|como)\\b')))
           AND len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:der|die|das|und|ist|nicht)\\b')) > 0
          THEN 'de'
          WHEN len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:le|la|les|et|est|pas)\\b'))
               >= len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:el|los|las|es|y|como)\\b'))
           AND len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:le|la|les|et|est|pas)\\b')) > 0
          THEN 'fr'
          WHEN len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:el|los|las|es|y|como)\\b')) > 0
          THEN 'es'
          ELSE 'und'
        END AS lang,
        len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9'']+')) AS n_tokens,
        round(
          (CASE WHEN len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9'']+')) >= 5 THEN 0.25 ELSE 0 END)
          + (CASE WHEN (length(coalesce(text,'')) - (greatest(len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9'']+')),1) - 1))
                       / CAST(greatest(len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9'']+')),1) AS DOUBLE)
                   BETWEEN 2 AND 12 THEN 0.25 ELSE 0 END)
          + (CASE WHEN len(regexp_extract_all(coalesce(text,''), '[^\\sA-Za-z0-9]'))
                       / CAST(greatest(length(coalesce(text,'')),1) AS DOUBLE) <= 0.2 THEN 0.25 ELSE 0 END)
          + (CASE WHEN len(regexp_extract_all(lower(coalesce(text,'')), '\\b(?:the|a|an|and|or|of|to|in|is|it)\\b'))
                       / CAST(greatest(len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9'']+')),1) AS DOUBLE) >= 0.05
             THEN 0.25 ELSE 0 END),
        2) AS quality_score
      FROM cur
    )
    SELECT doc_id, lang, n_tokens, quality_score
    FROM scored WHERE lang = 'en' AND quality_score >= 0.75
    """,
)
def q39_corpus_curation(spark, sf_dir):
    """The end-to-end training-corpus curation pipeline, composed from
    the individual tiers: exact dedup (md5 fingerprint, keep lowest id)
    → MinHash-LSH near-dedup among survivors (est. Jaccard ≥ 0.5, drop
    the higher id of each pair) → language gate (marker-word id = 'en')
    → quality gate (composite score ≥ 0.75). Emits the curated doc ids
    with their language, token count and score — what a data-pipeline
    user actually ships to training."""
    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    # normalize+hash+signature passes fused onto a single-row-group
    # scan: spread once, every curation stage inherits the parallel
    # frame (per-doc flags/aggregates, order-insensitive)
    docs = spread_few_splits(_t(spark, sf_dir, "documents"))
    keepers = D.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    surv = docs.join(keepers, "doc_id", "left_semi")
    losers = (
        D.minhash_near_dups(surv, num_hashes=8, bands=4, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    cur = surv.join(losers, "doc_id", "left_anti").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    m = TS.quality_metrics(F.col("text"))
    return (
        cur.select(
            "doc_id",
            TS.lang_id(F.col("text")).alias("lang"),
            TS.word_count(F.col("text")).alias("n_tokens"),
            m["quality_score"].alias("quality_score"),
        )
        .filter((F.col("lang") == "en") & (F.col("quality_score") >= 0.75))
    )


@query(
    "q40_lang_id",
    r"""
    WITH scored AS (
      SELECT lang AS labeled_lang,
        len(regexp_extract_all(lower(coalesce(text,'')), '\b(?:the|and|of|is|was|with)\b')) AS s_en,
        len(regexp_extract_all(lower(coalesce(text,'')), '\b(?:der|die|das|und|ist|nicht)\b')) AS s_de,
        len(regexp_extract_all(lower(coalesce(text,'')), '\b(?:le|la|les|et|est|pas)\b')) AS s_fr,
        len(regexp_extract_all(lower(coalesce(text,'')), '\b(?:el|los|las|es|y|como)\b')) AS s_es
      FROM documents
    ), decided AS (
      SELECT labeled_lang,
        CASE
          WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
          WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
          WHEN s_fr >= greatest(s_es) AND s_fr > 0 THEN 'fr'
          WHEN s_es > 0 THEN 'es'
          ELSE 'und'
        END AS detected
      FROM scored
    )
    SELECT labeled_lang, detected, count(*) AS n FROM decided GROUP BY 1, 2
    """,
    headline=False,
)
def q40_lang_id(spark, sf_dir):
    """Marker-word language ID vs the labeled lang column (confusion
    counts). First-declared language wins ties — mirrored in the
    oracle's cascading CASE."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("labeled_lang"),
            TS.lang_id(F.col("text")).alias("detected"),
        )
        .groupBy("labeled_lang", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q41_quality_score",
    r"""
    WITH m AS (
      SELECT doc_id,
        length(coalesce(text, '')) AS n_chars,
        len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9'']+')) AS n_words,
        len(regexp_extract_all(coalesce(text,''), '[^\sA-Za-z0-9]')) AS n_punct,
        len(regexp_extract_all(lower(coalesce(text,'')),
            '\b(?:the|a|an|and|or|of|to|in|is|it)\b')) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars, n_words,
      round(n_punct / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS punct_ratio,
      round(n_stop / CAST(greatest(n_words, 1) AS DOUBLE), 4) AS stop_ratio,
      round((n_chars - (greatest(n_words, 1) - 1)) / CAST(greatest(n_words, 1) AS DOUBLE), 4)
        AS mean_word_len,
      round(
        (CASE WHEN n_words >= 5 THEN 0.25 ELSE 0 END)
        + (CASE WHEN (n_chars - (greatest(n_words,1) - 1)) / CAST(greatest(n_words,1) AS DOUBLE)
                 BETWEEN 2 AND 12 THEN 0.25 ELSE 0 END)
        + (CASE WHEN n_punct / CAST(greatest(n_chars,1) AS DOUBLE) <= 0.2 THEN 0.25 ELSE 0 END)
        + (CASE WHEN n_stop / CAST(greatest(n_words,1) AS DOUBLE) >= 0.05 THEN 0.25 ELSE 0 END),
      2) AS quality_score
    FROM m
    """,
    headline=False,
)
def q41_quality_score(spark, sf_dir):
    """Document quality features + composite score (length, punctuation,
    stopword heuristics)."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    m = TS.quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_words"].alias("n_words"),
        m["punct_ratio"].alias("punct_ratio"),
        m["stop_ratio"].alias("stop_ratio"),
        m["mean_word_len"].alias("mean_word_len"),
        m["quality_score"].alias("quality_score"),
    )


@query(
    "q42_token_count",
    r"""
    SELECT doc_id,
      len(regexp_extract_all(coalesce(text,''), '\S+')) AS ws_tokens,
      len(regexp_extract_all(coalesce(text,''),
          '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+')) AS bpe_tokens,
      len(regexp_extract_all(coalesce(text,''), '[A-Za-z0-9'']+')) AS words
    FROM documents
    """,
)
def q42_token_count(spark, sf_dir):
    """Token counting: whitespace, BPE-ish pre-tokenizer regex, word
    tokens — all as regexp_count projections."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        TS.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        TS.word_count(F.col("text")).alias("words"),
    )


@query(
    "q43_fingerprint",
    f"""
    SELECT doc_id,
      md5({_NORM}) AS exact_fp,
      list_min(list_transform(
        range(1, greatest(len({_WORDS}) - 7, 1) + 1),
        i -> md5(array_to_string(({_WORDS})[i:i+7], ' ')))) AS rolling_fp
    FROM documents
    """,
    headline=False,
)
def q43_fingerprint(spark, sf_dir):
    """Document fingerprints: exact (md5 of normalized text) + rolling
    8-word minimum shingle hash (winnowing-flavored)."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return docs.select(
        "doc_id",
        D.text_fingerprint(F.col("text")).alias("exact_fp"),
        TS.rolling_fingerprint_expr("text", window=8).alias("rolling_fp"),
    )


@query(
    "q44_doc_chunks",
    """
    WITH stripped AS (
      SELECT doc_id,
             regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') AS ts
      FROM documents
    ), toks AS (
      SELECT doc_id,
             CASE WHEN ts = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(ts, '\\s+') END AS t
      FROM stripped
    ), nc AS (
      SELECT doc_id, t,
             CASE WHEN len(t) = 0 THEN 0
                  ELSE greatest(CAST(ceil((len(t) - 8) / 24.0) AS INT), 1)
             END AS n_chunks
      FROM toks
    ), ex AS (
      SELECT doc_id, t, unnest(range(0, n_chunks)) AS ci FROM nc
    )
    SELECT doc_id,
           CAST(ci AS INT) AS chunk_idx,
           CAST(len(t[ci*24+1 : ci*24+32]) AS INT) AS n_tokens,
           array_to_string(t[ci*24+1 : ci*24+32], ' ') AS chunk_text
    FROM ex
    """,
)
def q44_doc_chunks(spark, sf_dir):
    """Deterministic chunking: 32-token chunks with 8-token overlap
    (stride 24), final partial chunk kept, empty docs dropped — the
    shaping step before sequence packing. One narrow JVM pass (split +
    sequence + posexplode + slice); the oracle re-derives every chunk
    boundary and text with DuckDB list slicing."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return C.chunk_documents(docs, chunk_tokens=32, overlap=8)


@query(
    "q46_pack_chunks",
    """
    WITH stripped AS (
      SELECT doc_id,
             regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') AS ts
      FROM documents
    ), toks AS (
      SELECT doc_id,
             CASE WHEN ts = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(ts, '\\s+') END AS t
      FROM stripped
    ), nc AS (
      SELECT doc_id, t,
             CASE WHEN len(t) = 0 THEN 0
                  ELSE greatest(CAST(ceil((len(t) - 8) / 24.0) AS INT), 1)
             END AS n_chunks
      FROM toks
    ), ex AS (
      SELECT doc_id, t, unnest(range(0, n_chunks)) AS ci FROM nc
    ), chunks AS (
      SELECT doc_id,
             CAST(ci AS INT) AS chunk_idx,
             CAST(len(t[ci*24+1 : ci*24+32]) AS INT) AS n_tokens,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 8 AS BIGINT) AS shard
      FROM ex
    ), packed AS (
      SELECT doc_id, chunk_idx, n_tokens, shard,
             SUM(n_tokens) OVER (PARTITION BY shard
                                 ORDER BY doc_id ASC, chunk_idx ASC
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start
      FROM chunks
    )
    SELECT doc_id, chunk_idx, n_tokens, shard,
           CAST(floor(start / 64.0) AS BIGINT) AS pack_id,
           CAST(start % 64 AS BIGINT) AS pack_pos
    FROM packed
    """,
    headline=False,
)
def q46_pack_chunks(spark, sf_dir):
    """Sequence packing over q44's chunks: concat-then-split layout per
    md5-derived shard (8 shards, seq_len 64) — chunk joins the pack of
    its first token, window cumsum per shard, no Python and exactly one
    shuffle. The oracle re-derives chunking, shard routing, and the
    cumulative layout with the identical window."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    chunks = C.chunk_documents(docs, chunk_tokens=32, overlap=8).drop("chunk_text")
    return C.pack_chunks(chunks, seq_len=64, n_shards=8)


@query(
    "q49_term_stats",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(list_filter({_WORDS}, w -> w <> '')) AS term
      FROM documents
    )
    SELECT term,
           count(DISTINCT doc_id) AS doc_freq,
           count(*) AS collection_freq
    FROM words
    GROUP BY term
    HAVING count(DISTINCT doc_id) >= 3
    """,
    headline=False,
)
def q49_term_stats(spark, sf_dir):
    """Vocabulary statistics (inverted-index-lite): per normalized word
    term, distinct-doc frequency and collection frequency, pruned at
    doc_freq >= 3 — one explode + one hash aggregate on compact term
    keys. The oracle restates the tokenization and both counts."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents")
    return C.term_stats(docs, min_doc_freq=3)


@query(
    "q47_contamination",
    f"""
    WITH bench AS (
      SELECT DISTINCT md5(s) AS shash
      FROM (SELECT unnest(list_filter({_SHINGLES}, x -> x <> '')) AS s
            FROM documents WHERE source = 'src0')
    ), corpus AS (
      SELECT doc_id, list_filter({_SHINGLES}, x -> x <> '') AS shs
      FROM documents WHERE source <> 'src0'
    ), ex AS (
      SELECT doc_id, unnest(shs) AS s FROM corpus
    )
    SELECT c.doc_id,
           count(e.s) AS n_shingles,
           count(CASE WHEN md5(e.s) IN (SELECT shash FROM bench)
                      THEN 1 END) AS n_overlapping,
           count(CASE WHEN md5(e.s) IN (SELECT shash FROM bench)
                      THEN 1 END) >= 5 AS contaminated
    FROM corpus c LEFT JOIN ex e USING (doc_id)
    GROUP BY c.doc_id
    """,
)
def q47_contamination(spark, sf_dir):
    """Train/test decontamination: docs outside src0 checked for word
    3-gram overlap against the src0 'benchmark' set — distinct
    benchmark shingles broadcast (eval sets are small by definition),
    corpus pays ONE scan: shingle projection + broadcast hit-marker
    join + one hash aggregate, no text shuffle. contaminated = >= 5
    shared shingles. Oracle restates the shingle membership count in
    SQL."""
    from capex_data_pipeline_spark.extensions import corpus as C

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    docs = _t(spark, sf_dir, "documents")
    return C.contamination_check(
        # corpus-side shingling over a single-row-group scan: spread
        # first or the whole pass runs on one task (per-doc flags,
        # order-insensitive)
        spread_few_splits(docs.filter(F.col("source") != "src0")),
        docs.filter(F.col("source") == "src0"),
        k=3,
        min_overlap=5,
    )


@query(
    "q48_group_sample",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5('s0|' || coalesce(CAST(doc_id AS VARCHAR), '<null>')), 1, 8))
                        AS BIGINT) / 4294967296.0 ASC,
                        doc_id ASC) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= 10
    """,
    headline=False,
)
def q48_group_sample(spark, sf_dir):
    """Exactly-10-per-source deterministic sample: rows ranked within
    each source by the md5 sampling hash (WindowGroupLimit plan — each
    map task forwards at most 10 rows per group into the exchange).
    The oracle re-derives the hash order and rank in SQL."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return C.group_sample(docs, n=10, group_col="source", key_col="doc_id")


@query(
    "q45_stratified_sample",
    f"""
    SELECT doc_id, source,
           round(CAST(('0x' || substr(md5('s0|' || coalesce(CAST(doc_id AS VARCHAR), '<null>')), 1, 8))
                      AS BIGINT) / 4294967296.0, 6) AS keep_hash
    FROM documents
    WHERE CAST(('0x' || substr(md5('s0|' || coalesce(CAST(doc_id AS VARCHAR), '<null>')), 1, 8))
               AS BIGINT) / 4294967296.0
          < CASE source WHEN 'src0' THEN 1.0
                        WHEN 'src1' THEN 0.5
                        ELSE 0.25 END
    """,
    headline=False,
)
def q45_stratified_sample(spark, sf_dir):
    """Deterministic per-source sampling (keep all of src0, half of
    src1, a quarter of the rest): the keep decision is an md5-derived
    uniform hash of the doc id — reproducible across engines, runs and
    repartitionings, unlike df.sample. The oracle re-derives the exact
    kept set and hash values."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents")
    sampled = C.stratified_hash_sample(
        docs,
        {"src0": 1.0, "src1": 0.5},
        strata_col="source",
        key_col="doc_id",
        default_fraction=0.25,
    )
    return sampled.select(
        "doc_id",
        "source",
        F.round(C.sample_hash(F.col("doc_id")), 6).alias("keep_hash"),
    )




@query(
    "q194_fuzzy_decontamination",
    f"""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0
    ), corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
    ), bsig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_SHINGLES}, s -> md5(i || '|' || s)))) AS sig
      FROM bench
    ), csig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_SHINGLES}, s -> md5(i || '|' || s)))) AS sig
      FROM corp
    ), bb AS (
      SELECT doc_id, sig, b,
             md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bhash
      FROM bsig, (SELECT unnest([0, 1, 2, 3]) AS b) bands
    ), cb AS (
      SELECT doc_id, sig, b,
             md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bhash
      FROM csig, (SELECT unnest([0, 1, 2, 3]) AS b) bands
    ), pairs AS (
      SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_doc_id,
                      c.sig AS sig_c, b.sig AS sig_b
      FROM cb c JOIN bb b ON c.b = b.b AND c.bhash = b.bhash
    )
    SELECT doc_id, bench_doc_id,
           round(len(list_filter(range(1, 9), i -> sig_c[i] = sig_b[i])) / 8.0, 4)
             AS est_jaccard
    FROM pairs
    WHERE len(list_filter(range(1, 9), i -> sig_c[i] = sig_b[i])) / 8.0 >= 0.5
    """,
)
def q194_fuzzy_decontamination(spark, sf_dir):
    """Fuzzy train/eval decontamination (dedup.minhash_cross_dups):
    every corpus document sharing a MinHash band with a held-out
    benchmark slice (doc_id % 37 == 0), scored by signature-estimated
    Jaccard — q47's exact-shingle check catches verbatim leaks, this
    catches the paraphrased/truncated ones. Identical signature math
    to q31, but the join is corpus x BROADCAST(benchmark bands): the
    corpus never shuffles, the flag applies map-side in one pass —
    the plan shape that holds when the corpus is 100 TB and the
    benchmark is a few thousand rows."""
    from capex_data_pipeline_spark.extensions.dedup import (
        minhash_cross_dups,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0).select("doc_id", "text")
    # corpus-side 8-hash signature battery over a single-row-group
    # scan: spread first or it runs on one task (map-side flags,
    # order-insensitive)
    corp = spread_few_splits(
        docs.filter(F.col("doc_id") % 37 != 0).select("doc_id", "text")
    )
    return minhash_cross_dups(
        corp, bench, num_hashes=8, bands=4, threshold=0.5
    ).select(
        "doc_id",
        F.col("bench_doc_id"),
        "est_jaccard",
    )


def _q196_cfg(b: int, r: int) -> str:
    return f"""
    SELECT {b} AS bands, {r} AS rows_per_band,
           count(*) AS n_pairs,
           coalesce(sum(CASE WHEN len(list_filter(range(0, {b}),
                    bb -> siga[bb*{r}+1 : bb*{r}+{r}]
                          = sigb[bb*{r}+1 : bb*{r}+{r}])) > 0
                    THEN 1 ELSE 0 END), 0)::BIGINT AS n_collided,
           round(coalesce(sum(CASE WHEN len(list_filter(range(0, {b}),
                    bb -> siga[bb*{r}+1 : bb*{r}+{r}]
                          = sigb[bb*{r}+1 : bb*{r}+{r}])) > 0
                    THEN 1 ELSE 0 END), 0)
                 / count(*)::DOUBLE, 6) AS recall_measured,
           round(sum(CAST(round((1.0 - pow(1.0 - pow(j, {r}), {b}))
                                * 1000000.0) AS BIGINT))
                 / (count(*) * 1000000.0), 6) AS recall_predicted,
           round(pow(1.0 / {b}, 1.0 / {r}), 6) AS curve_midpoint
    FROM pairs
    """


@query(
    "q196_lsh_banding_audit",
    f"""
    WITH sampled AS (
      SELECT * FROM documents
      WHERE CAST(('0x' || substr(md5('ba|' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
    ), sets AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM sampled
    ), sig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_SHINGLES}, s -> md5(i || '|' || s)))) AS sig
      FROM sampled
    ), ex AS (
      SELECT s.doc_id, s.sh, g.sig
      FROM sets s JOIN sig g USING (doc_id)
    ), shl AS (
      SELECT doc_id, unnest(sh) AS s FROM sets
    ), cand AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM shl a JOIN shl b ON a.s = b.s AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.ida, c.idb, ea.sig AS siga, eb.sig AS sigb,
             len(list_intersect(ea.sh, eb.sh))::DOUBLE
               / (len(ea.sh) + len(eb.sh)
                  - len(list_intersect(ea.sh, eb.sh)))::DOUBLE AS j
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.ida
      JOIN ex eb ON eb.doc_id = c.idb
      WHERE len(list_intersect(ea.sh, eb.sh))::DOUBLE
            / (len(ea.sh) + len(eb.sh)
               - len(list_intersect(ea.sh, eb.sh)))::DOUBLE >= 0.5
    )
    {" UNION ALL ".join(f"({_q196_cfg(b, 8 // b)})" for b in (1, 2, 4, 8))}
    """,
)
def q196_lsh_banding_audit(spark, sf_dir):
    """Banding audit for the LSH family (dedup.lsh_banding_audit):
    for every legal (bands, rows) split of the 8-component signature,
    the MEASURED recall of banded candidate generation on this
    corpus's TRUE >= 0.5-Jaccard pairs next to the S-curve
    prediction — the report that justifies (or indicts) the b/r
    choice q31/q33/q38 run with, on the corpus actually at hand.
    Ground truth from the complete any-shared-shingle join over a
    deterministic md5 half-sample of the corpus (uniform doc sampling
    = uniform pair sampling, so every recall column is an unbiased
    estimate and the output-bound join shrinks ~4x — the deployment
    mode at scale; the oracle replays the same hash predicate); band
    collisions decided pair-locally from the signatures (no
    per-config joins); predicted probabilities micropoint-quantized
    before averaging so the pow() paths of two engines cannot drift
    the sum. The oracle replays sets, signatures, the candidate
    join, and every config's measured and predicted columns."""
    from capex_data_pipeline_spark.extensions.dedup import (
        lsh_banding_audit,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    return lsh_banding_audit(
        # shingling + 8-hash signatures fused onto a single-row-group
        # scan: spread first (per-doc signatures, order-insensitive)
        spread_few_splits(_t(spark, sf_dir, "documents")),
        num_hashes=8, threshold=0.5,
        sample_fraction=0.5,
    )
