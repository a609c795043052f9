"""Round-8 driver queries: lexical retrieval (BM25), categorical
distribution drift (PSI), character-entropy quality scoring,
stream-static enrichment, data-quality expectations, integer-exact
PageRank, BPE merge-pair statistics, and per-group embedding
centroids.

Same contract as ``registry``: every entry pairs the Spark operator
with a full DuckDB oracle restating the semantics independently.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from capex_data_pipeline_spark.registry import _t, query

#: normalized word-token list, DuckDB side (identical normalization to
#: extensions.dedup.normalized_text)
_WORDS_SRCH = (
    "list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
)

# ---------------------------------------------------- BM25 retrieval

#: the fixed bag-of-words query q95 ranks against (terms exist in the
#: synthetic corpus vocabulary at every SF)
_Q95_TERMS = ["hash", "join", "spark"]


@query(
    "q95_bm25_topk",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS_SRCH} AS ws FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM w),
    dl AS (SELECT doc_id, len(ws) AS dl FROM w),
    hits AS (SELECT doc_id, unnest(ws) AS term FROM w),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM hits
      WHERE term IN ('hash', 'join', 'spark') GROUP BY 1, 2
    ),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, count(*) AS n_matched_terms,
             round(sum(
               ln(1 + (stats.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ), 6) AS score
      FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id), stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_matched_terms, score,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
)
def q95_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 retrieval for a 3-term query
    (corpus.bm25_topk, k1=1.2, b=0.75): doc lengths from a map-only
    array-size projection, the exploded words pruned to the query
    vocabulary BEFORE the (doc, term) shuffle, df/N/avgdl as tiny
    broadcasts, global top-k via TakeOrdered. The oracle re-derives
    lengths, df, the saturation formula, and the ranked cut in SQL."""
    from capex_data_pipeline_spark.extensions.corpus import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _Q95_TERMS, k=10)


# ---------------------------------------- distribution drift (PSI)


@query(
    "q96_distribution_drift",
    """
    WITH tagged AS (
      -- baseline = the whole corpus; current = three sources only, so
      -- the drift is REAL (large positive PSI) and the other 17
      -- categories exercise the one-sided union-K smoothing path
      SELECT coalesce(CAST(source AS VARCHAR), '<null>') AS category,
             0 AS t
      FROM documents
      UNION ALL
      SELECT coalesce(CAST(source AS VARCHAR), '<null>') AS category,
             1 AS t
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
    ),
    counts AS (
      SELECT category,
             sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_base,
             sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n_curr
      FROM tagged GROUP BY 1
    ),
    totals AS (
      SELECT sum(n_base) AS tb, sum(n_curr) AS tc, count(*) AS k
      FROM counts
    )
    SELECT category, n_base, n_curr,
           round((n_base + 0.5) / (tb + 0.5 * k), 6) AS p_base,
           round((n_curr + 0.5) / (tc + 0.5 * k), 6) AS p_curr,
           round(((n_curr + 0.5) / (tc + 0.5 * k)
                  - (n_base + 0.5) / (tb + 0.5 * k))
                 * ln(((n_curr + 0.5) / (tc + 0.5 * k))
                      / ((n_base + 0.5) / (tb + 0.5 * k))), 6) + 0.0
             AS psi_contrib
    FROM counts, totals
    """,
    headline=False,
)
def q96_distribution_drift(spark, sf_dir):
    """PSI drift over the source mix (analytics.distribution_drift,
    smoothing 0.5): baseline = the whole corpus, current = a
    three-source subset — a genuinely shifted mixture, so the query
    exercises large positive contributions AND the one-sided
    categories (present only in baseline) whose finite psi terms
    exist only because of the union-K smoothing. Tag-union → one hash
    aggregate on the category key, totals/K as a 1-row broadcast."""
    from capex_data_pipeline_spark.extensions.analytics import (
        distribution_drift,
    )

    docs = _t(spark, sf_dir, "documents")
    curr = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    return distribution_drift(docs, curr, "source", smoothing=0.5)


# ------------------------------------------ character-entropy quality


@query(
    "q97_char_entropy",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    ch AS (
      -- list_filter mirrors the Spark side's c != '' filter: DuckDB
      -- string_split('', '') returns [''] (length 1), which would make
      -- empty-normalized docs report n=1 instead of (0, 0, NULL)
      SELECT doc_id, list_filter(string_split(t, ''), c -> c <> '') AS cs
      FROM norm
    ),
    cnt AS (
      SELECT doc_id, len(cs) AS n,
             list_transform(list_distinct(cs),
               d -> len(list_filter(cs, c -> c = d))) AS counts
      FROM ch
    )
    SELECT doc_id, n AS n_chars_norm,
           len(counts) AS n_distinct_chars,
           CASE WHEN n > 0 THEN
             round(ln(CAST(n AS DOUBLE))
                   - list_sum(list_transform(counts,
                       c -> c * ln(CAST(c AS DOUBLE)))) / n, 6) + 0.0
           END AS entropy_nats
    FROM cnt
    """,
)
def q97_char_entropy(spark, sf_dir):
    """Shannon character entropy per document
    (textstats.add_char_entropy, the Arrow fast path): closed-form
    ``ln N − (Σ c·ln c)/N`` over normalized-character counts, JVM-side
    normalization + vectorized numpy histogram — map-only, zero
    shuffle (ArrowEvalPython, plan-pinned no-Exchange; the explode
    formulation would shuffle one row per character of the corpus,
    and the native fold pays ~µs/char in interpreted lambdas —
    measured 9× slower). NULL for empty normalized text; pinned equal
    to the native char_entropy_struct fold in tests. The oracle
    replays the per-char counts and the closed form with DuckDB list
    functions."""
    from capex_data_pipeline_spark.extensions.textstats import (
        add_char_entropy,
    )

    docs = _t(spark, sf_dir, "documents")
    return add_char_entropy(docs, "text").select(
        "doc_id", "n_chars_norm", "n_distinct_chars", "entropy_nats"
    )


# -------------------------------------- stream-static enrichment join


@query(
    "q58_static_enrich",
    """
    SELECT e.event_id, e.user_id, e.event_type,
           round(e.value, 4) AS value,
           c.c_mktsegment AS mktsegment,
           c.c_mktsegment IS NOT NULL AS enriched
    FROM events e LEFT JOIN (
      -- even-key dimension subset: every customer key 0-149 covers all
      -- event user_ids 0-14, which would leave the left join's
      -- null-emission path unexercised; odd user_ids now genuinely miss
      SELECT * FROM customer WHERE c_custkey % 2 = 0
    ) c ON e.user_id = c.c_custkey
    """,
)
def q58_static_enrich(spark, sf_dir):
    """Stream-static enrichment join, batch analog
    (streaming.windows.static_enrich): events LEFT-joined to the
    broadcast customer dimension on user_id — the stateless streaming
    join (no watermark; the static side re-broadcasts per micro-batch).
    tests/test_streaming.py pins stream == batch for the identical
    plan on a readStream source. The stream side is never shuffled."""
    from capex_data_pipeline_spark.sources.parquet import read_table
    from capex_data_pipeline_spark.streaming.windows import static_enrich

    ev = read_table(spark, sf_dir, "events")
    # even-key subset: odd user_ids miss, so matched AND matchless
    # emission paths both carry rows (the full dim covers every event)
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_mktsegment")
    )
    out = static_enrich(ev, cust, "user_id", "c_custkey", how="left")
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_mktsegment").isNotNull().alias("enriched"),
    )


# --------------------------------------- data-quality expectations


@query(
    "q98_quality_report",
    """
    WITH base AS (
      SELECT count(*) AS n,
        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
        sum(CASE WHEN o_totalprice IS NOT NULL
                 AND (o_totalprice < 0 OR o_totalprice > 100000)
            THEN 1 ELSE 0 END) AS v_rng,
        sum(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O', 'F')
            THEN 1 ELSE 0 END) AS v_acc,
        -- struct-wrapped DISTINCT restates the null-safe semantics
        -- (count(DISTINCT col) would skip NULL keys; the engine counts
        -- them via a never-NULL struct)
        count(*) - count(DISTINCT {'k': o_orderkey}) AS v_uk,
        count(*) - count(DISTINCT {'k': o_custkey}) AS v_uc
      FROM orders
    ),
    rep AS (
      SELECT 'not_null(o_custkey)' AS rule, 'not_null' AS kind,
             n AS n_rows, v_nn AS n_violations FROM base
      UNION ALL
      SELECT 'in_range(o_totalprice,0.0,100000.0)', 'in_range', n, v_rng
      FROM base
      UNION ALL
      SELECT 'accepted_values(o_orderstatus)', 'accepted_values', n, v_acc
      FROM base
      UNION ALL
      SELECT 'unique(o_orderkey)', 'unique', n, v_uk FROM base
      UNION ALL
      SELECT 'unique(o_custkey)', 'unique', n, v_uc FROM base
    )
    SELECT rule, kind, n_rows, n_violations,
           round(n_violations / CAST(n_rows AS DOUBLE), 6) AS violation_frac,
           n_violations = 0 AS passed
    FROM rep
    """,
    headline=False,
)
def q98_quality_report(spark, sf_dir):
    """Declarative data-quality gate (quality.quality_report): five
    expectations over orders — all three row-level rules share ONE
    hash aggregate (single scan), each uniqueness rule adds one
    aggregation on its key. The rule mix is chosen so both outcomes
    are exercised: the range/accepted/unique(custkey) rules FAIL with
    exact violation counts, the others pass. The oracle restates
    every conditional sum and distinct count in SQL."""
    from capex_data_pipeline_spark.extensions.quality import (
        accepted_values,
        in_range,
        not_null,
        quality_report,
        unique,
    )

    orders = _t(spark, sf_dir, "orders")
    return quality_report(
        orders,
        [
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 100000),
            accepted_values("o_orderstatus", ["O", "F"]),
            unique("o_orderkey"),
            unique("o_custkey"),
        ],
    )


# ------------------------------------------------ PageRank (iterative)

#: one PageRank round in DuckDB SQL (exact integer micro-units)
_PR_ITER = """
  SELECT verts.v AS v,
         CAST(150000 + (850 * coalesce(sum(c.contrib), 0)) // 1000
              AS BIGINT) AS r
  FROM verts LEFT JOIN (
    SELECT e.dst AS dst, r.r // d.deg AS contrib
    FROM edges e JOIN {prev} r ON e.src = r.v JOIN deg d ON e.src = d.src
  ) c ON c.dst = verts.v
  GROUP BY verts.v
"""


@query(
    "q99_pagerank",
    f"""
    WITH dir AS (
      SELECT DISTINCT 'c' || o.o_custkey AS a, 's' || l.l_suppkey AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM dir
      UNION
      SELECT b AS src, a AS dst FROM dir
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
    r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM verts),
    i1 AS ({_PR_ITER.format(prev='r0')}),
    i2 AS ({_PR_ITER.format(prev='i1')}),
    i3 AS ({_PR_ITER.format(prev='i2')})
    SELECT v AS vertex, r AS rank_micro FROM i3
    """,
)
def q99_pagerank(spark, sf_dir):
    """Integer-exact PageRank, 3 rounds (graph.pagerank) over the
    bidirectional customer↔supplier trade graph (vertex ids namespaced
    'c…'/'s…' — the raw key ranges overlap). Ranks are BIGINT
    micro-units with floor division, so the oracle's 3 unrolled CTE
    rounds reproduce every rank bit-for-bit — float PageRank could
    never hash-match across engines. Per round: one src equi-join +
    one dst hash aggregate on the persisted degree-annotated edge
    list."""
    from capex_data_pipeline_spark.extensions.graph import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dir_ = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    edges = dir_.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(dir_.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    # both directions of a distinct pair set are disjoint ('c…' vs
    # 's…' prefixes), so the union is already duplicate-free — skip the
    # operator's defensive distinct (one full edge-list shuffle)
    return pagerank(edges, iterations=3, assume_distinct=True)


# --------------------------------------- BPE merge-pair statistics


@query(
    "q100_bpe_pairs",
    f"""
    WITH w AS (
      SELECT unnest({_WORDS_SRCH}) AS w FROM documents
    ),
    vocab AS (SELECT w, count(*) AS freq FROM w GROUP BY 1),
    p AS (
      SELECT freq, unnest(list_transform(range(1, length(w)),
               i -> {{'s1': substring(w, i, 1), 's2': substring(w, i + 1, 1)}}))
             AS pr
      FROM vocab WHERE length(w) >= 2
    )
    SELECT pr.s1 AS s1, pr.s2 AS s2, sum(freq) AS pair_count
    FROM p GROUP BY 1, 2 HAVING sum(freq) >= 5
    """,
)
def q100_bpe_pairs(spark, sf_dir):
    """First-round BPE merge statistics (corpus.bpe_pair_counts,
    min_count=5): adjacent character-pair frequencies, the quantity a
    BPE tokenizer trainer maximizes per merge. The corpus is scanned
    once for the (word, freq) vocabulary; the char-pair explode runs
    over the VOCAB-sized frame weighted by freq — never over the
    corpus. The oracle re-derives vocabulary, pair explode, and
    weighted counts."""
    from capex_data_pipeline_spark.extensions.corpus import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), min_count=5)


# ------------------------------------------- per-group centroids


@query(
    "q101_group_centroids",
    """
    WITH ex AS (
      SELECT label,
             unnest(list_transform(range(1, len(embedding) + 1),
               i -> {'dim': i - 1, 'v': embedding[i]})) AS e
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    pd AS (
      SELECT label, e.dim AS dim, round(avg(e.v), 6) + 0.0 AS m,
             count(*) AS n
      FROM ex GROUP BY 1, 2
    )
    SELECT pd.label AS label, mx.n_vectors AS n_vectors,
           pd.dim AS dim, pd.m AS centroid_val
    FROM pd JOIN (
      SELECT label, max(n) AS n_vectors FROM pd GROUP BY 1
    ) mx USING (label)
    """,
)
def q101_group_centroids(spark, sf_dir):
    """Per-label embedding centroids (similarity.group_centroids):
    posexplode to (group, dim, value) with map-side partial means —
    never a collect_list of whole vectors per group — then a
    vocabulary-sized regroup into dim-ordered arrays. The driver
    contract flattens the centroid back to one row per dimension so
    the cross-engine compare operates on scalars."""
    from capex_data_pipeline_spark.extensions.similarity import (
        group_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = group_centroids(emb, "label", "embedding")
    return cents.select(
        "label",
        "n_vectors",
        F.posexplode("centroid").alias("dim", "centroid_val"),
    )


# ------------------------------------------ windowed heavy hitters


@query(
    "q59_windowed_topk",
    """
    WITH c AS (
      SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000
               AS window_start_us,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start_us, event_type, n_events, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY window_start_us
        ORDER BY n_events DESC, event_type ASC) AS rank
      FROM c
    ) WHERE rank <= 3
    """,
)
def q59_windowed_topk(spark, sf_dir):
    """Per-hour heavy hitters (streaming.windows.windowed_topk, k=3):
    tumbling count aggregate on the compact (window, type) key +
    WindowGroupLimit top-k with deterministic type tie-break. The
    streaming form is the count stage in update mode (rank applied at
    read time); the oracle re-derives hour buckets via epoch floor."""
    from capex_data_pipeline_spark.sources.parquet import read_table
    from capex_data_pipeline_spark.streaming.windows import windowed_topk

    return windowed_topk(read_table(spark, sf_dir, "events"), "1 hour", k=3)


# ------------------------------------------ snapshot profile drift


@query(
    "q102_snapshot_drift",
    """
    WITH b AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    -- the current snapshot deterministically degrades two columns
    -- (status 'P' -> NULL, every 7th custkey -> NULL) so the NULL
    -- counting and null_frac_delta paths carry real non-zero values
    -- (the synthetic corpus itself has no NULLs anywhere)
    c AS (
      SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END
               AS o_custkey,
             nullif(o_orderstatus, 'P') AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    pb AS (
      SELECT 'o_custkey' AS col, count(*) AS n,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn,
             count(DISTINCT {'k': o_custkey}) AS nd FROM b
      UNION ALL
      SELECT 'o_orderstatus', count(*),
             sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT {'k': o_orderstatus}) FROM b
      UNION ALL
      SELECT 'o_totalprice', count(*),
             sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT {'k': o_totalprice}) FROM b
    ),
    pc AS (
      SELECT 'o_custkey' AS col, count(*) AS n,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn,
             count(DISTINCT {'k': o_custkey}) AS nd FROM c
      UNION ALL
      SELECT 'o_orderstatus', count(*),
             sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT {'k': o_orderstatus}) FROM c
      UNION ALL
      SELECT 'o_totalprice', count(*),
             sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT {'k': o_totalprice}) FROM c
    )
    SELECT pb.col AS column, pb.n AS n_rows_base, pc.n AS n_rows_curr,
           pb.nn AS n_null_base, pc.nn AS n_null_curr,
           pb.nd AS n_distinct_base, pc.nd AS n_distinct_curr,
           round(pc.nn / CAST(greatest(pc.n, 1) AS DOUBLE)
                 - pb.nn / CAST(greatest(pb.n, 1) AS DOUBLE), 6) + 0.0
             AS null_frac_delta
    FROM pb JOIN pc ON pb.col = pc.col
    """,
)
def q102_snapshot_drift(spark, sf_dir):
    """Schema/content drift between two snapshots
    (quality.snapshot_drift, even/odd o_orderkey halves of orders with
    the current side deterministically degraded — status 'P' and every
    7th custkey nulled — so NULL counts and the null-rate delta are
    non-zero): one single-scan profile per side (the
    multi-distinct aggregate plans as Expand — k-way map-side
    amplification, still one scan), joined on the column name into a
    column-count-sized report. All counts exact integers; the
    null-rate delta is round-6 with the -0.0 collapse."""
    from capex_data_pipeline_spark.extensions.quality import snapshot_drift

    orders = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice"]
    base = orders.filter(F.col("o_orderkey") % 2 == 0)
    # degrade the current snapshot deterministically so the NULL paths
    # report real values (the corpus itself is NULL-free)
    curr = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_custkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("o_orderstatus"),
        "o_totalprice",
    )
    return snapshot_drift(base, curr, cols)


# ----------------------------------------------- CDC changelog apply


@query(
    "q103_cdc_apply",
    """
    WITH snap AS (
      SELECT o_orderkey // 2 AS k, o_orderstatus AS status,
             o_totalprice AS price,
             CAST(NULL AS BIGINT) AS ver, 0 AS is_chg, 'U' AS op
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    chg AS (
      SELECT o_orderkey // 2 AS k, o_orderstatus AS status,
             o_totalprice * 2 AS price,
             o_orderkey AS ver, 1 AS is_chg,
             CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY k ORDER BY ver DESC NULLS LAST, is_chg DESC, op DESC
      ) AS rn FROM u
    )
    SELECT k, status, price FROM r WHERE rn = 1 AND op <> 'D'
    """,
)
def q103_cdc_apply(spark, sf_dir):
    """CDC MERGE/upsert maintenance (analytics.apply_changelog):
    snapshot = even-o_orderkey orders keyed by o_orderkey div 2,
    changelog = the odd rows targeting the same keys (price doubled —
    exact in binary doubles, so no cross-engine rounding boundary —
    every 5th op a delete, version = o_orderkey). Tag-union +
    ONE keyed window keeping the highest-version row (snapshot rides
    as version NULL below every real version) — never a per-op-type
    join. Upserts, deletes, AND untouched pass-through rows all carry
    rows here; the oracle replays the union + ranked merge."""
    from capex_data_pipeline_spark.extensions.analytics import (
        apply_changelog,
    )

    orders = _t(spark, sf_dir, "orders")
    snap = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        (F.col("o_orderkey") / 2).cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    chg = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.floor(F.col("o_orderkey") / 2).cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") * 2).alias("price"),
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_changelog(snap, chg, ["k"])


@query(
    "q105_numeric_histogram",
    """
    WITH vals AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE o_totalprice IS NOT NULL
    ), st AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
    b AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE CAST(least(floor((v - lo) / ((hi - lo) / 8.0)), 7) AS INT)
             END AS bucket,
             lo, hi
      FROM vals, st
    )
    SELECT bucket,
           round(lo + bucket * ((hi - lo) / 8.0), 6) + 0.0 AS bucket_lo,
           round(lo + (bucket + 1) * ((hi - lo) / 8.0), 6) + 0.0 AS bucket_hi,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM b GROUP BY bucket, lo, hi ORDER BY bucket
    """,
)
def q105_numeric_histogram(spark, sf_dir):
    """Equi-width 8-bucket histogram of order totals: a 1-row min/max
    pre-pass broadcast onto the rows, then one hash aggregate on the
    bucket index — the distribution profile behind validation
    dashboards, all-IEEE-double bucket math so both engines derive
    identical bucket boundaries and counts."""
    from capex_data_pipeline_spark.extensions.quality import numeric_histogram

    return numeric_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", 8)


# ------------------------------------------- BPE apply / encode

#: ordered merges for q107, chosen to chain on the corpus vocabulary
#: (window → 'w i ndow' via ow→dow→ndow, stream → 'str e a m' via
#: st→str) and to exercise rank priority (e r beats t h inside 'ther')
_BPE_MERGES = [
    ("e", "r"), ("t", "h"), ("th", "e"), ("o", "w"), ("d", "ow"),
    ("n", "dow"), ("i", "n"), ("s", "t"), ("a", "r"), ("st", "r"),
]
_BPE_ML = "[" + ", ".join(f"'{a} {b}'" for a, b in _BPE_MERGES) + "]"
#: leftmost lowest-rank applicable merge position in `syms`, or NULL
_BPE_BEST = (
    "(list_sort(list_filter(list_transform(range(1, len(syms)), "
    f"i -> {{'r': list_position({_BPE_ML}, syms[i] || ' ' || syms[i+1]), 'i': i}}), "
    "s -> s.r IS NOT NULL AND s.r > 0)))[1].i"
)


@query(
    "q107_bpe_encode",
    f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_WORDS_SRCH} AS ws FROM documents
    ),
    words AS (
      SELECT doc_id, pos, ws[pos] AS w
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
            FROM toks)
    ),
    vocab AS (SELECT DISTINCT w FROM words),
    enc AS (
      SELECT w, list_transform(range(1, length(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
      UNION ALL
      SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms
      FROM (SELECT w, syms, {_BPE_BEST} AS bi FROM enc)
      WHERE bi IS NOT NULL
    ),
    final AS (SELECT w, syms FROM enc WHERE {_BPE_BEST} IS NULL),
    agg AS (
      SELECT wo.doc_id,
             CAST(sum(len(f.syms)) AS BIGINT) AS n,
             string_agg(array_to_string(f.syms, ' '), ' ' ORDER BY wo.pos) AS t
      FROM words wo JOIN final f USING (w)
      GROUP BY wo.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_bpe_tokens,
           coalesce(a.t, '') AS bpe_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q107_bpe_encode(spark, sf_dir):
    """BPE apply/encode (corpus.bpe_encode): encode every document's
    normalized token stream with a 10-entry ordered merges table —
    the trained-tokenizer application step beside q100's trainer
    statistics. The per-word merge loop runs in one Arrow UDF over
    the DISTINCT-WORD vocabulary only (the vocab-frame trick: corpus
    touched twice, Python pays vocab rows); encodings join back on
    the compact word key and assemble per doc in one hash aggregate.
    The oracle replays the merge loop EXACTLY via a recursive CTE
    that merges the leftmost lowest-rank pair per step — provably
    equivalent to the merge-all-occurrences formulation because a
    merge's output symbol only appears in later-rank pairs."""
    from capex_data_pipeline_spark.extensions.corpus import bpe_encode

    return bpe_encode(_t(spark, sf_dir, "documents"), _BPE_MERGES)


# ------------------------------------------- BPE trainer

_BPE_TRAIN_ROUNDS = 8


def _bpe_train_round_sql(r: int) -> str:
    """One training round of the q109 oracle: pair counts over round
    r-1's vocab state, deterministic argmax (count DESC, s1, s2), and
    a recursive leftmost-merge application producing round r's state.
    Re-deriving the exact trainer in SQL is what makes the learned
    merges value-checkable rather than trust-me."""
    prev = f"v{r - 1}"
    bi = (
        "(list_filter(list_transform(range(1, len(syms)), "
        "i -> {'i': i, 'm': syms[i] = s1 AND syms[i+1] = s2}), "
        "x -> x.m))[1].i"
    )
    return f"""
p{r} AS (
  SELECT syms[i] AS s1, syms[i+1] AS s2, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM {prev})
  GROUP BY 1, 2
),
b{r} AS (SELECT {r} AS rank, s1, s2, cnt FROM p{r}
         ORDER BY cnt DESC, s1, s2 LIMIT 1),
a{r} AS (
  SELECT w, freq, syms, s1, s2 FROM {prev}, b{r}
  UNION ALL
  SELECT w, freq,
         syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms,
         s1, s2
  FROM (SELECT w, freq, syms, s1, s2, {bi} AS bi FROM a{r})
  WHERE bi IS NOT NULL
),
v{r} AS (
  SELECT w, freq, syms
  FROM (SELECT *, {bi} AS bi FROM a{r}) WHERE bi IS NULL
)"""


_BPE_TRAIN_SQL = (
    f"""
    WITH RECURSIVE w AS (SELECT unnest({_WORDS_SRCH}) AS w FROM documents),
    vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY 1),
    v0 AS (SELECT w, freq,
                  list_transform(range(1, length(w) + 1), i -> w[i:i]) AS syms
           FROM vocab)"""
    + "".join("," + _bpe_train_round_sql(r) for r in range(1, _BPE_TRAIN_ROUNDS + 1))
    + """
    SELECT rank, s1, s2, cnt AS pair_count FROM ("""
    + " UNION ALL ".join(
        f"SELECT * FROM b{r}" for r in range(1, _BPE_TRAIN_ROUNDS + 1)
    )
    + ") ORDER BY rank"
)


@query("q109_bpe_train", _BPE_TRAIN_SQL)
def q109_bpe_train(spark, sf_dir):
    """BPE trainer (corpus.bpe_train, 8 merges): per round, adjacent
    symbol-pair counts over the frequency-weighted vocab frame, a
    deterministic argmax (count DESC, s1, s2 — engine-replayable),
    and a left-to-right non-overlapping merge fold over each word's
    symbols. Completes the tokenizer lifecycle: q100 statistics →
    q109 training → q107 application. The oracle re-derives all 8
    rounds with chained CTEs whose apply step is the q107-style
    recursive leftmost merge — the learned table is value-checked,
    not trusted."""
    from capex_data_pipeline_spark.extensions.corpus import bpe_train

    return bpe_train(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_TRAIN_ROUNDS
    )


# ------------------------------------------------ Lloyd's k-means

#: registered k-means shape — small enough that the oracle's unrolled
#: rounds stay readable, large enough that assignments actually move
#: (round-over-round reassignments observed at every SF)
_KM_K = 8
_KM_ROUNDS = 4

#: one assignment step in DuckDB SQL against centers CTE {c}: nearest
#: cluster by squared Euclidean distance, rounded to 6 decimals BEFORE
#: the argmin (cluster-index tie-break) — the same pre-argmin rounding
#: the engine applies, so near-ties resolve identically. The distance
#: fold is list_reduce over an index-ordered list_transform: the
#: first-element-seeded sequential fold performs the identical IEEE op
#: sequence as the engine's 0D-seeded aggregate (0 + x == x).
_KM_ASSIGN = """
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
             AS rn
    FROM (
      SELECT p.vec_id, c.cluster,
             round(list_reduce(
               list_transform(range(1, len(p.v) + 1),
                              i -> (p.v[i] - c.v[i]) * (p.v[i] - c.v[i])),
               (acc, x) -> acc + x), 6) AS dist
      FROM pts p, {c} c
    )
  ) WHERE rn = 1
"""

#: one center-update step: per-cluster per-dim mean of members
#: (round(…, 6) + 0.0 — the repo's IEEE -0.0 collapse), reassembled
#: dim-ordered; empty clusters keep their previous center
_KM_UPDATE = """
  SELECT pc.cluster, coalesce(nw.v, pc.v) AS v
  FROM {prev} pc LEFT JOIN (
    SELECT cluster, list(m ORDER BY dim) AS v FROM (
      SELECT a.cluster, e.dim AS dim, round(avg(e.x), 6) + 0.0 AS m
      FROM {a} a JOIN (
        SELECT vec_id,
               unnest(list_transform(range(1, len(v) + 1),
                                     i -> {{'dim': i - 1, 'x': v[i]}})) AS e
        FROM pts
      ) ex USING (vec_id)
      GROUP BY 1, 2
    ) GROUP BY 1
  ) nw USING (cluster)
"""


def _kmeans_sql() -> str:
    # AS MATERIALIZED: each round's update references both the
    # assignment and the previous centers — the same CTE-expansion
    # guard as q113/q114
    ctes = [
        """pts AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
    )""",
        f"""c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT)
               AS cluster, v
      FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM pts ORDER BY h, vec_id LIMIT {_KM_K})
    )""",
    ]
    for r in range(1, _KM_ROUNDS + 1):
        ctes.append(
            f"a{r} AS MATERIALIZED ({_KM_ASSIGN.format(c=f'c{r - 1}')})"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED "
            f"({_KM_UPDATE.format(prev=f'c{r - 1}', a=f'a{r}')})"
        )
    final = _KM_ASSIGN.format(c=f"c{_KM_ROUNDS}")
    return f"WITH {', '.join(ctes)} {final}"


@query("q115_kmeans", _kmeans_sql())
def q115_kmeans(spark, sf_dir):
    """Engine-portable Lloyd's k-means (similarity.kmeans_lloyd, k=8,
    4 rounds): deterministic md5-sample init, per-round map-only
    nearest-center assignment against plan-literal centers + ONE
    (cluster, dim) hash aggregate for the update — the k×dim model
    rides the driver like every distributed k-means (MLlib, FAISS),
    the data never shuffles on anything wider than (cluster, dim).
    Unlike the pyspark.ml quantizer inside q37's default mode, every
    stage is closed-form over the data, so the oracle re-derives init,
    all 4 assignment/update rounds, and the final assignment
    value-exact in unrolled MATERIALIZED CTEs."""
    from capex_data_pipeline_spark.extensions.similarity import kmeans_lloyd

    return kmeans_lloyd(
        _t(spark, sf_dir, "embeddings"), k=_KM_K, rounds=_KM_ROUNDS
    )


# ------------------------------------------- RAKE keyword extraction


def _q191_sql() -> str:
    from capex_data_pipeline_spark.oracle_frags import WORDS_SQL as _W

    return f"""
    WITH tok AS (
      SELECT doc_id, {_W} AS ws FROM documents
    ),
    w AS (
      SELECT doc_id,
             unnest(range(1, len(ws) + 1)) AS pos,
             unnest(ws) AS word
      FROM tok
    ),
    wf AS (SELECT doc_id, pos, word FROM w WHERE word <> ''),
    stop AS (
      SELECT word FROM (
        SELECT word, count(*) AS c FROM wf GROUP BY word
      ) ORDER BY c DESC, word ASC LIMIT 5
    ),
    surv AS (
      SELECT doc_id, pos, word,
             pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY pos
             ) AS isl
      FROM wf WHERE word NOT IN (SELECT word FROM stop)
    ),
    ph AS (
      SELECT doc_id, isl,
             string_agg(word, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM surv GROUP BY doc_id, isl
    ),
    pw AS (
      SELECT s.doc_id, s.isl, s.word, p.plen
      FROM surv s JOIN ph p ON s.doc_id = p.doc_id AND s.isl = p.isl
    ),
    ws AS (
      SELECT word,
             CAST(floor(sum(plen)::DOUBLE * 1000000.0
                        / count(*)::DOUBLE) AS BIGINT) AS ws6
      FROM pw GROUP BY word
    ),
    occ AS (
      SELECT pw.doc_id, pw.isl, p.phrase, p.plen,
             sum(ws.ws6) AS ss
      FROM pw JOIN ws ON pw.word = ws.word
      JOIN ph p ON pw.doc_id = p.doc_id AND pw.isl = p.isl
      GROUP BY pw.doc_id, pw.isl, p.phrase, p.plen
    )
    SELECT phrase, plen::INTEGER AS n_words,
           count(*) AS n_occurrences,
           ss / 1000000.0 AS score
    FROM occ
    GROUP BY phrase, plen, ss
    ORDER BY ss DESC, phrase ASC
    LIMIT 20
    """


@query("q191_rake_keywords", _q191_sql())
def q191_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (textstats.rake_keywords; Rose et al.
    2010): top-20 corpus phrases by degree/frequency word scoring over
    stopword-free word runs, with the stopword list itself derived
    from the corpus (top-5 words) so the whole chain is replayable.
    Gaps-and-islands phrase assembly under doc-partitioned windows;
    compact word/phrase-key aggregates; word scores quantized to
    integer micropoints before the phrase sum so the score is
    bit-exact under any association — the oracle replays tokenize,
    stopwords, islands, both stat frames, and the ranking."""
    from capex_data_pipeline_spark.extensions.textstats import rake_keywords

    return rake_keywords(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        n_stopwords=5, k=20,
    )


# ---- q214: embedding diversity without the pairwise join


@query(
    "q214_embedding_diversity",
    """
    WITH nrm AS (
      SELECT label, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    u AS (
      SELECT label, i.i AS i, CAST(embedding[i.i] AS DOUBLE) / nv AS ux
      FROM nrm, (SELECT unnest(range(1, 65)) AS i) i
      WHERE nv > 0
    ),
    ds AS (SELECT label, i, sum(ux) AS s FROM u GROUP BY 1, 2),
    ss AS (SELECT label, sum(s * s) AS ss FROM ds GROUP BY 1),
    c AS (SELECT label, count(*)::BIGINT AS n FROM nrm
          WHERE nv > 0 GROUP BY 1)
    SELECT c.label, c.n,
           round((ss.ss - c.n)
                 / nullif((c.n * (c.n - 1))::DOUBLE, 0.0), 6)
             AS mean_pairwise_cos
    FROM c JOIN ss USING (label)
    """,
)
def q214_embedding_diversity(spark, sf_dir):
    """Mean pairwise cosine per label WITHOUT the pairwise join
    (similarity.group_embedding_diversity): for unit vectors,
    Σ_{i≠j} u_i·u_j = ‖Σu‖² − n, so the O(n²) diversity statistic
    collapses to one posexplode + one (group, dim) hash aggregate —
    the sufficient-statistics move applied to vectors, exactly
    mergeable across shards. The curation signal before sampling:
    mean near 1 = a blob of near-paraphrases (send to q67 semantic
    dedup), near 0 = genuinely varied. The oracle replays the
    normalization and the identity dimension for dimension."""
    from capex_data_pipeline_spark.extensions.similarity import (
        group_embedding_diversity,
    )

    return group_embedding_diversity(
        _t(spark, sf_dir, "embeddings"), "label", "embedding"
    )


# ---- q215: per-group centroid drift between snapshots


@query(
    "q215_centroid_drift",
    """
    WITH cells AS (
      SELECT label, (vec_id % 2) AS half, i.i AS i,
             sum(CAST(embedding[i.i] AS DOUBLE)) AS s,
             count(*)::BIGINT AS c
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
      WHERE embedding IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    j AS (
      SELECT a.label, a.s / a.c AS ma, b.s / b.c AS mb,
             a.c AS na, b.c AS nb
      FROM cells a JOIN cells b
        ON a.label = b.label AND a.i = b.i
       AND a.half = 0 AND b.half = 1
    ),
    g AS (
      SELECT label, max(na) AS n_old, max(nb) AS n_new,
             sum(ma * mb) AS dt, sum(ma * ma) AS qa,
             sum(mb * mb) AS qb
      FROM j GROUP BY 1
    )
    SELECT label, n_old, n_new,
           round(dt / nullif(sqrt(qa) * sqrt(qb), 0.0), 6)
             AS centroid_cos
    FROM g
    """,
)
def q215_centroid_drift(spark, sf_dir):
    """Per-label embedding centroid drift between two snapshot halves
    (similarity.group_centroid_drift — even vec_ids play the old
    corpus, odd the new): cosine between each group's old and new
    centroid, the cheap content-moved monitor (q101 builds centroids,
    q96's PSI is the scalar sibling). Two mergeable per-dimension sum
    aggregates, a dim-cells equi-join, one group-sized reduction —
    nothing pairwise. The oracle replays the cells and the centroid
    cosine."""
    from capex_data_pipeline_spark.extensions.similarity import (
        group_centroid_drift,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return group_centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        "label",
        "embedding",
    )


# ------------------------- q245: personalized PageRank (seed restart)

#: one PPR round in DuckDB SQL — teleport mass returns to SEEDS only
_PPR_ITER = """
  SELECT verts.v AS v,
         CAST(CASE WHEN verts.v IN ({seeds}) THEN 150000 ELSE 0 END
              + (850 * coalesce(sum(c.contrib), 0)) // 1000
              AS BIGINT) AS r
  FROM verts LEFT JOIN (
    SELECT e.dst AS dst, r.r // d.deg AS contrib
    FROM edges e JOIN {prev} r ON e.src = r.v JOIN deg d ON e.src = d.src
  ) c ON c.dst = verts.v
  GROUP BY verts.v
"""

_PPR_SEEDS = ("c1", "c2", "c3")
_PPR_SEEDS_SQL = ", ".join(f"'{s}'" for s in _PPR_SEEDS)


@query(
    "q245_personalized_pagerank",
    f"""
    WITH dir AS (
      SELECT DISTINCT 'c' || o.o_custkey AS a, 's' || l.l_suppkey AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM dir
      UNION
      SELECT b AS src, a AS dst FROM dir
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
    r0 AS (
      SELECT v, CAST(CASE WHEN v IN ({_PPR_SEEDS_SQL})
                          THEN 1000000 ELSE 0 END AS BIGINT) AS r
      FROM verts
    ),
    i1 AS ({_PPR_ITER.format(prev='r0', seeds=_PPR_SEEDS_SQL)}),
    i2 AS ({_PPR_ITER.format(prev='i1', seeds=_PPR_SEEDS_SQL)}),
    i3 AS ({_PPR_ITER.format(prev='i2', seeds=_PPR_SEEDS_SQL)})
    SELECT v AS vertex, r AS rank_micro FROM i3
    """,
)
def q245_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from a 3-customer seed set over the
    customer↔supplier trade graph (graph.personalized_pagerank) —
    relevance from the seeds' point of view: teleport mass restarts
    at the SEEDS only, so rank flows outward along trade edges and
    unreachable vertices hold exact 0. Same BIGINT micro-unit /
    floor-division exactness as q99 (bit-identical across engines);
    the oracle unrolls all 3 rounds with the seeded restart term."""
    from capex_data_pipeline_spark.extensions.graph import (
        personalized_pagerank,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dir_ = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    edges = dir_.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        dir_.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return personalized_pagerank(
        edges, list(_PPR_SEEDS), iterations=3, assume_distinct=True
    )


# -------------------------- q249: HITS hubs & authorities (integer)

_HITS_NORM = """
  SELECT v, CAST(CASE WHEN (SELECT max({c}) FROM {raw}) > 0
                 THEN ({c} * 1000000) // (SELECT max({c}) FROM {raw})
                 ELSE 0 END AS BIGINT) AS {c}
  FROM {raw}
"""

_HITS_AUTH = """
  SELECT verts.v AS v, coalesce(sum(h.h), 0)::BIGINT AS a
  FROM verts
  LEFT JOIN edges e ON e.dst = verts.v
  LEFT JOIN {hub} h ON h.v = e.src
  GROUP BY verts.v
"""

_HITS_HUB = """
  SELECT verts.v AS v, coalesce(sum(a.a), 0)::BIGINT AS h
  FROM verts
  LEFT JOIN edges e ON e.src = verts.v
  LEFT JOIN {auth} a ON a.v = e.dst
  GROUP BY verts.v
"""


@query(
    "q249_hits",
    f"""
    WITH dir AS (
      SELECT DISTINCT 'c' || o.o_custkey AS a, 's' || l.l_suppkey AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM dir),
    verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
    h0 AS (SELECT v, CAST(1000000 AS BIGINT) AS h FROM verts),
    a1raw AS ({_HITS_AUTH.format(hub='h0')}),
    a1 AS ({_HITS_NORM.format(c='a', raw='a1raw')}),
    h1raw AS ({_HITS_HUB.format(auth='a1')}),
    h1 AS ({_HITS_NORM.format(c='h', raw='h1raw')}),
    a2raw AS ({_HITS_AUTH.format(hub='h1')}),
    a2 AS ({_HITS_NORM.format(c='a', raw='a2raw')}),
    h2raw AS ({_HITS_HUB.format(auth='a2')}),
    h2 AS ({_HITS_NORM.format(c='h', raw='h2raw')})
    SELECT h2.v AS vertex, h2.h AS hub_micro, a2.a AS auth_micro
    FROM h2 JOIN a2 ON a2.v = h2.v
    """,
)
def q249_hits(spark, sf_dir):
    """HITS hubs & authorities, 2 rounds, over the DIRECTED customer
    -> supplier trade graph (graph.hits): customers score as hubs
    (they point at suppliers), suppliers as authorities — the
    bipartite importance pair PageRank's single score collapses.
    Exact integer micro-units with per-round max-rescaling by floor
    division (the q99/q245 contract: bit-identical on any engine —
    float HITS is partial-sum-order dependent); the oracle unrolls
    both rounds, every normalization included."""
    from capex_data_pipeline_spark.extensions.graph import hits

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return hits(edges, iterations=2, assume_distinct=True)


# --------------------------- q253/q254: positional-index retrieval

#: postings derivation, DuckDB side — per-term sorted 1-based
#: position lists, the exact content of the persisted index table
#: (list_filter over range preserves ascending order, matching the
#: index's array_sort)
def _posting_sql(term: str, alias: str) -> str:
    return f"""
    {alias} AS (
      SELECT doc_id,
             list_filter(range(1, len(ws) + 1),
                         i -> ws[i] = '{term}') AS {alias}_pos
      FROM toks
    ),
    {alias}2 AS (
      SELECT doc_id, {alias}_pos FROM {alias}
      WHERE len({alias}_pos) > 0
    )"""


def _posindex(spark, sf_dir) -> str:
    """Build-if-absent positional index over the sf_dir's documents
    table (name encodes the SF so different scales never share
    state). Amortization point of the indexed operators: the first
    call in a session pays the build's corpus shuffle, every later
    NEAR/phrase query pays only its terms' bucket-pruned postings."""
    import os

    from capex_data_pipeline_spark.extensions.corpus import (
        build_positional_index,
    )

    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    table = f"t_posindex_{base}"
    if not spark.catalog.tableExists(table):
        build_positional_index(
            _t(spark, sf_dir, "documents"),
            table,
            path=f"/root/repo/spark-warehouse/{table}",
        )
    return table


@query(
    "q253_indexed_proximity",
    f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SRCH} AS ws FROM documents),
    {_posting_sql('table', 'pa')},
    {_posting_sql('row', 'pb')},
    j AS (
      SELECT pa2.doc_id, pa_pos, pb_pos
      FROM pa2 JOIN pb2 USING (doc_id)
    ),
    scored AS (
      SELECT doc_id,
             coalesce(CAST(list_sum(list_transform(pa_pos,
               p -> len(list_filter(pb_pos, q -> abs(q - p) <= 5))))
               AS BIGINT), 0) AS n_pairs,
             CAST(list_min(list_transform(pa_pos,
               p -> list_min(list_transform(pb_pos, q -> abs(p - q)))))
               AS BIGINT) AS min_dist
      FROM j
    )
    SELECT doc_id, n_pairs, min_dist FROM scored WHERE n_pairs > 0
    """,
)
def q253_indexed_proximity(spark, sf_dir):
    """Indexed NEAR/5 search for ('table', 'row')
    (corpus.build_positional_index + proximity_from_index): q246's
    exact result computed from the PERSISTED positional index — two
    bucket-pruned term lookups joined on doc_id, then the identical
    pair-window arithmetic on the position lists. The one-shot scan
    (q246) pays the corpus every query; this pays the corpus ONCE at
    build time and O(two terms' postings) per query — the amortized
    search-workload shape at 100 TB (VERDICT r12 task 1). The oracle
    re-derives the postings (per-term sorted position lists), joins
    them, and replays the window probe."""
    from capex_data_pipeline_spark.extensions.corpus import (
        proximity_from_index,
    )

    return proximity_from_index(
        spark, _posindex(spark, sf_dir), "table", "row", window=5
    )


@query(
    "q254_indexed_phrase",
    f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SRCH} AS ws FROM documents),
    {_posting_sql('table', 'pa')},
    {_posting_sql('value', 'pb')},
    j AS (
      SELECT pa2.doc_id, pa_pos, pb_pos
      FROM pa2 JOIN pb2 USING (doc_id)
    ),
    m AS (
      SELECT doc_id,
             list_filter(pa_pos,
                         p -> list_contains(pb_pos, p + 1)) AS st
      FROM j
    )
    SELECT doc_id,
           CAST(len(st) AS INT) AS n_matches,
           CAST(st[1] AS BIGINT) AS first_pos
    FROM m WHERE len(st) > 0
    """,
)
def q254_indexed_phrase(spark, sf_dir):
    """Indexed exact-phrase search for "table value"
    (corpus.phrase_from_index): q131's result from the positional
    index — a 2-way postings join on doc_id (each side bucket-pruned
    to its term) and one higher-order filter keeping first-term
    positions p with the second term at p + 1. Same amortized
    contract as q253: per-query cost is the phrase terms' postings,
    never the corpus. The oracle re-derives postings, joins, and
    replays the adjacency probe (first_pos is BIGINT here — index
    positions are 64-bit; q131's in-scan sequence is INT)."""
    from capex_data_pipeline_spark.extensions.corpus import (
        phrase_from_index,
    )

    return phrase_from_index(
        spark, _posindex(spark, sf_dir), ["table", "value"]
    )


# ------------- q252: incremental personalized PageRank on edge deltas


@query(
    "q252_ppr_incremental",
    f"""
    WITH dir AS (
      SELECT DISTINCT 'c' || o.o_custkey AS a, 's' || l.l_suppkey AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM dir
      UNION
      SELECT b AS src, a AS dst FROM dir
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    verts AS (SELECT src AS v FROM edges UNION SELECT dst AS v FROM edges),
    r0 AS (
      SELECT v, CAST(CASE WHEN v IN ({_PPR_SEEDS_SQL})
                          THEN 1000000 ELSE 0 END AS BIGINT) AS r
      FROM verts
    ),
    i1 AS ({_PPR_ITER.format(prev='r0', seeds=_PPR_SEEDS_SQL)}),
    i2 AS ({_PPR_ITER.format(prev='i1', seeds=_PPR_SEEDS_SQL)}),
    i3 AS ({_PPR_ITER.format(prev='i2', seeds=_PPR_SEEDS_SQL)})
    SELECT v AS vertex, r AS rank_micro FROM i3
    """,
)
def q252_ppr_incremental(spark, sf_dir):
    """Incremental personalized PageRank: an edge-delta batch (~20% of
    the trade graph, the q198 (custkey+suppkey)%5 split) folds into
    the PERSISTED rank trajectory of the remaining 80%
    (state.save_ppr_state / state.ppr_fold_persisted) — per-round
    work is the change frontier, the corpus-sized trajectory streams
    from its vertex buckets with zero state-side Exchange, and the
    result is BIT-IDENTICAL to recomputing all 3 rounds from scratch
    on the merged graph. The oracle IS that from-scratch recompute
    (q245's full unroll over ALL edges), so equality certifies the
    fold exactly like q198 certifies incremental CC: warm rank state
    plus a daily edge batch loses nothing vs re-ranking the whole
    graph (VERDICT r12 task 3)."""
    from capex_data_pipeline_spark.extensions.graph import ppr_trajectory
    from capex_data_pipeline_spark.extensions.state import (
        ppr_fold_persisted,
        save_ppr_graph_state,
        save_ppr_state,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dir_ = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
            ((F.col("o_custkey") + F.col("l_suppkey")) % 5 == 0).alias(
                "is_new"
            ),
        )
        .groupBy("a", "b")
        # a pair is "new" only if EVERY trade on it is in the batch —
        # otherwise the old graph already carried the edge
        .agg(F.min(F.col("is_new").cast("int")).cast("boolean").alias(
            "is_new"
        ))
    )

    def _sym(d):
        return d.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionByName(
            d.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )

    new = _sym(dir_.filter(F.col("is_new")))
    old = _sym(dir_.filter(~F.col("is_new")))
    # "yesterday": trajectory over the old graph, persisted bucketed —
    # built once per SF (the q251 amortization pattern), so the
    # benched median is the DAILY FOLD cost, not yesterday's run
    import os as _os

    base = _os.path.basename(_os.path.normpath(sf_dir)).replace(".", "_")
    table = f"t_state_ppr_q252_{base}"
    if not spark.catalog.tableExists(table):
        traj = ppr_trajectory(
            old, list(_PPR_SEEDS), iterations=3, assume_distinct=True
        )
        save_ppr_state(
            traj,
            table,
            n_buckets=8,
            path=f"/root/repo/spark-warehouse/{table}",
        )
        save_ppr_graph_state(
            old,
            table,
            n_buckets=8,
            path=f"/root/repo/spark-warehouse/{table}",
            assume_distinct=True,
        )
    # "today": the batch folds in — reads ONLY the persisted state
    # (trajectory + degree-annotated edges + degrees); merged = state
    # ∪ batch by construction, so nothing corpus-sized shuffles
    return ppr_fold_persisted(
        spark,
        table,
        new,
        list(_PPR_SEEDS),
        iterations=3,
        assume_distinct=True,
    )


# ------------- q255: positional-index incremental fold (maintenance)


@query(
    "q255_posindex_fold",
    f"""
    WITH toks AS (SELECT doc_id, {_WORDS_SRCH} AS ws FROM documents),
    {_posting_sql('table', 'pa')},
    {_posting_sql('row', 'pb')},
    j AS (
      SELECT pa2.doc_id, pa_pos, pb_pos
      FROM pa2 JOIN pb2 USING (doc_id)
    ),
    scored AS (
      SELECT doc_id,
             coalesce(CAST(list_sum(list_transform(pa_pos,
               p -> len(list_filter(pb_pos, q -> abs(q - p) <= 5))))
               AS BIGINT), 0) AS n_pairs,
             CAST(list_min(list_transform(pa_pos,
               p -> list_min(list_transform(pb_pos, q -> abs(p - q)))))
               AS BIGINT) AS min_dist
      FROM j
    )
    SELECT doc_id, n_pairs, min_dist FROM scored WHERE n_pairs > 0
    """,
)
def q255_posindex_fold(spark, sf_dir):
    """Positional-index MAINTENANCE: the index is built over 80% of
    the corpus (doc_id % 5 != 0 — "yesterday"), then today's 20%
    batch FOLDS in (corpus.build_positional_index mode='append'):
    only the batch tokenizes, its postings append into the same
    term-bucketed table, and the indexed NEAR/5 query then runs over
    the merged postings. Valid because posting rows are per
    (term, doc) and batch doc ids are new — old and new postings are
    disjoint; every term lookup still bucket-prunes. The oracle is
    the full-corpus postings derivation (identical to q253's), so
    equality certifies the fold: daily indexing pays the batch, and
    search results over the folded index lose nothing vs re-indexing
    the corpus."""
    from capex_data_pipeline_spark.extensions.corpus import (
        build_positional_index,
        proximity_from_index,
    )

    docs = _t(spark, sf_dir, "documents")
    table = "t_posindex_fold_q255"
    path = f"/root/repo/spark-warehouse/{table}"
    is_new = F.col("doc_id") % 5 == 0
    build_positional_index(
        docs.filter(~is_new), table, path=path, mode="overwrite"
    )
    build_positional_index(
        docs.filter(is_new), table, path=path, mode="append"
    )
    return proximity_from_index(spark, table, "table", "row", window=5)
