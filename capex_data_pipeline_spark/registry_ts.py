"""Round-7 driver queries: cross-document line dedup, binned range
join, grid resample + forward fill, and unicode normalization.

Same contract as ``registry``: every entry pairs the Spark operator
with a full DuckDB oracle restating the semantics independently
(including any deterministic augmentation of the synthetic corpus, so
the operators are exercised on non-degenerate inputs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from capex_data_pipeline_spark.oracle_frags import (
    LINE_AUG_SQL as _LINE_AUG_SQL,
)
from capex_data_pipeline_spark.registry import _t, query

# ------------------------------------------- cross-document line dedup


@query(
    "q76_crossdoc_lines",
    f"""
    WITH aug AS ({_LINE_AUG_SQL}),
    ex AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(t, chr(10))) + 1),
               i -> {{'pos': i, 'line': string_split(t, chr(10))[i]}})) AS e
      FROM aug
    ), lines AS (
      SELECT doc_id, e.pos AS pos, e.line AS line, trim(e.line) AS key FROM ex
    ), boiler AS (
      SELECT key FROM lines WHERE len(key) >= 8
      GROUP BY key HAVING count(DISTINCT doc_id) >= 2
    ), tagged AS (
      SELECT l.doc_id, l.pos, l.line,
             (b.key IS NOT NULL AND len(l.key) >= 8) AS rm
      FROM lines l LEFT JOIN boiler b ON l.key = b.key
    )
    SELECT doc_id,
           md5(coalesce(string_agg(CASE WHEN NOT rm THEN line END,
                                   chr(10) ORDER BY pos), '')) AS cleaned_md5,
           count(*) AS n_lines,
           sum(CASE WHEN rm THEN 1 ELSE 0 END) AS n_removed
    FROM tagged GROUP BY doc_id
    """,
)
def q76_crossdoc_lines(spark, sf_dir):
    """RefinedWeb-style corpus-level boilerplate removal
    (cleaning.crossdoc_line_stats): a trimmed line appearing in 2+
    DISTINCT documents is removed from all of them (lines under 8
    chars exempt). The augmentation plants the same 2-line boilerplate
    block in every even doc, so the operator removes real cross-doc
    duplicates while per-doc unique lines survive. Cleaned text is
    compared by md5 to keep the frame compact."""
    from capex_data_pipeline_spark.extensions.cleaning import crossdoc_line_stats

    from capex_data_pipeline_spark.registry_cleaning import (
        _line_augmented,
    )

    aug = _line_augmented(_t(spark, sf_dir, "documents"))
    out = crossdoc_line_stats(aug, text_col="t", min_docs=2, min_line_chars=8)
    return out.select(
        "doc_id",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
        "n_lines",
        "n_removed",
    )


# --------------------------------------------------- binned range join


@query(
    "q77_range_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, count(*) AS n_clicks,
           round(sum(c.value), 4) AS click_value_sum
    FROM p JOIN c ON p.user_id = c.user_id
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) <= epoch_us(p.ts)
    GROUP BY 1, 2
    """,
)
def q77_range_join(spark, sf_dir):
    """Bounded interval join (extensions/timeseries.range_join): for
    every purchase, all same-user clicks in the preceding hour,
    aggregated to a per-purchase count + value sum. The operator
    quantizes time into window-width bins so the plan is a plain
    equi-join on (user, bin) with <=2 probe rows per purchase — never
    the all-same-user-pairs theta join the naive formulation shuffles.
    The oracle IS that naive formulation, in DuckDB."""
    from capex_data_pipeline_spark.extensions.timeseries import range_join
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = range_join(
        purchases, clicks, on="user_id", lower=-3600, upper=0, suffix="_c"
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum("value_c"), 4).alias("click_value_sum"),
    )


# ------------------------------------------- grid resample + gap fill


@query(
    "q79_resample_ffill",
    """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch_us(ts) / 1000000.0 / 21600) * 21600 AS BIGINT)
               AS cell,
             ts, value
      FROM events
    ), pc AS (
      SELECT user_id, cell, count(*) AS n_obs,
             (list(value ORDER BY epoch_us(ts) DESC, value DESC))[1]
               AS cell_last
      FROM e GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, min(cell) AS c0, max(cell) AS c1 FROM pc GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(range(c0, c1 + 1, 21600)) AS cell FROM spans
    ), j AS (
      SELECT g.user_id, g.cell, coalesce(pc.n_obs, 0) AS n_obs,
             pc.cell_last, pc.n_obs IS NULL AS filled
      FROM grid g LEFT JOIN pc ON g.user_id = pc.user_id AND g.cell = pc.cell
    )
    SELECT user_id, cell AS cell_s, n_obs,
           round(last_value(cell_last IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY cell), 4) AS value_last,
           filled
    FROM j
    """,
)
def q79_resample_ffill(spark, sf_dir):
    """Fixed-grid resample + forward fill
    (extensions/timeseries.resample_ffill): every user's event stream
    densified onto a 6-hour grid between their first and last
    observation, empty cells carrying the last observed value forward
    — the gap-filling pass feature pipelines run before windowed
    training-feature extraction. Grid emission is sequence()+explode
    (distributed); the fill is one running last(ignore nulls) window;
    a span guard refuses accidental million-cell keys."""
    from capex_data_pipeline_spark.extensions.timeseries import resample_ffill
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    out = resample_ffill(
        ev, on="user_id", time_col="ts", value_col="value", step_seconds=21600
    )
    return out.select(
        "user_id",
        F.col("cell_ts").cast("long").alias("cell_s"),
        "n_obs",
        F.round("value_last", 4).alias("value_last"),
        "filled",
    )


# ---------------------------------------------- unicode normalization

#: decomposed marker planted on every 3rd doc: 'e' + COMBINING ACUTE —
#: byte-distinct from precomposed é but canonically equal after NFC
_DECOMPOSED = " cafe\u0301 creme\u0300"


@query(
    "q80_unicode_normalize",
    f"""
    WITH aug AS (
      SELECT doc_id,
        text || CASE WHEN doc_id % 3 = 0
          THEN ' cafe' || chr(769) || ' creme' || chr(768) ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           md5(nfc_normalize(t)) AS norm_md5,
           (nfc_normalize(t) != t) AS changed,
           len(t) AS n_chars_before,
           len(nfc_normalize(t)) AS n_chars_after
    FROM aug
    """,
    headline=False,
)
def q80_unicode_normalize(spark, sf_dir):
    """Unicode NFC canonicalization (cleaning.normalize_unicode, the
    documented Arrow-pandas-UDF slow path — Spark SQL has no
    normalization builtin): every 3rd doc gains a decomposed
    e+COMBINING-ACUTE sequence, the operator recomposes it, and the
    oracle replays it with DuckDB's independent nfc_normalize. md5 of
    the normalized text pins byte-exact output; changed/char-count
    columns pin the audit signals."""
    from capex_data_pipeline_spark.extensions.cleaning import normalize_unicode

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_DECOMPOSED)).otherwise(
                F.lit("")
            ),
        ).alias("t"),
    )
    out = normalize_unicode(docs, text_col="t")
    return out.select(
        "doc_id",
        F.md5(F.col("text_norm")).alias("norm_md5"),
        "changed",
        "n_chars_before",
        "n_chars_after",
    )


# ------------------------------------- cluster-balanced (diversity) sample

_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    "    * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)

_SAMPLE_HASH = (
    "CAST(('0x' || substr(md5('s0|' || coalesce(CAST({k} AS VARCHAR), '<null>')), 1, 8))"
    " AS BIGINT) / 4294967296.0"
)


@query(
    "q78_cluster_sample",
    f"""
    WITH ctr AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell,
             embedding
      FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
    ), sim AS (
      SELECT e.vec_id, c.cell,
             {_COS.format(a='e.embedding', b='c.embedding')} AS s
      FROM embeddings e, ctr c
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn FROM sim
      ) WHERE rn = 1
    )
    SELECT vec_id, cell FROM (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell
               ORDER BY {_SAMPLE_HASH.format(k='vec_id')} ASC, vec_id ASC) AS rn
      FROM assigned
    ) WHERE rn <= 10
    """,
    headline=False,
)
def q78_cluster_sample(spark, sf_dir):
    """Cluster-balanced diversity sampling
    (similarity.cluster_sample): quantize the embedding space into 16
    deterministic cells (md5-sampled centers — same closed-form
    quantizer as q37) and keep exactly 10 vectors per cell by the
    engine-portable md5 sampling hash — flattening dense regions
    instead of sampling them proportionally. One map-only assignment
    (centers as plan literals) + one WindowGroupLimit rank on the tiny
    cell key; the oracle re-derives center pick → assignment → per-cell
    rank entirely in DuckDB."""
    from capex_data_pipeline_spark.extensions.similarity import cluster_sample

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    return cluster_sample(
        emb, n_per_cell=10, n_cells=16, centers_mode="sample"
    )


# ------------------------------------ weighted sampling (A-ES scheme)


@query(
    "q81_weighted_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY -ln({_SAMPLE_HASH.format(k='doc_id')} + 1.1641532182693481e-10)
                        / n_chars ASC,
                        doc_id ASC) AS rn
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 30
    """,
    headline=False,
)
def q81_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (corpus.weighted_sample, Efraimidis-Spirakis exponential keys):
    30 documents per language drawn with probability proportional to
    length — the 'prefer high-quality docs' curation draw, reproducible
    on any engine because u comes from md5. One WindowGroupLimit
    shuffle on the group key; the oracle re-derives the exponential
    rank keys and per-group selection in DuckDB (u shifted by 2^-33 on
    both sides so u=0 stays finite)."""
    from capex_data_pipeline_spark.extensions.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(
        docs, n=30, weight_col="n_chars", key_col="doc_id", group_col="lang"
    ).select("doc_id", "lang", "n_chars")


# ----------------------------------------------- event analytics family


@query(
    "q82_sessionize",
    """
    WITH o AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) - 1 AS session_id,
           ns = 1 AS is_session_start
    FROM o
    """,
    headline=False,
)
def q82_sessionize(spark, sf_dir):
    """Gap-based sessionization (analytics.sessionize): a 30-minute
    silence starts a new session; every event gets its key's 0-based
    session id. ONE window over (user ORDER BY ts, event_id) — lag for
    gap detection + running sum for numbering — instead of the naive
    events-to-boundaries self-join. The batch complement of q52's
    aggregate-producing native session window."""
    from capex_data_pipeline_spark.extensions.analytics import sessionize
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    return sessionize(
        ev, on="user_id", gap_seconds=1800, tiebreak_col="event_id"
    ).select("event_id", "user_id", "session_id", "is_session_start")


@query(
    "q83_robust_zscore",
    """
    WITH med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1
    ), mad AS (
      SELECT e.user_id, quantile_cont(abs(e.value - med.m), 0.5) AS d
      FROM events e JOIN med USING (user_id) GROUP BY 1
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN mad.d > 0
                THEN round(0.6745 * (e.value - med.m) / mad.d, 4) + 0.0 END AS mzscore,
           CASE WHEN mad.d > 0
                THEN abs(0.6745 * (e.value - med.m) / mad.d) > 3.5 END AS is_outlier
    FROM events e JOIN med USING (user_id) JOIN mad USING (user_id)
    """,
)
def q83_robust_zscore(spark, sf_dir):
    """Per-user modified z-score outliers (analytics.robust_zscore,
    Iglewicz-Hoaglin 0.6745·(x−median)/MAD): robust to the corrupt
    readings that poison mean/stddev. Two exact-percentile aggregations
    over the compact user key + one stats join back (percentile ==
    quantile_cont, the parity q73 established; percentile_approx is the
    documented 100 TB swap)."""
    from capex_data_pipeline_spark.extensions.analytics import robust_zscore
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    out = robust_zscore(ev, on="user_id", value_col="value", threshold=3.5)
    # + 0.0 collapses IEEE negative zero (engines can round a near-zero
    # score to -0.0 vs +0.0)
    return out.select(
        "event_id",
        "user_id",
        (F.round("mzscore", 4) + F.lit(0.0)).alias("mzscore"),
        "is_outlier",
    )


@query(
    "q84_cohort_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS p
      FROM events
    ), first AS (
      SELECT user_id, min(p) AS cohort FROM act GROUP BY 1
    ), counts AS (
      SELECT f.cohort, (a.p - f.cohort) / 7 AS period_offset,
             count(DISTINCT a.user_id) AS n_active
      FROM act a JOIN first f USING (user_id)
      GROUP BY 1, 2
    ), sizes AS (
      SELECT cohort, count(DISTINCT user_id) AS cohort_size
      FROM first GROUP BY 1
    )
    SELECT c.cohort, c.period_offset, c.n_active, s.cohort_size,
           round(c.n_active / s.cohort_size::DOUBLE, 6) AS retention
    FROM counts c JOIN sizes s USING (cohort)
    """,
    headline=False,
)
def q84_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle (analytics.cohort_retention):
    users grouped by first-active ISO week, activity counted at each
    week offset, retention = active/cohort_size. Distinct-activity
    projection + two aggregations + one tiny-frame join — two shuffles
    on compact keys; both engines truncate weeks to ISO Monday."""
    from capex_data_pipeline_spark.extensions.analytics import cohort_retention
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    return cohort_retention(ev, on="user_id", period="week")


@query(
    "q85_funnel",
    """
    WITH e AS (
      SELECT user_id AS k, event_type AS e, epoch_us(ts) / 1000000.0 AS t
      FROM events
    ), s1 AS (
      SELECT k, min(t) AS t1 FROM e WHERE e = 'view' GROUP BY 1
    ), s2 AS (
      SELECT e.k, s1.t1, min(e.t) AS t2
      FROM e JOIN s1 ON e.k = s1.k
      WHERE e.e = 'click' AND e.t >= s1.t1 AND e.t <= s1.t1 + 86400
      GROUP BY e.k, s1.t1
    ), s3 AS (
      SELECT e.k, min(e.t) AS t3
      FROM e JOIN s2 ON e.k = s2.k
      WHERE e.e = 'purchase' AND e.t >= s2.t2 AND e.t <= s2.t1 + 86400
      GROUP BY e.k
    )
    SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n_reached
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
)
def q85_funnel(spark, sf_dir):
    """Ordered conversion funnel (analytics.funnel): earliest view,
    then earliest click at-or-after it, then earliest purchase
    at-or-after that — all within 24 h of the first view. k−1 compact
    aggregate+join rounds per step (never a per-key event list, which
    caps at executor memory on hot keys). The query reports the
    no-null summary triangle: users reaching each step."""
    from capex_data_pipeline_spark.extensions.analytics import funnel
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    per_key = funnel(
        ev, ["view", "click", "purchase"], within_seconds=86400.0
    )
    counts = per_key.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"),
                    F.lit("view").alias("step_name"),
                    F.col("n1").alias("n_reached"),
                ),
                F.struct(
                    F.lit(2).alias("step"),
                    F.lit("click").alias("step_name"),
                    F.col("n2").alias("n_reached"),
                ),
                F.struct(
                    F.lit(3).alias("step"),
                    F.lit("purchase").alias("step_name"),
                    F.col("n3").alias("n_reached"),
                ),
            )
        ).alias("s")
    ).select("s.step", "s.step_name", "s.n_reached")


# --------------------------------------------- JSONL source round-trip


@query(
    "q86_jsonl_roundtrip",
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 4) AS value_sum,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
    headline=False,
)
def q86_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink -> source round-trip under the driver's value gate
    (sources/jsonl.py): events written as JSON-lines, read back with
    an EXPLICIT schema (never inference at scale) in PERMISSIVE mode
    with corrupt-record capture declared, then aggregated. The oracle
    aggregates the source parquet directly — value equality proves the
    round-trip lost nothing. Doubles survive exactly: Spark writes
    shortest-round-trip representations and reads them back to the
    same IEEE value."""
    import os
    import tempfile

    from capex_data_pipeline_spark.sources.jsonl import read_jsonl, write_jsonl
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"capex_q86_jsonl_{os.path.basename(sf_dir)}"
    )
    write_jsonl(ev, path)
    back = read_jsonl(
        spark, path, "event_id long, user_id long, event_type string, value double"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ------------------------------------------------ bigram PMI collocations

_WORDS_TS = (
    "list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
)


@query(
    "q87_bigram_pmi",
    f"""
    WITH w AS (SELECT {_WORDS_TS} AS ws FROM documents),
    uc AS (
      SELECT t, count(*) AS c FROM (SELECT unnest(ws) AS t FROM w) GROUP BY 1
    ), pc AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS pair_count
      FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
                 i -> {{'w1': ws[i], 'w2': ws[i+1]}})) AS p
        FROM w WHERE len(ws) >= 2
      ) GROUP BY 1, 2
    ), tot AS (
      SELECT (SELECT sum(c) FROM uc) AS t_total,
             (SELECT sum(pair_count) FROM pc) AS b_total
    )
    SELECT pc.w1, pc.w2, pc.pair_count,
           round(log2((pc.pair_count::DOUBLE / tot.b_total)
                 / ((c1.c::DOUBLE / tot.t_total) * (c2.c::DOUBLE / tot.t_total))),
                 4) + 0.0 AS pmi
    FROM pc, tot
    JOIN uc c1 ON pc.w1 = c1.t
    JOIN uc c2 ON pc.w2 = c2.t
    WHERE pc.pair_count >= 5
    """,
)
def q87_bigram_pmi(spark, sf_dir):
    """Collocation mining (corpus.bigram_pmi): PMI of adjacent
    normalized-word pairs from corpus-wide counts, pruned at
    pair_count >= 5 — totals taken over the UNPRUNED distributions.
    One words projection feeds both explode+aggregates; the persisted
    vocab-sized unigram frame joins the pair frame twice; totals ride
    as a 1-row broadcast. The oracle re-derives unigram/bigram
    distributions and the log-ratio in DuckDB."""
    from capex_data_pipeline_spark.extensions.corpus import bigram_pmi

    docs = _t(spark, sf_dir, "documents")
    out = bigram_pmi(docs, min_pair_count=5)
    # + 0.0 collapses IEEE negative zero (a true-PMI ~0 can round to
    # -0.0 on one engine and +0.0 on the other)
    return out.select(
        "w1", "w2", "pair_count", (F.round("pmi", 4) + F.lit(0.0)).alias("pmi")
    )


# ------------------------------------------ trailing time-range window


@query(
    "q88_rolling_window",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS rolling_n,
           round(sum(value) OVER w, 4) AS rolling_sum,
           round(max(value) OVER w, 4) AS rolling_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    headline=False,
)
def q88_rolling_window(spark, sf_dir):
    """Trailing 1-hour per-user aggregates on every event
    (analytics.rolling_window): a RANGE-framed window over the epoch
    ordering — one shuffle + an O(n) sliding frame per key, never the
    O(n·w) self-join. Timestamp peers share the frame in both engines
    (SQL RANGE semantics), so the oracle is DuckDB's native
    RANGE BETWEEN INTERVAL window."""
    from capex_data_pipeline_spark.extensions.analytics import rolling_window
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    out = rolling_window(ev, window_seconds=3600.0)
    return out.select(
        "event_id",
        "user_id",
        "rolling_n",
        F.round("rolling_sum", 4).alias("rolling_sum"),
        F.round("rolling_max", 4).alias("rolling_max"),
    )


# --------------------------------- hashed linear classifier scoring

#: deterministic 64-bucket integer-milli weight vector (the "model")
_W89 = [((i * 2654435761) % 1001) - 500 for i in range(64)]


@query(
    "q89_linear_classifier",
    f"""
    WITH wts AS (SELECT {list(_W89)}::BIGINT[] AS a),
    w AS (SELECT doc_id, list_filter({_WORDS_TS}, x -> x <> '') AS ws
          FROM documents)
    SELECT w.doc_id,
           coalesce(list_sum(list_transform(w.ws,
             wd -> wts.a[(CAST(('0x' || substr(md5(wd), 1, 8)) AS BIGINT) % 64) + 1]
           )), 0) AS score_milli,
           len(w.ws) AS n_terms,
           coalesce(list_sum(list_transform(w.ws,
             wd -> wts.a[(CAST(('0x' || substr(md5(wd), 1, 8)) AS BIGINT) % 64) + 1]
           )), 0) > 0 AS keep
    FROM w, wts
    """,
    headline=False,
)
def q89_linear_classifier(spark, sf_dir):
    """Hashed bag-of-words linear classifier inference
    (textstats.hashed_linear_score) — the fastText/DCLM quality-scoring
    pattern as pure columnar compute: words md5-hash into 64 buckets,
    the weight vector is a plan literal in integer milli-units, the
    document score an exact BIGINT sum (zero cross-engine float
    drift). Map-only, whole-stage codegen, no UDF; the oracle replays
    hash, bucket lookup, and sum in DuckDB."""
    from capex_data_pipeline_spark.extensions.textstats import (
        hashed_linear_score,
    )

    docs = _t(spark, sf_dir, "documents")
    cols = hashed_linear_score(F.col("text"), _W89)
    return docs.select(
        "doc_id",
        cols["score_milli"].alias("score_milli"),
        cols["n_terms"].alias("n_terms"),
        (cols["score_milli"] > 0).alias("keep"),
    )


# --------------------------------------------------- unpivot / melt


@query(
    "q26_unpivot_melt",
    """
    WITH m AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS v FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure, round(sum(v), 2) AS total, count(*) AS n
    FROM m GROUP BY 1, 2
    """,
    headline=False,
)
def q26_unpivot_melt(spark, sf_dir):
    """Wide-to-long reshaping with the native unpivot (melt) operator —
    the inverse of q09's pivot and the missing half of the reshape
    surface. Unpivot is a zero-shuffle projection (each row fans out
    to one row per measure map-side); the aggregate then shuffles on
    the compact (flag, measure) key. The oracle restates the melt as
    UNION ALL branches."""
    from capex_data_pipeline_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="v",
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.round(F.sum("v"), 2).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


# ------------------------------------------ fuzzy entity matching

_TRIGRAM_NORM = (
    "trim(regexp_replace(lower(coalesce(p_name, '')), '[^a-z0-9]+', ' ', 'g'))"
)
_TRIGRAMS = f"""
  CASE WHEN len({_TRIGRAM_NORM}) < 3 THEN [{_TRIGRAM_NORM}]
       ELSE list_distinct(list_transform(range(1, len({_TRIGRAM_NORM}) - 1),
                          i -> {_TRIGRAM_NORM}[i:i+2]))
  END
"""


@query(
    "q18_fuzzy_match",
    f"""
    WITH g AS (SELECT p_partkey AS id, unnest({_TRIGRAMS}) AS gm FROM part),
    n AS (SELECT id, count(*) AS ng FROM g GROUP BY 1),
    shared AS (
      SELECT a.id AS p1, b.id AS p2, count(*) AS sh
      FROM g a JOIN g b ON a.gm = b.gm AND a.id <> b.id
      GROUP BY 1, 2
    ), scored AS (
      SELECT s.p1, s.p2,
             s.sh::DOUBLE / (n1.ng + n2.ng - s.sh) AS j
      FROM shared s JOIN n n1 ON s.p1 = n1.id JOIN n n2 ON s.p2 = n2.id
    )
    SELECT p1, p2, round(j, 4) AS jaccard FROM (
      SELECT p1, p2, j,
             row_number() OVER (PARTITION BY p1 ORDER BY j DESC, p2 ASC) AS rn
      FROM scored WHERE j >= 0.5
    ) WHERE rn = 1
    """,
)
def q18_fuzzy_match(spark, sf_dir):
    """Entity resolution without keys
    (matching.fuzzy_self_best_match): every part's BEST
    trigram-Jaccard match among other parts (threshold 0.5, ties to
    the smallest key). The operator never materializes row pairs:
    Jaccard depends only on the normalized name, so candidates,
    verification, and the top-1 election all run over DISTINCT names
    (64 at every SF of this corpus, entity-count-sized in general) —
    rows appear only in the per-name min-2 WindowGroupLimit and the
    final name-keyed join. The oracle independently ranks the full
    row-pair graph; matching it proves the name-level election
    equivalent. Jaccard values are exact small-int rationals, so
    cross-engine ordering is exact."""
    from capex_data_pipeline_spark.extensions.matching import (
        fuzzy_self_best_match,
    )
    from capex_data_pipeline_spark.sources.parquet import read_table

    part = read_table(spark, sf_dir, "part")
    return fuzzy_self_best_match(
        part.select(F.col("p_partkey").alias("p1"), "p_name"),
        "p1",
        "p_name",
        threshold=0.5,
    ).select(
        "p1",
        F.col("best_id").alias("p2"),
        F.round("jaccard", 4).alias("jaccard"),
    )


# ------------------------------------------- SCD2 dimension history


@query(
    "q08_scd2",
    """
    WITH o AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER w AS prev_t, lag(ts) OVER w AS prev_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), chg AS (
      SELECT user_id, ts, event_type FROM o
      WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_t
    )
    SELECT user_id, event_type AS state,
           epoch_us(ts) AS valid_from_us,
           coalesce(epoch_us(lead(ts) OVER w2), -1) AS valid_to_us,
           lead(ts) OVER w2 IS NULL AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
    """,
    headline=False,
)
def q08_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 history
    (analytics.scd2_intervals): each user's event-type change log
    collapsed into validity intervals (consecutive duplicates merged,
    open current interval). One keyed window: lag drops no-change
    rows, lead closes intervals — the warehouse dimension-history
    build. valid_to is the -1 sentinel for the open interval (keeps
    the compared frame free of nullable timestamps)."""
    from capex_data_pipeline_spark.extensions.analytics import scd2_intervals
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    out = scd2_intervals(
        ev, on="user_id", value_col="event_type", tiebreak_col="event_id"
    )
    return out.select(
        "user_id",
        "state",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias(
            "valid_from_us"
        ),
        F.coalesce(
            F.unix_micros(F.col("valid_to").cast("timestamp")), F.lit(-1)
        ).alias("valid_to_us"),
        "is_current",
    )


# --------------------------------------------------------- CUBE


@query(
    "q13_cube",
    """
    SELECT l_returnflag, l_linestatus,
           2 * grouping(l_returnflag) + grouping(l_linestatus) AS gid,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    headline=False,
)
def q13_cube(spark, sf_dir):
    """CUBE grouping sets (completing the q28 ROLLUP surface): all
    2^k aggregation granularities in ONE pass — Spark expands the
    grouping sets map-side and shares a single shuffle, the
    at-scale alternative to unioning 4 separate GROUP BYs.
    grouping() bits disambiguate subtotal rows from null data."""
    from capex_data_pipeline_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (
            F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
        ).alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


# ------------------------------------- map-style per-key aggregation


@query(
    "q17_type_count_map",
    """
    WITH c AS (
      SELECT user_id, event_type AS t, count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           string_agg(t || ':' || cnt, ',' ORDER BY t) AS type_counts,
           count(*) AS n_types,
           (list(t ORDER BY cnt DESC, t ASC))[1] AS top_type
    FROM c GROUP BY user_id
    """,
    headline=False,
)
def q17_type_count_map(spark, sf_dir):
    """Per-key map-style aggregation: each user's event-type histogram
    as a canonical sorted 'type:count' string (the comparable
    serialization of a map<string,long> column — map columns
    themselves have no cross-engine ordering), plus the dominant type
    (max count, ties alphabetical via sort on (-cnt, type)). Two
    compact-key hash aggregations."""
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return c.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("t"), F.col("cnt")))),
                lambda x: F.concat_ws(":", x["t"], x["cnt"].cast("string")),
            ),
            ",",
        ).alias("type_counts"),
        F.count(F.lit(1)).alias("n_types"),
        F.element_at(
            F.array_sort(
                F.collect_list(F.struct((-F.col("cnt")).alias("nc"), F.col("t")))
            ),
            1,
        )["t"].alias("top_type"),
    )


# -------------------------- left-outer attribution (batch of q5x family)


@query(
    "q57_attribution_outer",
    """
    SELECT l.user_id,
           l.event_id AS l_event_id,
           coalesce(r.event_id, -1) AS r_event_id,
           epoch_us(l.ts) AS l_ts_us,
           coalesce(epoch_us(r.ts), -1) AS r_ts_us,
           coalesce(round(CAST(CAST(r.value AS DECIMAL(18,6))
                      - CAST(l.value AS DECIMAL(18,6)) AS DOUBLE), 2), 0.0)
             AS value_delta,
           r.event_id IS NOT NULL AS matched
    FROM (SELECT * FROM events WHERE event_type = 'view') l
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND epoch_us(r.ts) >= epoch_us(l.ts)
     AND epoch_us(r.ts) <= epoch_us(l.ts) + 3600000000
    """,
    headline=False,
)
def q57_attribution_outer(spark, sf_dir):
    """LEFT OUTER interval join, batch form (streaming's
    attribution_join(how='left_outer') — the semantics whose
    watermark-driven streaming twin is pinned in test_streaming):
    every view keeps a row even with no purchase in its hour, with -1
    / 0.0 sentinels so the compared frame stays free of nullable
    bigints/doubles. The matched flag preserves the null information
    exactly."""
    from capex_data_pipeline_spark.streaming.windows import attribution_join
    from capex_data_pipeline_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "events")
    out = attribution_join(e, e, how="left_outer")
    return out.select(
        "user_id",
        "l_event_id",
        F.coalesce(F.col("r_event_id"), F.lit(-1)).alias("r_event_id"),
        "l_ts_us",
        F.coalesce(F.col("r_ts_us"), F.lit(-1)).alias("r_ts_us"),
        F.coalesce(F.col("value_delta"), F.lit(0.0)).alias("value_delta"),
        F.col("r_event_id").isNotNull().alias("matched"),
    )


# ---------------------------------------- top-N + OTHER share report


@query(
    "q12_share_report",
    """
    WITH c AS (
      SELECT event_type, count(*) AS n, round(sum(value), 2) AS v
      FROM events GROUP BY 1
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY n DESC, event_type ASC) AS rn
      FROM c
    ), tot AS (SELECT sum(n) AS tn, sum(v) AS tv FROM c),
    bucketed AS (
      SELECT CASE WHEN rn <= 3 THEN event_type ELSE 'OTHER' END AS bucket,
             n, v FROM ranked
    )
    SELECT b.bucket, sum(b.n) AS n_events,
           round(sum(b.v), 2) AS value_sum,
           round(sum(b.n)::DOUBLE / t.tn, 6) AS share_events,
           round(sum(b.v) / t.tv, 6) AS share_value
    FROM bucketed b, tot t
    GROUP BY b.bucket, t.tn, t.tv
    """,
    headline=False,
)
def q12_share_report(spark, sf_dir):
    """Top-3 + OTHER share report: event types ranked by volume, the
    tail folded into an OTHER bucket, with each bucket's share of
    events and value — the reporting shape every dashboard query
    reduces to. The grand total rides as a 1-row broadcast (never a
    second scan); the top-3 pick is TakeOrderedAndProject (per-partition
    heap, no single-partition sort of the distinct-type frame — the
    ordering `n desc, event_type asc` is total, so limit(3) selects the
    same winners row_number would), and the fold is a broadcast join of
    the 3-row winner frame."""
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v")
    )
    top3 = (
        c.orderBy(F.col("n").desc(), F.col("event_type").asc())
        .limit(3)
        .select("event_type", F.lit(True).alias("_top"))
    )
    tot = c.agg(F.sum("n").alias("tn"), F.sum("v").alias("tv"))
    bucketed = (
        c.join(F.broadcast(top3), "event_type", "left")
        .select(
            F.when(F.col("_top"), F.col("event_type"))
            .otherwise(F.lit("OTHER"))
            .alias("bucket"),
            "n",
            "v",
        )
    )
    return (
        bucketed.groupBy("bucket")
        .agg(F.sum("n").alias("n_events"), F.round(F.sum("v"), 2).alias("value_sum"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_events",
            "value_sum",
            F.round(F.col("n_events") / F.col("tn"), 6).alias("share_events"),
            F.round(F.col("value_sum") / F.col("tv"), 6).alias("share_value"),
        )
    )


# ------------------------------- correlated subqueries via the SQL API


#: one definition, run verbatim by BOTH engines — the whole point of
#: the q29 check; a drifting copy would compare two different queries
_Q29_SQL = """
    SELECT o.o_custkey, count(*) AS n_big_orders,
           round(sum(o.o_totalprice), 2) AS big_total
    FROM orders o
    WHERE o.o_totalprice > (
            SELECT 1.5 * avg(i.o_totalprice) FROM orders i
            WHERE i.o_custkey = o.o_custkey)
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 30)
    GROUP BY 1
    """


@query("q29_correlated_subquery", _Q29_SQL, headline=False)
def q29_correlated_subquery(spark, sf_dir):
    """SQL-API surface: a correlated scalar subquery (orders 50% above
    the customer's own average) plus a correlated EXISTS (any line with
    quantity >= 30), written as plain SQL over registered views.
    Catalyst DECORRELATES both into aggregate + joins (no per-row
    subquery execution — the plan contains ordinary joins, pinned in
    test_plans); DuckDB runs the same text verbatim, so the oracle is
    the query itself."""
    from capex_data_pipeline_spark.sources.parquet import read_table

    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q29_SQL)


# --- q175: exact global running total (two-phase prefix sum)


@query(
    "q175_global_running_sum",
    """
    SELECT event_id, ts, value,
           sum(coalesce(CAST(round(value * 100) AS BIGINT), 0))
             OVER (ORDER BY ts, event_id) / 100.0 AS running_total
    FROM events
    """,
)
def q175_global_running_sum(spark, sf_dir):
    """Exact GLOBAL running total over the event stream in (ts,
    event_id) order (timeseries.global_running_sum) — the primitive a
    naive port writes as ``sum() OVER (ORDER BY ts)``, which funnels
    the whole table through ONE task (planlint bans exactly that
    plan). The scalable form is the classic two-phase prefix sum: one
    hash aggregate onto per-DAY sums, a calendar-bounded driver
    cumulation broadcast back as offsets, and a window PARTITIONED by
    day for the within-bucket cumsum — running = offset + local cum.
    Values are quantized to integer cents before summing (float
    cumulative sums are association-sensitive: a segment-tree window
    and a sequential fold can differ in the last ulp; integer sums are
    bit-exact under ANY association, which is what lets the oracle's
    single global window certify the distributed two-phase plan
    value-for-value on all 100k rows)."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        global_running_sum,
    )
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    return global_running_sum(
        ev,
        F.col("value"),
        order_by=["ts", "event_id"],
        bucket=F.date_trunc("day", F.col("ts")),
    )


# --- q182: 2-D skyline (pareto frontier) via two-phase prefix max


@query(
    "q182_skyline",
    """
    SELECT a.o_orderkey, a.o_orderdate, a.o_totalprice
    FROM orders a
    WHERE a.o_orderdate IS NOT NULL AND a.o_totalprice IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM orders b
        WHERE b.o_orderdate IS NOT NULL AND b.o_totalprice IS NOT NULL
          AND b.o_orderdate <= a.o_orderdate
          AND b.o_totalprice >= a.o_totalprice
          AND (b.o_orderdate < a.o_orderdate
               OR b.o_totalprice > a.o_totalprice)
      )
    """,
)
def q182_skyline(spark, sf_dir):
    """Pareto frontier of the order book (analytics.skyline2d):
    orders no other order beats on BOTH "earlier" and "larger" —
    the 2-D skyline, i.e. the trade-off-free selection cut. The
    engine computes it as a strict prefix-max in date order
    distributed the q175 way (distinct-(month, date) aggregate,
    month offsets cumulated driver-side and broadcast, within-month
    window partitioned by month) — one compact aggregate + one
    bounded window instead of the quadratic dominance self-join the
    oracle certifies against (NOT EXISTS over all pairs)."""
    from capex_data_pipeline_spark.extensions.analytics import skyline2d

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return skyline2d(
        orders,
        "o_orderdate",
        "o_totalprice",
        F.date_trunc("month", F.col("o_orderdate")),
    )


# --- q197: per-group OLS trend from exact sufficient statistics


@query(
    "q197_group_trend",
    """
    WITH b AS (
      SELECT event_type AS g,
             CAST(extract(hour FROM ts) AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    s AS (
      SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM b GROUP BY g
    )
    SELECT g AS event_type, n,
           round((n * sxy - sx * sy)::DOUBLE
                 / nullif(n * sxx - sx * sx, 0)::DOUBLE / 100.0, 6)
             AS slope,
           round((sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                                / nullif(n * sxx - sx * sx, 0)::DOUBLE)
                               * sx::DOUBLE)
                 / n::DOUBLE / 100.0, 6) AS intercept,
           round(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE)
                 / nullif((n * sxx - sx * sx)::DOUBLE
                          * (n * syy - sy * sy)::DOUBLE, 0.0), 6) AS r2
    FROM s
    """,
)
def q197_group_trend(spark, sf_dir):
    """Per-event-type OLS trend of value over hour-of-day
    (analytics.group_linear_trend): slope, intercept, r² from the
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) in ONE
    algebraic aggregate — map-side combinable, day-over-day
    mergeable like q184's cells, which is what a 100 TB drift scan
    needs. y is quantized to integer cents (the q175 trick) and x is
    integral, so every statistic is an exact BIGINT and the closed
    forms divide exactly-known integers — the oracle reproduces
    every double bit-for-bit. Constant-x groups return NULL rather
    than ±inf."""
    from capex_data_pipeline_spark.extensions.analytics import (
        group_linear_trend,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return group_linear_trend(
        ev, "event_type", F.hour("ts"), F.col("value"), cents=2
    )


# ---- q202: ordered funnel conversion


@query(
    "q202_funnel",
    """
    WITH t1 AS (
      SELECT user_id AS u, min(ts) AS t FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1
    ),
    t2 AS (
      SELECT e.user_id AS u, min(e.ts) AS t FROM events e
      JOIN t1 ON e.user_id = t1.u
      WHERE e.event_type = 'click' AND e.ts > t1.t GROUP BY 1
    ),
    t3 AS (
      SELECT e.user_id AS u, min(e.ts) AS t FROM events e
      JOIN t2 ON e.user_id = t2.u
      WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1
    ),
    c AS (
      SELECT 1 AS step_idx, 'view' AS step,
             (SELECT count(*) FROM t1) AS n
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM t2)
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM t3)
    )
    SELECT step_idx, step, n::BIGINT AS n_users,
           round(n / (first_value(n) OVER (ORDER BY step_idx))::DOUBLE, 6)
             AS conversion,
           round(CASE WHEN lag(n) OVER (ORDER BY step_idx) IS NULL THEN 0.0
                      ELSE 1.0 - n / (lag(n) OVER (ORDER BY step_idx))::DOUBLE
                 END, 6) AS drop_off
    FROM c
    """,
)
def q202_funnel(spark, sf_dir):
    """Ordered funnel REPORT over the event stream
    (timeseries.funnel_report) — the per-step aggregate complement of
    q85's per-key frontier frame, with the STRICTER tie convention
    pinned (q85 matches at-or-after; this requires strictly-after, so
    same-timestamp events never count as progress): users reaching
    view, then click strictly after their first view, then purchase
    strictly after that first qualifying click — first-touch anchors,
    per-step conversion vs the funnel top and drop-off vs the
    previous step. One user-keyed min-aggregate + join per
    step (the step list is metadata); the conversion window runs over
    the 3-row count frame. The oracle restates the anchor chain as
    three dependent CTEs and the same window arithmetic."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        funnel_report,
    )

    ev = _t(spark, sf_dir, "events")
    return funnel_report(
        ev, "user_id", "event_type", "ts",
        steps=["view", "click", "purchase"],
    )


# ---- q203: Markov transition matrix


@query(
    "q203_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS e,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nx
      FROM events WHERE user_id IS NOT NULL
    ),
    pairs AS (
      SELECT e, nx, count(*)::BIGINT AS n
      FROM seq WHERE nx IS NOT NULL GROUP BY 1, 2
    )
    SELECT e AS event_type, nx AS next_event_type, n,
           round(n / (sum(n) OVER (PARTITION BY e))::DOUBLE, 6) AS p
    FROM pairs
    """,
)
def q203_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (timeseries.transition_matrix): count and
    P(next | current) for every event-type pair, sequenced by
    (ts, event_id) within user so same-timestamp ties replay
    identically on any engine. One user-partitioned lead() window
    (per-task state = one user's events), one hash aggregate on the
    compact pair key, one metadata-domain conditional-total window.
    The oracle restates the lead, the pair counts, and the
    conditional normalization."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        transition_matrix,
    )

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(
        ev, "user_id", "event_type", "ts", "event_id"
    )


# ---- q212: interval overlap join


@query(
    "q212_interval_overlap_join",
    """
    WITH base AS (
      SELECT user_id, event_id, event_type,
             epoch_ms(ts) AS s,
             epoch_ms(ts) + CAST(round(value * 60000) AS BIGINT) AS e
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    ),
    l AS (SELECT * FROM base WHERE event_type = 'view'),
    r AS (SELECT * FROM base WHERE event_type = 'purchase')
    SELECT l.user_id,
           l.event_id AS event_id_l,
           r.event_id AS event_id_r,
           (least(l.e, r.e) - greatest(l.s, r.s))::BIGINT AS overlap
    FROM l JOIN r
      ON l.user_id = r.user_id AND l.s <= r.e AND r.s <= l.e
    """,
)
def q212_interval_overlap_join(spark, sf_dir):
    """Interval × interval overlap join
    (timeseries.interval_overlap_join): every (view, purchase) pair of
    the same user whose activity intervals [ts, ts + value minutes] overlap,
    with the exact overlap in milliseconds — the two-sided
    generalization of q77's point-in-window range join. Both sides
    explode onto a 30-minute grid and join on the compound (user, bin)
    key — near-in-time pairs only, hot users spread across their bins,
    a loud raise_error guard on intervals covering too many bins —
    then the exact overlap predicate filters and DISTINCT collapses
    multi-bin meetings. The oracle is the direct theta join the
    bucketing provably equals."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        interval_overlap_join,
    )

    ev = _t(spark, sf_dir, "events")
    s = F.unix_millis(F.col("ts"))

    def iv(t):
        return ev.filter(F.col("event_type") == t).select(
            "user_id",
            "event_id",
            s.alias("s"),
            (s + F.round(F.col("value") * 60000).cast("long")).alias("e"),
        )

    return interval_overlap_join(
        iv("view"), iv("purchase"), "user_id", "event_id", "s", "e",
        bin_width=1_800_000,
    )


# ---- q213: session path analysis


@query(
    "q213_session_paths",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts, event_id,
             sum(ns) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS sid
      FROM seq
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY 1, 2
    )
    SELECT path, count(*)::BIGINT AS n_sessions FROM paths GROUP BY 1
    """,
)
def q213_session_paths(spark, sf_dir):
    """Whole-journey path frequencies (timeseries.session_paths):
    gap-sessionize with q82's exact strict-gap machinery (30-minute
    inactivity, (ts, event_id) tie-break), render each session's
    ordered event types as a '>'-joined path, count sessions per
    path — q82 says which rows share a session, q203 gives one-step
    transitions, this gives the full journeys. The per-session
    collect is bounded by the inactivity gap (the one honest
    collect_list), sorted inside the aggregate. The oracle replays
    the strict-gap flag, the running session id, and the ordered
    string_agg."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        session_paths,
    )

    ev = _t(spark, sf_dir, "events")
    return session_paths(
        ev, "user_id", "event_type", "ts", "event_id",
        gap_seconds=1800,
    )


# ---- q216: ORC sink -> source round-trip


@query(
    "q216_orc_roundtrip",
    """
    SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
           round(sum(o_totalprice), 4) AS total_value,
           count(DISTINCT o_custkey)::BIGINT AS n_customers
    FROM orders GROUP BY 1
    """,
)
def q216_orc_roundtrip(spark, sf_dir):
    """ORC sink -> source round-trip under the driver's value gate
    (sources/orc.py): orders written as ORC, read back with an
    EXPLICIT schema (the q86 JSONL convention — inference is an extra
    full pass at scale), then aggregated. The oracle aggregates the
    source parquet directly, so value equality proves the second
    columnar format loses nothing — doubles, longs, and strings all
    survive bit-for-bit. ORC gets parquet's same pushdown/pruning
    treatment from Spark's native reader."""
    import os
    import tempfile

    from capex_data_pipeline_spark.sources.orc import read_orc, write_orc
    from capex_data_pipeline_spark.sources.parquet import read_table

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"capex_q216_orc_{os.path.basename(sf_dir)}"
    )
    write_orc(o, path)
    back = read_orc(
        spark, path,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_value"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


# ---- q217: robust (median/IQR) feature scaling


@query(
    "q217_robust_scale",
    """
    WITH v AS (
      SELECT event_id, event_type, value::DOUBLE AS value FROM events
    ),
    q AS (
      SELECT event_type,
             quantile_disc(value, 0.25) AS q1,
             quantile_disc(value, 0.5) AS med,
             quantile_disc(value, 0.75) AS q3
      FROM v WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT v.event_id, v.event_type, v.value,
           round((v.value - q.med) / nullif(q.q3 - q.q1, 0.0), 6) AS scaled
    FROM v JOIN q USING (event_type)
    """,
)
def q217_robust_scale(spark, sf_dir):
    """Median/IQR robust scaling of event values per type
    (analytics.robust_scale — sklearn's RobustScaler, distributed):
    quartiles are EXACT discrete-rank data values from the q187
    grouped targeted selection (no per-group sort), the groups-sized
    stats frame broadcasts, and the transform is map-side. The
    outlier-immune normalizer q83's z-score family can't be when the
    contamination drags the mean. The oracle replays quantile_disc
    quartiles (the pinned shared rank convention) and the transform
    row for row."""
    from capex_data_pipeline_spark.extensions.analytics import robust_scale

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return robust_scale(ev, "event_type", "value")


# ---- q220: one-pass Poisson-bootstrap SE of the mean


@query(
    "q220_bootstrap_se",
    """
    WITH base AS (
      SELECT event_type AS g, CAST(event_id AS VARCHAR) AS k,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events
      WHERE value IS NOT NULL AND event_id IS NOT NULL
    ),
    rep AS (
      SELECT g, k, x, j.j AS j,
             CAST(('0x' || substr(md5('bs|' || k || '|' || CAST(j.j AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 AS u
      FROM base, (SELECT unnest(range(0, 16)) AS j) j
    ),
    w AS (SELECT g, j, x, CASE WHEN u < 0.36787944117144233 THEN 0 WHEN u < 0.7357588823428847 THEN 1 WHEN u < 0.9196986029286058 THEN 2 WHEN u < 0.9810118431238462 THEN 3 WHEN u < 0.9963401531726563 THEN 4 WHEN u < 0.9994058151824183 THEN 5 WHEN u < 0.9999167588507119 THEN 6 WHEN u < 0.9999897508033253 THEN 7 ELSE 8 END AS w FROM rep),
    sums AS (
      SELECT g, j, sum(w * x)::BIGINT AS sx, sum(w)::BIGINT AS sw
      FROM w GROUP BY 1, 2
      HAVING sum(w) > 0
    ),
    means AS (SELECT g, sx / sw::DOUBLE AS m FROM sums),
    mbar AS (SELECT g, avg(m) AS mb FROM means GROUP BY 1),
    se AS (
      SELECT means.g, count(*)::BIGINT AS r_eff,
             sqrt(sum((m - mb) * (m - mb)) / (count(*) - 1)::DOUBLE) AS se
      FROM means JOIN mbar ON means.g = mbar.g GROUP BY 1
    ),
    plain AS (
      SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS tx
      FROM base GROUP BY 1
    )
    SELECT p.g AS event_type, p.n,
           round(p.tx / p.n::DOUBLE / 100.0, 6) AS mean,
           round(se.se / 100.0, 6) AS boot_se,
           se.r_eff AS n_replicates
    FROM plain p JOIN se ON p.g = se.g
    """,
)
def q220_bootstrap_se(spark, sf_dir):
    """Poisson-bootstrap standard error of the per-event-type mean
    value (analytics.bootstrap_mean_se — the streaming bootstrap,
    Chamandy et al.): 16 deterministic Poisson(1) weights per row
    from the md5 inverse-CDF (identical literal cut points on both
    engines, weight capped at 8) give 16 replicate means from ONE
    scan + one (group, replicate) aggregate — the uncertainty number
    a mean can't honestly ship without. Replicate means are ratios of
    cents-exact BIGINTs; the SE uses the two-pass centered form (no
    catastrophic cancellation). The oracle replays hashes, weights,
    replicate means, and the SE."""
    from capex_data_pipeline_spark.extensions.analytics import (
        bootstrap_mean_se,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    # 16 md5 inverse-CDF weights per row over a single-row-group scan:
    # spread first or the whole battery runs on one task (see helper)
    ev = spread_few_splits(_t(spark, sf_dir, "events"))
    return bootstrap_mean_se(
        ev, "event_type", "value", "event_id", r=16
    )


# ---- q221: A/B conversion report with the two-proportion z-test


@query(
    "q221_ab_test_report",
    """
    WITH units AS (
      SELECT CAST(CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 2 AS INT) AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 450.0 THEN 1 ELSE 0 END) = 1
               AS conv
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    per_arm AS (
      SELECT arm, count(*)::BIGINT AS n_units,
             sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT AS n_converted
      FROM units GROUP BY 1
    ),
    s AS (
      SELECT (b.n_converted / b.n_units::DOUBLE
              - a.n_converted / a.n_units::DOUBLE) AS lift,
             (b.n_converted / b.n_units::DOUBLE
              - a.n_converted / a.n_units::DOUBLE)
             / nullif(sqrt(((a.n_converted + b.n_converted)
                     / (a.n_units + b.n_units)::DOUBLE)
                    * (1 - (a.n_converted + b.n_converted)
                       / (a.n_units + b.n_units)::DOUBLE)
                    * (1 / a.n_units::DOUBLE + 1 / b.n_units::DOUBLE)), 0.0)
               AS z
      FROM (SELECT * FROM per_arm WHERE arm = 0) a,
           (SELECT * FROM per_arm WHERE arm = 1) b
    )
    SELECT p.arm, p.n_units, p.n_converted,
           round(p.n_converted / p.n_units::DOUBLE, 6) AS cvr,
           CASE WHEN p.arm = 1 THEN round(s.lift, 6) END AS lift,
           CASE WHEN p.arm = 1 THEN round(s.z, 6) END AS z_stat
    FROM per_arm p CROSS JOIN s
    """,
)
def q221_ab_test_report(spark, sf_dir):
    """Two-arm A/B conversion report (analytics.ab_test_report): users
    hash deterministically into arms (the q104 split convention
    applied to experiments), conversion is per-UNIT (any high-value purchase (> 450)
    converts the user — never row-weighted), and the pooled
    two-proportion z statistic quantifies arm 1's lift. Two hash
    aggregates + one 2-row reduction — the experimentation-platform
    readout at any scale. The oracle replays the hash assignment, the
    unit collapse, and the z arithmetic."""
    from capex_data_pipeline_spark.extensions.analytics import (
        ab_test_report,
    )

    ev = _t(spark, sf_dir, "events")
    return ab_test_report(
        ev, "user_id", (F.col("event_type") == "purchase") & (F.col("value") > 450.0)
    )


# ---- q222: CUSUM changepoint detection


@query(
    "q222_cusum_changepoint",
    """
    WITH base AS (
      SELECT event_type AS g, ts, event_id AS id,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
    ),
    tt AS (
      SELECT g, sum(x)::BIGINT AS s, count(*)::BIGINT AS n
      FROM base GROUP BY 1
    ),
    run AS (
      SELECT g, ts, id,
             (sum(x) OVER (PARTITION BY g ORDER BY ts, id))::BIGINT AS p,
             (row_number() OVER (PARTITION BY g ORDER BY ts, id))::BIGINT
               AS pos
      FROM base
    ),
    pick AS (
      SELECT g, n, neg, ts, pos FROM (
        SELECT r.g, tt.n,
               -abs(tt.n * r.p - r.pos * tt.s) AS neg, r.ts, r.id, r.pos,
               row_number() OVER (PARTITION BY r.g
                                  ORDER BY -abs(tt.n * r.p - r.pos * tt.s),
                                           r.ts, r.id) AS rn
        FROM run r JOIN tt USING (g)
      ) WHERE rn = 1
    )
    SELECT g AS event_type, n,
           round(-neg / (n::DOUBLE * 100.0), 6) AS cusum_stat,
           ts AS changepoint_ts,
           round(pos / n::DOUBLE, 6) AS frac_position
    FROM pick
    """,
)
def q222_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint per event type
    (timeseries.cusum_changepoint — Page 1954): the cumulative sum of
    deviations from the group mean peaks in magnitude at the most
    likely level shift — WHERE the metric moved, the locator sibling
    of q96's did-it-move PSI. Computed as n·CUSUM_t = n·P_t − t·S over
    cents-exact BIGINTs, so the peak argmax compares exact integers
    and ties break deterministically by (ts, id) — one
    group-partitioned running-sum window + one min-struct aggregate,
    never a sort of candidates. The oracle replays the integer
    identity, the peak pick, and both reported ratios."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        cusum_changepoint,
    )

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(
        ev, "event_type", "value", "ts", "event_id"
    )


# ---- q232: cohort retention matrix


@query(
    "q232_cohort_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id AS u,
             CAST(date_trunc('week', ts) AS DATE) AS p
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    coh AS (SELECT u, min(p) AS c FROM act GROUP BY u),
    sizes AS (SELECT c, count(*)::BIGINT AS cohort_size FROM coh GROUP BY c),
    j AS (
      SELECT a.u, co.c,
             CAST((a.p - co.c) / 7 AS BIGINT) AS "offset"
      FROM act a JOIN coh co USING (u)
    ),
    counts AS (
      SELECT c, "offset", count(DISTINCT u)::BIGINT AS n_active
      FROM j WHERE "offset" <= 12 GROUP BY 1, 2
    )
    SELECT counts.c AS cohort, "offset", n_active, cohort_size,
           round(n_active / cohort_size::DOUBLE, 6) AS retention
    FROM counts JOIN sizes USING (c)
    """,
)
def q232_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (timeseries.cohort_retention_matrix):
    users
    cohorted by FIRST-activity week, retention[cohort, k] = share of
    the cohort active k weeks later — the growth triangle. One
    min-aggregate for cohorts, distinct (user, week) activity, a
    user-key join-back, one (cohort, offset) distinct count: compact
    keys only, no per-cohort re-scan. Offset 0 rides along as the
    retention=1.0 audit row. The oracle replays cohorting, the
    exact-multiple-of-7 offset division, and both counts."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        cohort_retention_matrix,
    )

    ev = _t(spark, sf_dir, "events")
    return cohort_retention_matrix(
        ev, "user_id", "ts", period="week", max_offset=12
    )


# ---- q233: time-weighted average (TWAP)


@query(
    "q233_time_weighted_average",
    """
    WITH base AS (
      SELECT event_type AS g, event_id AS id,
             CAST(round(value * 100) AS BIGINT) AS x,
             epoch_ms(ts) AS ms
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    w AS (
      SELECT g, x, ms,
             lead(ms) OVER (PARTITION BY g ORDER BY ms, id) AS nxt
      FROM base
    ),
    agg AS (
      SELECT g, count(*)::BIGINT AS n_obs,
             sum(CASE WHEN nxt IS NOT NULL THEN nxt - ms ELSE 0 END)
               ::HUGEINT AS span,
             sum(CASE WHEN nxt IS NOT NULL
                      THEN x::HUGEINT * (nxt - ms) ELSE 0 END) AS wsum
      FROM w GROUP BY g
    )
    SELECT g AS event_type, n_obs, span::BIGINT AS span_ms,
           round(wsum::DOUBLE / nullif(span, 0)::DOUBLE / 100.0, 6)
             AS twap
    FROM agg
    """,
)
def q233_time_weighted_average(spark, sf_dir):
    """Time-weighted average value per event type
    (timeseries.time_weighted_average): each observation weighted by
    how long it stayed current (lead() to the next same-group
    observation) — the honest mean for a value that HOLDS between
    irregular samples. One per-group window + one aggregate of exact
    cents x ms integer products carried as DECIMAL(38,0) (the
    q197/q222 overflow convention; ~1e9 rows of 1e4-cent values times
    ms durations wrap int64). Final division in double on both
    engines. The oracle replays the lead, the zero-weight last tick,
    and the HUGEINT products."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        time_weighted_average,
    )

    ev = _t(spark, sf_dir, "events")
    return time_weighted_average(
        ev, "event_type", "value", "ts", "event_id"
    )


# ---- q234: OHLC candlestick downsampling


@query(
    "q234_ohlc_candles",
    """
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS period_start,
           first(v ORDER BY ts, event_id) AS open,
           max(v) AS high,
           min(v) AS low,
           last(v ORDER BY ts, event_id) AS close,
           count(*)::BIGINT AS n_obs
    FROM (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) / 100.0 AS v
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    )
    GROUP BY 1, 2
    """,
)
def q234_ohlc_candles(spark, sf_dir):
    """OHLC candlestick aggregation per (event_type, day)
    (timeseries.ohlc_candles): open/close elected by min_by/max_by on
    the deterministic (ts, event_id) struct — ONE hash aggregate,
    never a window re-sort of the raw stream — with cents-quantized
    values so first/last election replays exactly. The canonical
    stream downsampling (the report q79's grid resample feeds at
    scale). The oracle uses DuckDB's ordered first()/last()
    aggregates over the same order."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        ohlc_candles,
    )

    ev = _t(spark, sf_dir, "events")
    out = ohlc_candles(
        ev, "event_type", "value", "ts", "event_id", period="day"
    )
    return out.select(
        "event_type",
        F.col("period_start").cast("date").alias("period_start"),
        "open", "high", "low", "close", "n_obs",
    )


# ---- q239: exact lag-1 autocorrelation per group


@query(
    "q239_autocorrelation",
    """
    WITH base AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS x,
             lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS xl
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    agg AS (
      SELECT g, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s,
             sum(x::HUGEINT * x) AS q,
             sum(CASE WHEN xl IS NOT NULL THEN x::HUGEINT * xl END) AS p,
             sum(CASE WHEN xl IS NOT NULL THEN x END)::HUGEINT AS a,
             sum(CASE WHEN xl IS NOT NULL THEN xl END)::HUGEINT AS b,
             sum(CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END)::HUGEINT AS c
      FROM base GROUP BY g
    )
    SELECT g AS event_type, n::BIGINT AS n,
           coalesce(c, 0)::BIGINT AS n_pairs,
           round((n * n * p - n * s * b - n * s * a + c * s * s)::DOUBLE
                 / nullif((n * n * q - n * s * s)::DOUBLE, 0.0), 6)
             AS acf
    FROM agg
    """,
)
def q239_autocorrelation(spark, sf_dir):
    """EXACT lag-1 autocorrelation of value per event type
    (timeseries.autocorrelation) — does the series remember itself:
    ACF = Σ(x_t−μ)(x_{t−1}−μ)/Σ(x_t−μ)² with both sides cleared of
    the μ = S/n denominator exactly — n²·num = n²P − nSB − nSA + cS²
    and n²·den = n²Q − nS², ALL integers in DECIMAL(38,0) (the
    q222/q225 exactness class) — so the one double division replays
    bit-for-bit. One lag window per group + one aggregate."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        autocorrelation,
    )

    ev = _t(spark, sf_dir, "events")
    return autocorrelation(
        ev, "event_type", "value", "ts", "event_id", lag=1
    )


# ---- q241: heartbeat / liveness gap report


@query(
    "q241_heartbeat_gaps",
    """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS us,
             lead(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT u AS user_id, count(*)::BIGINT AS n_events,
           sum(CASE WHEN nxt - us > 86400000000 THEN 1 ELSE 0 END)
             ::BIGINT AS n_gaps,
           round(max(CASE WHEN nxt - us > 86400000000
                          THEN nxt - us END) / 1e6, 6) AS max_gap_sec,
           round(coalesce(sum(CASE WHEN nxt - us > 86400000000
                                   THEN nxt - us END), 0) / 1e6, 6)
             AS downtime_sec,
           round(1.0 - coalesce(sum(CASE WHEN nxt - us > 86400000000
                                         THEN nxt - us END), 0)
                       / nullif((max(us) - min(us))::DOUBLE, 0.0), 6)
             AS uptime_frac
    FROM base GROUP BY u
    """,
)
def q241_heartbeat_gaps(spark, sf_dir):
    """Heartbeat / liveness gap report per user
    (timeseries.heartbeat_gaps): consecutive-event silences longer
    than 1 day counted and sized (worst gap, total downtime, uptime
    fraction of the observed span) — the feed-went-quiet audit. One
    lead window per key + one aggregate, integer microseconds
    throughout (timestamp ties contribute zero-length gaps whatever
    their relative order, so the report is deterministic without an
    id tiebreak)."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        heartbeat_gaps,
    )

    ev = _t(spark, sf_dir, "events")
    return heartbeat_gaps(ev, "user_id", "ts", gap_seconds=86400)


# ---- q247: seasonal (day-of-week) anomaly report


@query(
    "q247_seasonal_anomaly",
    """
    WITH daily AS (
      SELECT event_type AS g,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*)::BIGINT AS n
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    d2 AS (SELECT *, (dayofweek(day) + 1)::INT AS weekday FROM daily),
    base AS (
      SELECT g, weekday, list_sort(list(n)) AS arr FROM d2 GROUP BY 1, 2
    ),
    m AS (
      SELECT g, weekday,
             arr[CAST(ceil(len(arr) / 2.0) AS INT)] AS med, arr
      FROM base
    ),
    mm AS (
      SELECT g, weekday, med,
             (list_sort(list_transform(arr, x -> abs(x - med))))
               [CAST(ceil(len(arr) / 2.0) AS INT)] AS mad
      FROM m
    )
    SELECT d2.g AS event_type, d2.day, d2.weekday, d2.n, mm.med, mm.mad,
           (abs(d2.n - mm.med) > 3 * greatest(mm.mad, 1)) AS is_anomaly
    FROM d2 JOIN mm ON mm.g = d2.g AND mm.weekday = d2.weekday
    """,
)
def q247_seasonal_anomaly(spark, sf_dir):
    """Seasonal day-of-week anomaly report over daily event volumes
    (timeseries.seasonal_anomaly_report): each (type, day)'s count
    compares to the EXACT median of its type's same-weekday days with
    a MAD band — robust "is today weird for a Tuesday" volume
    monitoring, integer end-to-end (lower-middle medians, no
    interpolation, so the flag replays exactly). Daily counts are a
    compact-key aggregate; baselines live on the domain-sized
    (type × 7) frame with horizon-bounded sorted arrays; the band is
    a broadcast join back."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        seasonal_anomaly_report,
    )

    ev = _t(spark, sf_dir, "events")
    return seasonal_anomaly_report(ev, "event_type", "ts", k=3)


# ---- q248: merged-interval coverage (union length per key)


@query(
    "q248_interval_coverage",
    """
    WITH base AS (
      SELECT user_id AS u, epoch_ms(ts) AS s,
             epoch_ms(ts) + CAST(round(value * 60000) AS BIGINT) AS e
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    ),
    m AS (
      SELECT u, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY u ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -4611686018427387904)
                  THEN 1 ELSE 0 END AS nw
      FROM base
    ),
    i AS (
      SELECT *, sum(nw) OVER (
               PARTITION BY u ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM m
    ),
    isls AS (
      SELECT u, isl, min(s) AS iss, max(e) AS ie, count(*)::BIGINT AS n
      FROM i GROUP BY 1, 2
    )
    SELECT u AS user_id, sum(n)::BIGINT AS n_intervals,
           count(*)::BIGINT AS n_islands,
           sum(ie - iss)::BIGINT AS covered,
           (max(ie) - min(iss))::BIGINT AS span,
           round(sum(ie - iss)
                 / nullif((max(ie) - min(iss))::DOUBLE, 0.0), 6)
             AS coverage_frac
    FROM isls GROUP BY u
    """,
)
def q248_interval_coverage(spark, sf_dir):
    """Merged-interval coverage per user
    (timeseries.interval_coverage): the union length of each user's
    activity intervals [ts, ts + value minutes] — overlaps merge, so
    busy time never double-counts (the sibling of q212's overlap
    JOIN: that finds pairs, this sizes the union). Gaps-and-islands:
    one running-max window marks island starts, a running marker sum
    numbers them, two aggregates reduce to exact integer lengths —
    per-task state is one user's intervals. Inverted intervals raise
    loudly (the q212 convention)."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        interval_coverage,
    )

    ev = _t(spark, sf_dir, "events")
    s = F.unix_millis(F.col("ts"))
    iv = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        s.alias("s"),
        (s + F.round(F.col("value") * 60000).cast("long")).alias("e"),
    )
    return interval_coverage(iv, "user_id", "s", "e")


# ---- q256: Kaplan-Meier time-to-conversion (right-censored)


@query(
    "q256_kaplan_meier",
    """
    WITH ev AS (
      SELECT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS d,
             (event_type = 'purchase' AND value >= 150.0) AS q
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    pu AS (
      SELECT u, min(d) AS f,
             min(CASE WHEN q THEN d END) AS c
      FROM ev GROUP BY 1
    ),
    hz AS (SELECT max(d) AS h FROM ev),
    du AS (
      SELECT CASE WHEN c IS NOT NULL THEN (c - f) ELSE (h - f) END AS dur,
             CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END AS e
      FROM pu, hz
    ),
    cnt AS (
      SELECT dur, sum(e)::BIGINT AS dd, sum(1 - e)::BIGINT AS c
      FROM du GROUP BY 1
    ),
    wk AS (
      SELECT dur, dd, c,
             (SELECT sum(dd + c) FROM cnt)
               - coalesce(sum(dd + c) OVER (
                   ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS n_risk
      FROM cnt
    ),
    s AS (
      SELECT dur, dd, c, n_risk,
             sum(CASE WHEN dd > 0
                      THEN round(ln((n_risk - dd) / n_risk::DOUBLE), 12)
                      ELSE 0.0 END)
               OVER (ORDER BY dur) AS lns
      FROM wk
    )
    SELECT CAST(dur AS INT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           dd AS n_events, c AS n_censored,
           round(exp(lns), 6) AS survival
    FROM s WHERE dd > 0
    """,
)
def q256_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier time-to-conversion curve
    (timeseries.kaplan_meier_conversion): event = the user's first
    purchase with value >= 150, duration = days from first activity,
    never-converters right-censored at the corpus horizon — S(t) =
    share not yet converted by day t, the funnel-latency statistic
    the "mean days over converters" metric biases optimistic (it
    drops exactly the users still waiting). One user-key aggregate +
    a duration-domain-bounded count frame + a single sorted-array
    fold for the product-limit recursion (ln terms round-12 before
    the ordered fold — the engine's sorted-fold float rule; the
    churn-subject sibling kaplan_meier shares the curve machinery
    and is pinned in tests/test_round13_ops.py). The oracle replays
    censoring, the reverse-cumulative at-risk counts, and the same
    rounded-ln cumulative product."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        kaplan_meier_conversion,
    )

    return kaplan_meier_conversion(
        _t(spark, sf_dir, "events"),
        (F.col("event_type") == "purchase") & (F.col("value") >= 150.0),
        "user_id",
        "ts",
    )


# ---- q257: Holt linear-trend forecast (exact integer smoothing)

#: shared daily cents aggregation, DuckDB side
_DAILY_CENTS = """
  SELECT event_type AS k, CAST(date_trunc('day', ts) AS DATE) AS d,
         sum(CAST(round(value * 100) AS BIGINT)) AS x
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
"""


#: NOTE: the obvious oracle — list_reduce with a struct-returning
#: lambda — miscomputes on DuckDB 1.0 (struct fields cross-contaminate
#: when both reference acc; probed in tests/test_round13_ops.py's holt
#: negative-trend pin), so the recursion unrolls as a recursive CTE
#: over the per-key value array instead.
@query(
    "q257_holt_forecast",
    f"""
    WITH RECURSIVE daily AS ({_DAILY_CENTS}),
    pk AS (
      SELECT k, count(*)::BIGINT AS n_days, max(d) AS last_day,
             list(x ORDER BY d) AS arr
      FROM daily GROUP BY 1
    ),
    f AS (
      SELECT k, n_days, last_day, 1 AS i, arr,
             arr[1] AS l, 0::BIGINT AS b
      FROM pk
      UNION ALL
      SELECT k, n_days, last_day, i + 1, arr,
             (3*arr[i+1] + 7*(l + b)) // 10,
             (2*(((3*arr[i+1] + 7*(l + b)) // 10) - l) + 8*b) // 10
      FROM f WHERE i < len(arr)
    )
    SELECT k AS event_type, n_days, last_day,
           l AS level_cents, b AS trend_cents,
           round((l + 3*b) / 100.0, 2) AS forecast
    FROM f WHERE i = len(arr)
    """,
)
def q257_holt_forecast(spark, sf_dir):
    """Holt linear-trend smoothing of daily revenue per event type
    (timeseries.holt_forecast, α=0.3 β=0.2 as integer tenths,
    3-day-ahead forecast): level and trend fold over the sorted
    daily series in EXACT integer cents — truncating integer
    division is the same operation on both engines, so the recursion
    replays bit-for-bit with no float summation anywhere. One
    (key, day) aggregate + one day-domain-bounded sorted fold per
    key. The oracle replays the same fold via list_reduce with the
    same-shape accumulator."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        holt_forecast,
    )

    return holt_forecast(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value",
        horizon=3,
    )


# ---- q258: Theil-Sen robust trend (exact integer slope median)


@query(
    "q258_theil_sen",
    f"""
    WITH daily AS ({_DAILY_CENTS}),
    pairs AS (
      SELECT a.k AS k, ((b.x - a.x) * 1000000) // (b.d - a.d) AS s
      FROM daily a JOIN daily b ON a.k = b.k AND b.d > a.d
    ),
    pk AS (
      SELECT k, list(s ORDER BY s) AS ss, count(*)::BIGINT AS n_pairs
      FROM pairs GROUP BY 1
    ),
    nd AS (SELECT k, count(*)::BIGINT AS n_days FROM daily GROUP BY 1)
    SELECT pk.k AS event_type, nd.n_days, pk.n_pairs,
           (ss[CAST((n_pairs + 1) // 2 AS INT)]
            + ss[CAST(n_pairs // 2 + 1 AS INT)]) / 2.0
             AS slope_micro_median
    FROM pk JOIN nd ON nd.k = pk.k
    """,
)
def q258_theil_sen(spark, sf_dir):
    """Theil-Sen robust daily-revenue trend per event type
    (timeseries.theil_sen_trend): the median of all pairwise slopes
    in exact integer micro-units — slope(i,j) = Δcents·1e6 div Δdays
    with truncating division identical cross-engine, median exact on
    the sorted integer array (mean of middles, a .5-exact double).
    The pairwise stage is quadratic in the DAY DOMAIN (bounded by
    the horizon), never in events — the stream collapses to daily
    sums first. The oracle replays pairs, slopes, and the median
    arithmetic."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        theil_sen_trend,
    )

    return theil_sen_trend(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


# ---- q265: A-before-B sequence-pair mining (daily windows)


@query(
    "q265_sequence_pairs",
    """
    WITH ev AS (
      SELECT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS d,
             event_type AS t, ts
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    firsts AS (
      SELECT u, d, t, min(ts) AS ft FROM ev GROUP BY 1, 2, 3
    ),
    sup AS (
      SELECT a.t AS ante, b.t AS cons, count(*)::BIGINT AS support
      FROM firsts a
      JOIN firsts b ON a.u = b.u AND a.d = b.d AND a.t <> b.t
                   AND a.ft < b.ft
      GROUP BY 1, 2
    ),
    tw AS (
      SELECT t AS ante, count(*)::BIGINT AS n_ante_windows
      FROM firsts GROUP BY 1
    )
    SELECT sup.ante, sup.cons, sup.support, tw.n_ante_windows,
           round(sup.support
                 / nullif(tw.n_ante_windows::DOUBLE, 0.0), 6)
             AS confidence
    FROM sup JOIN tw ON tw.ante = sup.ante
    """,
)
def q265_sequence_pairs(spark, sf_dir):
    """A-before-B sequence mining over (user, day) windows
    (timeseries.sequence_pair_support): for every ordered event-type
    pair, the windows where A's FIRST occurrence strictly precedes
    B's, plus confidence given A appeared — the precedence half of
    association mining (q150 counts co-presence, q203 only adjacent
    transitions, q202 one fixed step list). First-occurrence
    collapse makes the pair stage type-domain-bounded per window;
    equal instants count for neither order (strict, no invented
    tie-break). The oracle replays firsts, the precedence join, and
    both counts."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        sequence_pair_support,
    )

    return sequence_pair_support(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type"
    )


# ---- q267: sliding-window rate-limit audit


@query(
    "q267_rate_limit_audit",
    """
    WITH ev AS (
      SELECT user_id AS u, ts, epoch_us(ts) AS e
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    c AS (
      SELECT u, ts,
             count(*) OVER (PARTITION BY u ORDER BY e
                            RANGE BETWEEN 59999999 PRECEDING
                                      AND CURRENT ROW) AS c
      FROM ev
    )
    SELECT u AS user_id, count(*)::BIGINT AS n_events,
           sum(CASE WHEN c >= 5 THEN 1 ELSE 0 END)::BIGINT
             AS n_burst_events,
           max(c)::BIGINT AS max_in_window,
           min(CASE WHEN c >= 5 THEN ts END) AS first_burst_ts
    FROM c GROUP BY 1
    """,
)
def q267_rate_limit_audit(spark, sf_dir):
    """Sliding-window rate audit, 5 events / 60 s per user
    (timeseries.rate_limit_audit): per event the trailing-window
    count via ONE key-partitioned RANGE window over integer
    microseconds — bursts straddling tumbling-window edges can't
    hide; RANGE frames make equal instants share a count, so ties
    need no invented order. Per-key compact output keeps compliant
    users (n_burst_events = 0 proves compliance). The oracle replays
    the same RANGE frame and per-key aggregate."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        rate_limit_audit,
    )

    return rate_limit_audit(
        _t(spark, sf_dir, "events"), limit=5, window_seconds=60
    )


# ---- q268: floor-clamped running balance (non-linear fold)


@query(
    "q268_clamped_balance",
    """
    WITH ev AS (
      SELECT user_id AS k, ts,
             CAST(round((CASE WHEN event_type = 'purchase'
                              THEN value ELSE -value END) * 100)
                  AS BIGINT) AS x
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND value IS NOT NULL
    ),
    pk AS (
      SELECT k, count(*)::BIGINT AS n_deltas,
             sum(x)::BIGINT AS sum_deltas_cents,
             list_reduce(
               list_prepend(0::BIGINT, list(x ORDER BY ts, x)),
               (acc, x) -> greatest(acc + x, 0::BIGINT)
             ) AS fin
      FROM ev GROUP BY 1
    )
    SELECT k AS user_id, n_deltas, sum_deltas_cents,
           fin AS final_cents,
           (fin > sum_deltas_cents) AS clamped
    FROM pk
    """,
)
def q268_clamped_balance(spark, sf_dir):
    """Floor-clamped running credit balance per user
    (timeseries.clamped_balance): purchases top up, every other
    event drains its value, and the balance folds max(0, bal+delta)
    in (ts, delta) order — the NON-LINEAR running sum (inventory /
    prepaid credit / token-bucket position) a window cumsum cannot
    express because the clamp makes each step depend on the clamped
    previous one. Exact integer cents end to end; the oracle replays
    the fold as a 0-seeded scalar list_reduce (scalar folds are safe
    — the struct-lambda accumulator bug q257 documents is not hit)."""
    from capex_data_pipeline_spark.extensions.timeseries import (
        clamped_balance,
    )

    ev = _t(spark, sf_dir, "events")
    signed = ev.withColumn(
        "value",
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(-F.col("value")),
    )
    return clamped_balance(signed, "user_id", "ts", "value")
