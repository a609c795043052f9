"""Corpus-cleaning + curation queries (round 6): PII redaction,
repetition metrics, line-level boilerplate filtering, domain stats.

Same contract as ``registry``: Spark builder + full DuckDB oracle per
entry.  The synthetic corpus carries no emails/URLs/newlines, so each
query first AUGMENTS the text with deterministic PII/URL/line material
derived from ``doc_id`` — the identical construction is restated in the
oracle, so the detectors are exercised on real matches (non-degenerate
evidence) while staying value-exact.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from capex_data_pipeline_spark.registry import _t, query
from capex_data_pipeline_spark.extensions import cleaning as CL


def _pii_augmented(docs):
    """text + deterministic PII spans: email on doc_id%3, phone on %5,
    IPv4 on %7, card-shaped id run on %11 (≈58% of docs carry ≥1)."""
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call +91-998-877-66"),
                    F.lpad((F.col("doc_id") % 90 + 10).cast("string"), 2, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".17 up"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" acct 4111 1111 1111 1111 ok")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" card 4111111111111111 end")
            ).otherwise(F.lit("")),
        ).alias("t"),
    )


_PII_AUG_SQL = """
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' call +91-998-877-66' || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0') ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17 up' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' acct 4111 1111 1111 1111 ok' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' card 4111111111111111 end' ELSE '' END AS t
  FROM documents
"""

# the four PII regexes, verbatim (RE2- and Java-compatible, no
# lookarounds — see extensions/cleaning.py docstring)
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PHONE = r"\+[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3}[- .]?[0-9]{2,4}\b"
_IDRUN = r"\b(?:[0-9]{4}([- ][0-9]{4}){2,3}|[0-9]{13,19})\b"


@query(
    "q63_pii_redaction",
    f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT doc_id,
      len(regexp_extract_all(t, '{_EMAIL}')) AS n_email,
      len(regexp_extract_all(t, '{_IPV4}')) AS n_ipv4,
      len(regexp_extract_all(t, '{_PHONE}')) AS n_phone,
      len(regexp_extract_all(t, '{_IDRUN}')) AS n_id_run,
      md5(
       regexp_replace(
        regexp_replace(
         regexp_replace(
          regexp_replace(t, '{_EMAIL}', '<EMAIL>', 'g'),
          '{_IPV4}', '<IP>', 'g'),
         '{_PHONE}', '<PHONE>', 'g'),
        '{_IDRUN}', '<ID>', 'g')
      ) AS redacted_md5
    FROM aug
    """,
    headline=False,
)
def q63_pii_redaction(spark, sf_dir):
    """PII audit + redaction over the (deterministically augmented)
    corpus: per-class match counts and the md5 of the fully redacted
    text — one map-only projection, chained regexp_replace in the
    documented PII_PATTERNS order. The oracle replays the same regexes
    and order in DuckDB (both engines are RE2/Java leftmost-greedy on
    this lookaround-free pattern family)."""
    aug = _pii_augmented(_t(spark, sf_dir, "documents"))
    stats = CL.pii_stats(F.col("t"))
    return aug.select(
        "doc_id",
        *[v.alias(k) for k, v in stats.items()],
        F.md5(CL.redact_pii(F.col("t"))).alias("redacted_md5"),
    )


def _line_augmented(docs):
    """Even doc_ids gain a 4-line boilerplate block (a duplicated
    'menu' line, a too-short line, a unique line) so line-level
    dedup/filtering and duplicate-line metrics have real work."""
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    "\nrepeat line alpha beta\nrepeat line alpha beta\nhi\nuniq line "
                ),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )


# canonical definition in the LEAF oracle_frags module (shared with
# registry_ts without a cross-registry import cycle)
from capex_data_pipeline_spark.oracle_frags import (  # noqa: E402
    LINE_AUG_SQL as _LINE_AUG_SQL,
)


@query(
    "q64_repetition_metrics",
    f"""
    WITH aug AS ({_LINE_AUG_SQL}),
    base AS (
      SELECT doc_id,
        list_filter(string_split(regexp_replace(lower(coalesce(t,'')), '[^a-z0-9]+', ' ', 'g'), ' '), s -> s != '') AS words,
        list_filter(list_transform(string_split(coalesce(t,''), chr(10)), l -> trim(l)), l -> l != '') AS lines
      FROM aug
    ), g AS (
      SELECT doc_id, 'w' AS kind, unnest(words) AS gram FROM base
      UNION ALL
      SELECT doc_id, 'b', unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) FROM base
      UNION ALL
      SELECT doc_id, 'l', unnest(lines) FROM base
    ), pg AS (
      SELECT doc_id, kind, gram, count(*) AS n FROM g GROUP BY 1,2,3
    ), agg AS (
      SELECT doc_id,
        sum(CASE WHEN kind='w' THEN n ELSE 0 END) AS nw,
        max(CASE WHEN kind='w' THEN n END) AS topw,
        sum(CASE WHEN kind='b' THEN n ELSE 0 END) AS nb,
        max(CASE WHEN kind='b' THEN n END) AS topb,
        sum(CASE WHEN kind='l' THEN n ELSE 0 END) AS nl,
        sum(CASE WHEN kind='l' AND n > 1 THEN n ELSE 0 END) AS dupl,
        sum(CASE WHEN kind='l' THEN length(gram)*n ELSE 0 END) AS lchars,
        sum(CASE WHEN kind='l' AND n > 1 THEN length(gram)*n ELSE 0 END) AS duplchars
      FROM pg GROUP BY 1
    )
    SELECT d.doc_id,
      coalesce(round(CASE WHEN nw > 0 THEN topw / CAST(nw AS DOUBLE) ELSE 0 END, 6), 0.0) AS top_word_frac,
      coalesce(round(CASE WHEN nb > 0 THEN topb / CAST(nb AS DOUBLE) ELSE 0 END, 6), 0.0) AS top_bigram_frac,
      coalesce(round(CASE WHEN nl > 0 THEN dupl / CAST(nl AS DOUBLE) ELSE 0 END, 6), 0.0) AS dup_line_frac,
      coalesce(round(CASE WHEN nl > 0 THEN duplchars / CAST(lchars AS DOUBLE) ELSE 0 END, 6), 0.0) AS dup_line_char_frac
    FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)
    """,
)
def q64_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals (top-word / top-bigram fraction,
    duplicate-line row+char fractions) per document. Distributed as one
    tagged-gram explode + two hash aggregations on compact (doc, gram)
    keys — no per-row quadratic fold. Oracle re-derives every fraction
    in SQL."""
    aug = _line_augmented(_t(spark, sf_dir, "documents"))
    return CL.repetition_metrics(aug, text_col="t", id_col="doc_id")


@query(
    "q65_line_filter",
    f"""
    WITH aug AS ({_LINE_AUG_SQL}),
    base AS (
      SELECT doc_id, string_split(coalesce(t, ''), chr(10)) AS lines FROM aug
    ), kept AS (
      SELECT doc_id, lines,
        list_filter(lines, l -> len(list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> w != '')) >= 3) AS k
      FROM base
    ), dd AS (
      SELECT doc_id, lines,
        list_filter(list_transform(range(1, len(k)+1), i -> CASE WHEN list_position(k, k[i]) = i THEN k[i] END), x -> x IS NOT NULL) AS k2
      FROM kept
    )
    SELECT doc_id, md5(array_to_string(k2, chr(10))) AS cleaned_md5,
           len(lines) AS n_lines, len(k2) AS n_kept
    FROM dd
    """,
    headline=False,
)
def q65_line_filter(spark, sf_dir):
    """C4-style line-level boilerplate filter: keep lines with ≥3
    words, drop repeated lines keeping the first occurrence, re-join.
    Pure higher-order array functions (map-only at any scale); the
    oracle re-derives first-occurrence dedup via list_position. Output
    compares the cleaned text by md5 plus kept/total line counts."""
    aug = _line_augmented(_t(spark, sf_dir, "documents"))
    s = CL.clean_lines(F.col("t"), min_words=3, dedup_lines=True)
    return aug.select(
        "doc_id",
        F.md5(s["cleaned"]).alias("cleaned_md5"),
        s["n_lines"].alias("n_lines"),
        s["n_kept"].alias("n_kept"),
    )


@query(
    "q66_domain_stats",
    """
    WITH aug AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 2 = 0 THEN ' see https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' ok' ELSE '' END
        || CASE WHEN doc_id % 3 = 0 THEN ' ref http://Mirror' || CAST(doc_id % 5 AS VARCHAR) || '.Example.org.' ELSE '' END AS t
      FROM documents
    ), u AS (
      SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[^\\s<>"'']+[^\\s<>"''.,;:!?)]')) AS url FROM aug
    ), d AS (
      SELECT doc_id, regexp_replace(lower(regexp_extract(url, 'https?://([^/\\s:]+)', 1)), '^www\\.', '') AS domain FROM u
    )
    SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
    FROM d GROUP BY 1
    """,
    headline=False,
)
def q66_domain_stats(spark, sf_dir):
    """Per-domain URL statistics (mention count + distinct citing
    docs) — the grouping key for domain blocklists and per-domain
    caps. URL extraction/host-normalization are map-side projections;
    the aggregate shuffles on the compact domain string. URLs are
    injected deterministically (www-prefixed and mixed-case hosts,
    trailing sentence punctuation) so extraction, case-folding, www-
    stripping and punctuation trimming all do real work."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" see https://www.site"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".example.com/p/"),
                    F.col("doc_id").cast("string"),
                    F.lit(" ok"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" ref http://Mirror"),
                    (F.col("doc_id") % 5).cast("string"),
                    F.lit(".Example.org."),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    return CL.domain_stats(aug, text_col="t", id_col="doc_id")


# ------------------------------------------------------- semantic dedup

_COS_DUCK = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    "    * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "q67_semantic_dedup",
    f"""
    WITH ctr AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell,
             embedding
      FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16
    ), sim AS (
      SELECT e.vec_id, c.cell, {_COS_DUCK.format(a='e.embedding', b='c.embedding')} AS s
      FROM embeddings e, ctr c
    ), assigned AS (
      SELECT vec_id, cell AS cluster, round(s, 6) AS centroid_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) rn FROM sim
      ) WHERE rn = 1
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster
                                   ORDER BY centroid_sim ASC, vec_id ASC) AS rk
      FROM assigned
    ), rem AS (
      SELECT DISTINCT b.vec_id
      FROM ranked a JOIN ranked b ON a.cluster = b.cluster AND a.rk < b.rk
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE round({_COS_DUCK.format(a='ea.embedding', b='eb.embedding')}, 6) >= 0.3
    )
    SELECT r.vec_id, r.cluster, r.centroid_sim, (rem.vec_id IS NOT NULL) AS removed
    FROM ranked r LEFT JOIN rem ON rem.vec_id = r.vec_id
    """,
)
def q67_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (extensions/semdedup.py):
    deterministic md5-sampled 16-center quantizer, cosine cluster
    assignment, within-cluster pair compare, removal of every vector
    >= threshold-similar to a better-ranked (lower centroid
    similarity) cluster mate. Threshold 0.3 for the same reason as
    q35: the synthetic embeddings are near-orthogonal (max pairwise
    cosine ~0.48), so a paper-typical 0.9 gate removes nothing and a
    0-row decision exercises nothing - at 0.3 the identical machinery
    marks ~126 removals per SF, all value-checked. The oracle
    re-derives center pick -> assignment -> keeper rank -> pair
    compare -> removal set in SQL."""
    from capex_data_pipeline_spark.extensions.semdedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, n_clusters=16, threshold=0.3, centers_mode="sample")


# ------------------------------------------- tf-idf + mixture sampling


@query(
    "q68_tfidf_topk",
    r"""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' '), s -> s != '')) AS term
      FROM documents
    ), tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1,2),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    wt AS (
      SELECT doc_id, term, tf, df,
             round(tf * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1), 6) AS weight
      FROM tf JOIN dfr USING (term), n
    )
    SELECT doc_id, term, tf, df, weight, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY weight DESC, term ASC) AS rank FROM wt
    ) WHERE rank <= 5
    """,
)
def q68_tfidf_topk(spark, sf_dir):
    """Top-5 characteristic terms per document by smoothed tf-idf
    (corpus.tfidf_topk): explode + (doc, term) hash aggregate, vocab
    df aggregate, join back on the term key, WindowGroupLimit top-k.
    N rides along as a 1-row broadcast; weights rank on the rounded
    value with term tie-break, so the oracle's row_number re-derives
    the identical order."""
    from capex_data_pipeline_spark.extensions import corpus as C

    return C.tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


@query(
    "q69_mixture_sample",
    r"""
    WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
    t AS (SELECT sum(power(c, 0.5)) AS tw FROM c),
    f AS (SELECT lang, least(1.0, 100 * power(c, 0.5) / tw / c) AS frac FROM c, t)
    SELECT d.doc_id, d.lang, round(f.frac, 6) AS keep_frac
    FROM documents d JOIN f USING (lang)
    WHERE CAST(('0x' || substr(md5('s0|' || coalesce(CAST(doc_id AS VARCHAR), '<null>')), 1, 8)) AS BIGINT) / 4294967296.0 < f.frac
    """,
    headline=False,
)
def q69_mixture_sample(spark, sf_dir):
    """Temperature-based mixture rebalancing (corpus.mixture_sample,
    alpha=0.5, budget=100) over the naturally skewed lang distribution
    (en is ~2.7x de in the corpus): per-group keep fraction
    min(1, budget * c^alpha / sum(c^alpha) / c), keep decision by the
    engine-portable md5 sample_hash. The oracle re-derives fractions
    and the exact kept set."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents")
    samp = C.mixture_sample(docs, group_col="lang", key_col="doc_id", alpha=0.5, budget=100)
    return samp.select("doc_id", "lang", "keep_frac")


# ----------------------------------------- LM-likelihood + DSIR weights

_WORDS_DUCK = (
    "list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9]+', ' ', 'g')), ' '), s -> s != '')"
)


@query(
    "q70_unigram_logprob",
    f"""
    WITH w AS (SELECT doc_id, unnest({_WORDS_DUCK}) AS term FROM documents),
    model AS (SELECT term, count(*) AS cf FROM w GROUP BY 1),
    s AS (SELECT sum(cf) AS T, count(*) AS V FROM model),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1,2)
    SELECT doc_id, sum(tf) AS n_tokens,
      round(sum(tf * -ln((cf + 0.5) / CAST(T + 0.5 * (V + 1) AS DOUBLE)))
            / CAST(sum(tf) AS DOUBLE), 6) AS avg_nll
    FROM tf JOIN model USING (term), s
    GROUP BY doc_id
    """,
)
def q70_unigram_logprob(spark, sf_dir):
    """CCNet-style LM-likelihood quality score, closed-form unigram
    variant (corpus.unigram_logprob_score): mean negative log-prob of
    each document's tokens under an add-0.5-smoothed unigram model fit
    on the corpus itself. Two explode passes (model + scoring) joined
    on the compact term key; T/V ride along as a 1-row broadcast. The
    oracle re-derives model and scores in SQL."""
    from capex_data_pipeline_spark.extensions import corpus as C

    return C.unigram_logprob_score(_t(spark, sf_dir, "documents"))


@query(
    "q71_importance_weights",
    f"""
    WITH w AS (SELECT doc_id, unnest({_WORDS_DUCK}) AS term FROM documents),
    wt AS (SELECT doc_id, unnest({_WORDS_DUCK}) AS term FROM documents WHERE lang = 'en'),
    raw AS (SELECT term, count(*) AS cf_raw FROM w GROUP BY 1),
    tgt AS (SELECT term, count(*) AS cf_tgt FROM wt GROUP BY 1),
    vocab AS (
      SELECT coalesce(raw.term, tgt.term) AS term,
             coalesce(cf_raw, 0) AS cf_raw, coalesce(cf_tgt, 0) AS cf_tgt
      FROM raw FULL JOIN tgt ON raw.term = tgt.term
    ),
    s AS (SELECT sum(cf_raw) AS Tr, sum(cf_tgt) AS Tt, count(*) AS V FROM vocab),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1,2)
    SELECT doc_id, sum(tf) AS n_tokens,
      round(sum(tf * (ln((cf_tgt + 0.5) / CAST(Tt + 0.5 * (V + 1) AS DOUBLE))
                   - ln((cf_raw + 0.5) / CAST(Tr + 0.5 * (V + 1) AS DOUBLE))))
            / CAST(sum(tf) AS DOUBLE), 6) AS avg_loglift
    FROM tf JOIN vocab USING (term), s
    GROUP BY doc_id
    """,
    headline=False,
)
def q71_importance_weights(spark, sf_dir):
    """DSIR-style importance weights (corpus.importance_weights): mean
    per-token log-likelihood ratio between a target-domain unigram
    model (here: the lang='en' slice as the domain exemplar) and the
    raw corpus model, add-0.5-smoothed over the union vocabulary so
    the ratio is always finite. High avg_loglift = looks like the
    target domain. The oracle re-derives both models and the ratio."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents")
    return C.importance_weights(docs, docs.filter(F.col("lang") == "en"))


# --------------------------------- semi-structured + profile analytics


@query(
    "q72_json_props_stats",
    r"""
    WITH aug AS (
      SELECT event_type,
             CASE WHEN event_id % 9 = 0 THEN replace(props, ':', ';') ELSE props END AS props
      FROM events
    ), p AS (
      SELECT event_type,
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract(props, '$.k') AS INT) END AS k
      FROM aug
    )
    SELECT event_type, count(*) AS n, count(k) AS n_parsed,
           sum(k) AS sum_k, round(avg(k), 4) AS avg_k, max(k) AS max_k
    FROM p GROUP BY 1
    """,
    headline=False,
)
def q72_json_props_stats(spark, sf_dir):
    """Schema-on-read over the semi-structured events.props JSON
    column: from_json with an explicit schema (PERMISSIVE null on
    malformed input), then per-event-type aggregates including the
    parse success count. Every ninth event's props is deterministically
    corrupted (':' -> ';', invalid JSON in any parser - Spark's Jackson
    accepts trailing garbage, so an append-corruption would not
    exercise the path) so the malformed-tolerance path does real work
    (the oracle gates on json_valid, DuckDB's PERMISSIVE equivalent).
    All JVM-native: one projection + one hash aggregate on the tiny
    event_type key."""
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    aug = ev.select(
        "event_type",
        F.when(
            F.col("event_id") % 9 == 0, F.replace(F.col("props"), F.lit(":"), F.lit(";"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = aug.select(
        "event_type", F.from_json(F.col("props"), "k INT")["k"].alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_parsed"),
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "q73_length_percentiles",
    r"""
    SELECT lang, count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
           round(quantile_cont(n_chars, 0.99), 4) AS p99_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
    headline=False,
)
def q73_length_percentiles(spark, sf_dir):
    """Corpus profile: exact interpolated length percentiles per
    language (Spark's percentile == DuckDB's quantile_cont, both
    linear interpolation) plus min/max — the distribution summary a
    curation pass reads before choosing chunking and filter
    thresholds. For 100 TB the same query swaps percentile for
    percentile_approx (t-digest, single-pass mergeable sketch) — the
    exact form is the oracle-checkable one."""
    from capex_data_pipeline_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90_chars"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ------------------------------------------------------- as-of join


@query(
    "q74_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts, value AS purchase_value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value AS click_value
          FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
           c.click_value AS click_value_asof, c.ts AS ts_asof
    FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q74_asof_join(spark, sf_dir):
    """Backward-inclusive as-of join (extensions/asof.py): every
    purchase event gets the latest same-user click at-or-before it —
    the point-in-time lookup Spark lacks as a primitive, composed as
    union + one running last(ignore nulls) window (one shuffle on the
    key, linear state, no range-join row explosion). The oracle is
    DuckDB's NATIVE ASOF JOIN — an independent engine's built-in
    implementation of the same semantics. The inner variant (matchless
    purchases dropped on both sides) keeps the compared frame free of
    null timestamps; the operator's left/tolerance semantics are
    pinned by tests/test_cleaning.py and test_timeseries.py."""
    from capex_data_pipeline_spark.extensions.asof import asof_join
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    return asof_join(purchases, clicks, on="user_id", time_col="ts").filter(
        F.col("ts_asof").isNotNull()
    )


# --------------------------------------------- incremental near-dedup

_NORM_D = "trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))"
_WORDS_D = f"string_split({_NORM_D}, ' ')"
_SHINGLES_D = f"""
  list_distinct(CASE WHEN len({_WORDS_D}) < 3
    THEN [array_to_string({_WORDS_D}, ' ')]
    ELSE list_transform(range(1, len({_WORDS_D}) - 1),
                        i -> array_to_string(({_WORDS_D})[i:i+2], ' '))
  END)
"""


@query(
    "q75_incremental_neardup",
    f"""
    WITH sig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_SHINGLES_D}, s -> md5(i || '|' || s)))) AS sig
      FROM documents
    ), banded AS (
      SELECT doc_id, sig, b,
             md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bhash
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) bands
    )
    SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS index_id,
           round(len(list_filter(range(1, 9), j -> n.sig[j] = i.sig[j])) / 8.0, 4)
             AS est_jaccard
    FROM banded n JOIN banded i
      ON n.b = i.b AND n.bhash = i.bhash AND n.doc_id <> i.doc_id
    WHERE n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0
      AND len(list_filter(range(1, 9), j -> n.sig[j] = i.sig[j])) / 8.0 >= 0.5
    """,
)
def q75_incremental_neardup(spark, sf_dir):
    """Incremental near-dedup (dedup.minhash_near_dups_incremental):
    the 'today's batch vs accumulated index' shape — docs with
    doc_id % 10 = 0 play the new batch, the rest the index. Bipartite
    band join instead of a corpus self-join, so cost scales with the
    batch, not the index. Identical signature math to q31; the oracle
    re-derives both sides' signatures and the bipartite candidate
    join in SQL."""
    from capex_data_pipeline_spark.extensions import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    return DD.minhash_near_dups_incremental(
        new, index, num_hashes=8, bands=4, threshold=0.5
    )


@query(
    "q104_split_leakage",
    """
    WITH aug AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 17 = 0
                  THEN 'shared boilerplate block ' || CAST(doc_id % 5 AS VARCHAR)
                  ELSE text END AS t
      FROM documents
    ), sp AS (
      SELECT md5(t) AS fingerprint,
             CASE WHEN h < 0.8 THEN 'train'
                  WHEN h < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT *,
              CAST(('0x' || substr(md5('s0|' || coalesce(CAST(source AS VARCHAR), '<null>')), 1, 8))
                   AS BIGINT) / 4294967296.0 AS h
            FROM aug)
    ), leaked AS (
      SELECT fingerprint FROM sp GROUP BY fingerprint
      HAVING count(DISTINCT split) > 1
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE fingerprint IN (SELECT fingerprint FROM leaked))
                AS BIGINT) AS n_leaked_rows
    FROM sp GROUP BY split ORDER BY split
    """,
)
def q104_split_leakage(spark, sf_dir):
    """Leakage-safe corpus split + cross-split duplicate audit: assign
    train/val/test by the md5 hash of the SOURCE (so correlated docs
    of one domain never straddle the boundary), then count exact
    duplicates whose fingerprint still crosses splits — the
    train-test contamination a group-wise split cannot prevent when
    the duplicate itself crosses groups. The corpus has no natural
    cross-source duplicate, so doc_id % 17 texts are rewritten to one
    of five shared boilerplate blocks (restated in the oracle) —
    every split AND both leaked/clean paths carry rows. The oracle
    re-derives the hash assignment, the multi-split fingerprint set,
    and the per-split counts."""
    from capex_data_pipeline_spark.extensions import corpus as C

    docs = _t(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "t",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                F.lit("shared boilerplate block "),
                (F.col("doc_id") % 5).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    sp = C.assign_split(
        aug, "source", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
    return C.split_leakage_report(
        sp.withColumn("fingerprint", F.md5(F.col("t"))),
        "split",
        "fingerprint",
    )


_SPAN_TAIL = (
    " shared disclaimer all rights reserved by the example corpus authors"
)
_SPAN_FOOT = (
    " standard footer generated for span dedup evaluation purposes only"
)


@query(
    "q106_duplicated_spans",
    """
    WITH aug AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 13 = 0
                   THEN text || ' shared disclaimer all rights reserved by the example corpus authors'
                   ELSE text END)
             || (CASE WHEN doc_id % 29 = 0
                      THEN ' standard footer generated for span dedup evaluation purposes only'
                      ELSE '' END) AS text
      FROM documents
    ), toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' '),
                         w -> w <> '') AS tk
      FROM aug
    ), sh AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(tk[pos+1 : pos+6], ' ')) AS h
      FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 5)) AS pos
            FROM toks WHERE len(tk) >= 6)
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM sh WHERE h IN (SELECT h FROM dup)
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + 6 - min(pos) AS span_len
      FROM isl GROUP BY doc_id, g
    )
    SELECT s.doc_id,
           CAST(s.span_start AS BIGINT) AS span_start,
           CAST(s.span_len AS BIGINT) AS span_len,
           array_to_string(t.tk[s.span_start+1 : s.span_start+s.span_len], ' ') AS span_text
    FROM spans s JOIN toks t USING (doc_id)
    """,
)
def q106_duplicated_spans(spark, sf_dir):
    """Substring-level duplicated-span dedup (Lee et al. suffix-array
    modality, shingle-fingerprint formulation): maximal runs of word
    6-shingles shared by >= 2 distinct documents, merged per document
    into (span_start, span_len, span_text) over the normalized token
    stream. The synthetic corpus has no natural long cross-doc spans,
    so doc_id % 13 docs get a shared 10-token disclaimer appended and
    doc_id % 29 docs a shared 9-token footer (restated in the
    oracle) — planted spans of both kinds plus their chance chains
    exercise islands longer than one shingle. The oracle re-derives
    positional shingles, the duplicated set, the gaps-and-islands
    merge, and the text slice in SQL."""
    from capex_data_pipeline_spark.extensions.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.col("text"), F.lit(_SPAN_TAIL)),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 29 == 0, F.lit(_SPAN_FOOT)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return duplicated_spans(aug, k=6)


@query(
    "q108_span_dedup_removal",
    """
    WITH aug AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 13 = 0
                   THEN text || ' shared disclaimer all rights reserved by the example corpus authors'
                   ELSE text END)
             || (CASE WHEN doc_id % 29 = 0
                      THEN ' standard footer generated for span dedup evaluation purposes only'
                      ELSE '' END) AS text
      FROM documents
    ), toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' '),
                         w -> w <> '') AS tk
      FROM aug
    ), sh AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(tk[pos+1 : pos+6], ' ')) AS h
      FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 5)) AS pos
            FROM toks WHERE len(tk) >= 6)
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM sh WHERE h IN (SELECT h FROM dup)
    ), spans0 AS (
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + 6 - min(pos) AS span_len
      FROM isl GROUP BY doc_id, g
    ), spans AS (
      SELECT s.doc_id, s.span_start, s.span_len,
             array_to_string(t.tk[s.span_start+1 : s.span_start+s.span_len], ' ') AS span_text
      FROM spans0 s JOIN toks t USING (doc_id)
    ), cuts AS (
      SELECT doc_id, span_start, span_len
      FROM (SELECT *, row_number() OVER (PARTITION BY span_text
                        ORDER BY doc_id, span_start) AS rk
            FROM spans)
      WHERE rk > 1
    ), tokrows AS (
      SELECT doc_id, pos, tk[pos] AS tok
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos
            FROM toks)
    ), kept AS (
      SELECT t.* FROM tokrows t
      WHERE NOT EXISTS (
        SELECT 1 FROM cuts c
        WHERE c.doc_id = t.doc_id
          AND t.pos - 1 >= c.span_start
          AND t.pos - 1 < c.span_start + c.span_len)
    ), agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct,
             count(*) AS nk
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.ct, '') AS cleaned_text,
           CAST(len(t.tk) - coalesce(a.nk, 0) AS BIGINT) AS n_removed_tokens
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
)
def q108_span_dedup_removal(spark, sf_dir):
    """The removal half of span dedup (dedup.remove_duplicated_spans):
    keep ONE canonical occurrence of every duplicated span (lowest
    (doc_id, span_start) per exact span text) and cut every other
    occurrence from its document's normalized token stream — q106
    finds, this fixes. Same planted disclaimer/footer augmentation as
    q106. The oracle replays spans, keeper election, and the
    position-filtered reassembly independently (NOT EXISTS over cut
    ranges + ordered string_agg)."""
    from capex_data_pipeline_spark.extensions.dedup import (
        remove_duplicated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.col("text"), F.lit(_SPAN_TAIL)),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 29 == 0, F.lit(_SPAN_FOOT)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return remove_duplicated_spans(aug, k=6)


@query(
    "q110_url_canonical",
    """
    WITH aug AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'https://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443/path/' || CAST(doc_id % 5 AS VARCHAR) || '/'
          WHEN 1 THEN 'https://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com/path/' || CAST(doc_id % 5 AS VARCHAR) || '?utm_source=x&b=2&a=1'
          WHEN 2 THEN 'https://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/path/' || CAST(doc_id % 5 AS VARCHAR) || '?a=1&b=2#frag'
          ELSE 'http://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com:80/path/' || CAST(doc_id % 5 AS VARCHAR) || '?b=2&a=1&gclid=zz'
        END AS url
      FROM documents
    ), parts AS (
      SELECT doc_id, url, sch,
        regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '^www\\.', '') AS host2,
        regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        regexp_extract(pathq, '^([^?]*)', 1) AS path,
        CASE WHEN strpos(pathq, '?') > 0
             THEN substring(pathq, length(regexp_extract(pathq, '^([^?]*)', 1)) + 2)
             ELSE '' END AS query
      FROM (
        SELECT doc_id, url,
          lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS sch,
          regexp_extract(regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '^([^/?]*)', 1) AS hostport,
          substring(regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),
                    length(regexp_extract(regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '^([^/?]*)', 1)) + 1) AS pathq
        FROM (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u FROM aug)
      )
    ), canon AS (
      SELECT doc_id, url,
        sch || '://' || host2
        || (CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80') OR (sch = 'https' AND port = '443'))
                 THEN ':' || port ELSE '' END)
        || regexp_replace(path, '/+$', '')
        || (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS canonical_url
      FROM (
        SELECT *,
          array_to_string(list_sort(list_filter(string_split(query, '&'),
            p -> p <> '' AND NOT regexp_matches(lower(regexp_extract(p, '^([^=]*)', 1)),
                   '^(utm_[a-z0-9]+|gclid|fbclid|ref|igshid|mc_cid|mc_eid)$'))), '&') AS q2
        FROM parts
      )
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_variants
    FROM canon GROUP BY 1
    """,
)
def q110_url_canonical(spark, sf_dir):
    """URL canonicalization + URL-level grouping
    (cleaning.canonical_url): lowercase scheme/host, strip www. /
    default ports / fragments / trailing slashes / tracking params,
    sort surviving query params — the canonical key C4-style "one
    page per URL" dedup groups by. The corpus carries no URLs, so
    each doc gets one of four messy variants (mixed-case host +
    explicit :443, utm-tagged, fragment-tagged, http :80 +
    gclid) derived from doc_id; variants of the same page collapse
    to one canonical key. Map-only normalization + one compact-key
    aggregate; the oracle restates every rule verbatim."""
    from capex_data_pipeline_spark.extensions.cleaning import canonical_url

    docs = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 7).cast("string")
    m = (F.col("doc_id") % 5).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://WWW.Example"), k, F.lit(".COM:443/path/"), m, F.lit("/")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://www.example"), k, F.lit(".com/path/"), m, F.lit("?utm_source=x&b=2&a=1")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://example"), k, F.lit(".com/path/"), m, F.lit("?a=1&b=2#frag")),
        )
        .otherwise(
            F.concat(F.lit("http://www.example"), k, F.lit(".com:80/path/"), m, F.lit("?b=2&a=1&gclid=zz")),
        )
    )
    aug = docs.select("doc_id", url.alias("url"))
    return (
        aug.select("url", canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("url").alias("n_variants"),
        )
    )


@query(
    "q111_repeated_spans",
    """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN text || ' ' || text
                  ELSE text END AS text
      FROM documents
    ), toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' '),
                         w -> w <> '') AS tk
      FROM aug
    ), sh AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(tk[pos+1 : pos+5], ' ')) AS h
      FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 4)) AS pos
            FROM toks WHERE len(tk) >= 5)
    ), d AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY doc_id, h) AS c
        FROM sh)
      WHERE c >= 2
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM d
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + 5 - min(pos) AS span_len
      FROM isl GROUP BY doc_id, g
    )
    SELECT s.doc_id,
           CAST(s.span_start AS BIGINT) AS span_start,
           CAST(s.span_len AS BIGINT) AS span_len,
           array_to_string(t.tk[s.span_start+1 : s.span_start+s.span_len], ' ') AS span_text
    FROM spans s JOIN toks t USING (doc_id)
    """,
)
def q111_repeated_spans(spark, sf_dir):
    """Within-document repeated-span localization
    (dedup.repeated_spans, k=5): maximal runs of word 5-shingles
    occurring >= 2 times inside the same document — the
    self-repetition half of the span-dedup modality (q106 is the
    cross-document half), localizing what repetition_metrics only
    scores. Every 9th doc is doubled (text || text) so guaranteed
    full-document self-repeats exist alongside the corpus's natural
    word-loop repeats. Per-(doc, shingle) counts come from ONE window
    on the compact digest key — no join-back; the oracle replays the
    window, the islands merge, and the slice."""
    from capex_data_pipeline_spark.extensions.dedup import repeated_spans

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return repeated_spans(aug, k=5)


@query(
    "q192_asof_nearest",
    """
    WITH p AS (SELECT event_id, user_id, ts, value AS purchase_value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, max(value) AS click_value
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    cand AS (
      SELECT p.event_id, c.click_value, c.ts AS cts,
             abs(epoch_us(p.ts) - epoch_us(c.ts)) AS d,
             CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS fwd
      FROM p JOIN c ON p.user_id = c.user_id
    ),
    best AS (
      SELECT event_id, click_value, cts,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY d, fwd) AS rn
      FROM cand
    )
    SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
           b.click_value AS click_value_asof, b.cts AS ts_asof
    FROM p LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      ON p.event_id = b.event_id
    """,
)
def q192_asof_nearest(spark, sf_dir):
    """NEAREST as-of join (asof.asof_join(direction='nearest')): every
    purchase matches the same-user click CLOSEST in time, either side,
    exact ties preferring the backward (no-lookahead) match — the
    sensor/market alignment q74's backward form can't express when
    the reference feed ticks AROUND the event rather than before it.
    Same union trick, both scan directions over ONE exchange, per-row
    arbitration; right rows deduped to distinct (user, ts) so the
    match is well-defined. The oracle is the quadratic per-user
    argmin with the identical (distance, direction) order."""
    from capex_data_pipeline_spark.extensions.asof import asof_join
    from capex_data_pipeline_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    return asof_join(
        purchases, clicks, on="user_id", time_col="ts",
        direction="nearest",
    )


@query(
    "q193_isotonic_calibration",
    """
    WITH s AS (
      SELECT CAST(floor(CAST(json_extract(props, '$.k') AS INT) * 16
                        / 100.0) AS INT) AS bin,
             CASE WHEN value > 0 THEN 1 ELSE 0 END AS y
      FROM events
      WHERE json_valid(props)
        AND json_extract(props, '$.k') IS NOT NULL
        AND value IS NOT NULL
    ),
    b AS (SELECT bin, count(*) AS n, sum(y) AS pos FROM s GROUP BY bin),
    o AS (SELECT bin, n, pos, row_number() OVER (ORDER BY bin) AS i FROM b),
    r AS (
      SELECT a.i AS j, c.i AS k,
             sum(m.pos)::DOUBLE / sum(m.n)::DOUBLE AS avg
      FROM o a JOIN o c ON a.i <= c.i
      JOIN o m ON m.i BETWEEN a.i AND c.i
      GROUP BY a.i, c.i
    ),
    mn AS (
      SELECT r.j, i2.i AS i, min(r.avg) AS minv
      FROM r JOIN o i2 ON r.k >= i2.i AND r.j <= i2.i
      GROUP BY r.j, i2.i
    ),
    fit AS (SELECT i, max(minv) AS fit FROM mn GROUP BY i)
    SELECT o.bin, o.n, o.pos AS n_pos,
           o.pos::DOUBLE / o.n::DOUBLE AS rate_raw,
           fit.fit AS rate_fit
    FROM o JOIN fit ON o.i = fit.i
    """,
)
def q193_isotonic_calibration(spark, sf_dir):
    """Isotonic score calibration (analytics.isotonic_calibrate):
    events binned by their JSON props score (k -> 16 bins), label =
    positive value; PAV pools every monotonicity violation into a
    non-decreasing calibrated rate. The engine runs the O(B) PAV
    stack on the bounded bin frame; the ORACLE computes the O(B^3)
    minimax characterization fit_i = max_{j<=i} min_{k>=i}
    avg(j..k) in SQL — two different algorithms for the same
    estimator agreeing bit-for-bit (every fitted value is one
    sum/sum divide of the same integer range totals) is the
    certification."""
    from capex_data_pipeline_spark.extensions.analytics import (
        isotonic_calibrate,
    )

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    binned = (
        ev.filter(k.isNotNull() & F.col("value").isNotNull())
        .select(
            F.floor(k * 16 / F.lit(100.0)).cast("int").alias("bin"),
            (F.col("value") > 0).cast("long").alias("y"),
        )
    )
    return isotonic_calibrate(binned, "bin", "y").select(
        "bin", "n",
        F.col("n_pos").alias("n_pos"),
        "rate_raw", "rate_fit",
    )


# ---- q208: string type-inference profile


_Q208_MIXED = """CASE WHEN o_orderkey % 11 = 0 THEN NULL
                     WHEN o_orderkey % 4 = 0 THEN 'true'
                     WHEN o_orderkey % 4 = 1 THEN '123'
                     WHEN o_orderkey % 4 = 2 THEN ''
                     ELSE 'abc' END"""


@query(
    "q208_string_type_profile",
    f"""
    WITH src AS (
      SELECT 'key_str' AS c, CAST(o_orderkey AS VARCHAR) AS v FROM orders
      UNION ALL
      SELECT 'date_str', CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'status_str', o_orderstatus FROM orders
      UNION ALL
      SELECT 'mixed_str', {_Q208_MIXED} FROM orders
    )
    SELECT c AS column_name,
           count(*)::BIGINT AS n,
           sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           sum(CASE WHEN v = '' THEN 1 ELSE 0 END)::BIGINT AS n_empty,
           round(sum(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+$')
                          THEN 1 ELSE 0 END)
                 / nullif(count(v), 0)::DOUBLE, 6) AS frac_int,
           round(sum(CASE WHEN regexp_matches(v,
                     '^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+|[0-9]+)$')
                          THEN 1 ELSE 0 END)
                 / nullif(count(v), 0)::DOUBLE, 6) AS frac_decimal,
           round(sum(CASE WHEN regexp_matches(v,
                     '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
                          THEN 1 ELSE 0 END)
                 / nullif(count(v), 0)::DOUBLE, 6) AS frac_date,
           round(sum(CASE WHEN lower(v) IN ('true', 'false')
                          THEN 1 ELSE 0 END)
                 / nullif(count(v), 0)::DOUBLE, 6) AS frac_bool,
           CASE
             WHEN count(v) = 0 THEN 'null'
             WHEN sum(CASE WHEN v <> '' THEN 1 ELSE 0 END) = 0 THEN 'empty'
             WHEN sum(CASE WHEN lower(v) IN ('true', 'false')
                           THEN 1 ELSE 0 END)
                  = sum(CASE WHEN v <> '' THEN 1 ELSE 0 END)
               THEN 'boolean'
             WHEN sum(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+$')
                           THEN 1 ELSE 0 END)
                  = sum(CASE WHEN v <> '' THEN 1 ELSE 0 END)
               THEN 'bigint'
             WHEN sum(CASE WHEN regexp_matches(v,
                           '^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+|[0-9]+)$')
                           THEN 1 ELSE 0 END)
                  = sum(CASE WHEN v <> '' THEN 1 ELSE 0 END)
               THEN 'double'
             WHEN sum(CASE WHEN regexp_matches(v,
                           '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$')
                           THEN 1 ELSE 0 END)
                  = sum(CASE WHEN v <> '' THEN 1 ELSE 0 END)
               THEN 'date'
             ELSE 'string'
           END AS inferred_type
    FROM src GROUP BY c
    """,
)
def q208_string_type_profile(spark, sf_dir):
    """Type-inference profiling of string columns
    (cleaning.string_type_profile) — the landing-zone schema-discovery
    step: per column, the fraction of values parsing as integer /
    decimal / ISO date / boolean, and the type the column can SAFELY
    be cast to. Exercised on four derived orders columns: stringified
    keys (all-int), stringified dates (all-date), status letters
    (plain strings), and a synthesized mixed column with NULLs,
    empties, booleans, ints and junk. Classification is anchored
    RE2-compatible regex, NOT try_cast — identical byte semantics on
    both engines (the cleaning-module convention) — in one melt pass
    + one aggregate per column. The oracle restates every pattern and
    the inference priority chain."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        string_type_profile,
    )

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    derived = o.select(
        k.cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        F.col("o_orderstatus").alias("status_str"),
        F.when(k % 11 == 0, F.lit(None).cast("string"))
        .when(k % 4 == 0, F.lit("true"))
        .when(k % 4 == 1, F.lit("123"))
        .when(k % 4 == 2, F.lit(""))
        .otherwise(F.lit("abc"))
        .alias("mixed_str"),
    )
    return string_type_profile(
        derived, ["key_str", "date_str", "status_str", "mixed_str"]
    )


# ---- q209: SCD type-2 validity-interval history


@query(
    "q209_scd2_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    changed AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id)) IS NULL AS is_current
    FROM changed
    """,
)
def q209_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension TYPE 2 history from the event
    changelog (cleaning.scd2_history): per user, validity intervals
    of the event_type state — consecutive identical states COLLAPSED
    (a re-emitted unchanged record extends the interval, never splits
    it), valid_to closed by the next CHANGE, NULL + is_current on the
    open interval. The warehouse primitive q103's CDC apply stops
    short of (latest state vs full history). Two windows over the
    same (user, ts, event_id) order — per-task state is one user's
    changelog. The oracle restates the null-safe change detection and
    the interval close."""
    from capex_data_pipeline_spark.extensions.cleaning import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(
        ev, "user_id", "ts", ["event_type"], id_col="event_id"
    )


# ---- q231: incremental SCD2 — today's snapshot folds into the
# persisted dimension (q209 composed with q198-style bucketed state)


@query(
    "q231_scd2_fold_persisted",
    """
    WITH snap AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             arg_max(event_type, event_id) AS state
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    ordered AS (
      SELECT user_id, state, d,
             lag(state) OVER (PARTITION BY user_id ORDER BY d) AS prev
      FROM snap
    ),
    changed AS (
      SELECT user_id, state, d FROM ordered
      WHERE prev IS NULL OR state IS DISTINCT FROM prev
    )
    SELECT user_id, state, d AS valid_from,
           lead(d) OVER (PARTITION BY user_id ORDER BY d) AS valid_to,
           (lead(d) OVER (PARTITION BY user_id ORDER BY d)) IS NULL
             AS is_current
    FROM changed
    """,
)
def q231_scd2_fold_persisted(spark, sf_dir):
    """SCD2 maintenance as a PERSISTED FOLD (state.scd2_fold_persisted)
    — the production shape q209's from-scratch derivation stops short
    of: the dimension (each user's end-of-day event_type state,
    deterministic max_by event_id within the day) lives as a parquet
    table bucketed on the user key; folding the latest day's snapshot
    closes changed rows (valid_to = snapshot day), inserts new
    versions, keeps unchanged/absent keys, and never touches closed
    history at all. The one state-sized operation — current-rows
    full-outer snapshot join on the key — streams the state from its
    buckets with zero Exchange (plan-pinned in tests/test_state.py);
    the batch-sized snapshot alone shuffles. Folding in day order
    reproduces scd2_history over the full changelog EXACTLY — this
    oracle derives that from-scratch history, certifying the fold's
    null-safe change detection and interval close."""
    import datetime

    from capex_data_pipeline_spark.extensions.cleaning import scd2_history
    from capex_data_pipeline_spark.extensions.state import (
        save_scd2_state,
        scd2_fold_persisted,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.date_trunc("day", F.col("ts")).cast("date")
    snap_all = ev.groupBy(
        F.col("user_id"), day.alias("d")
    ).agg(F.max_by("event_type", "event_id").alias("state"))
    last_day = snap_all.agg(F.max("d")).collect()[0][0]
    history = scd2_history(
        snap_all.filter(F.col("d") < F.lit(last_day)), "user_id", "d",
        ["state"],
    ).select("user_id", "state", "valid_from", "valid_to", "is_current")
    save_scd2_state(
        history, "user_id", "t_scd2_state_q231", n_buckets=8,
        path="/root/repo/spark-warehouse/t_scd2_state_q231",
    )
    today = snap_all.filter(F.col("d") == F.lit(last_day)).select(
        "user_id", "state"
    )
    return scd2_fold_persisted(
        spark, "t_scd2_state_q231", today, "user_id", ["state"], last_day
    )


# ---- q218: Benford first-digit audit


@query(
    "q218_benford_profile",
    """
    WITH c AS (
      SELECT CAST(round(abs(value) * 100) AS BIGINT) AS c FROM events
      WHERE value IS NOT NULL
        AND CAST(round(abs(value) * 100) AS BIGINT) > 0
    ),
    counts AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
             count(*)::BIGINT AS n
      FROM c GROUP BY 1
    ),
    tot AS (SELECT count(*)::BIGINT AS t FROM c),
    exp AS (SELECT * FROM (VALUES (1, 0.30103), (2, 0.176091), (3, 0.124939), (4, 0.09691), (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153), (9, 0.045757)) e(digit, benford_expected))
    SELECT e.digit, coalesce(cn.n, 0)::BIGINT AS n,
           round(coalesce(cn.n, 0) / nullif(t.t::DOUBLE, 0.0), 6) AS frac,
           e.benford_expected,
           round(coalesce(cn.n, 0) / nullif(t.t::DOUBLE, 0.0)
                 - e.benford_expected, 6) AS deviation
    FROM exp e LEFT JOIN counts cn ON cn.digit = e.digit CROSS JOIN tot t
    """,
)
def q218_benford_profile(spark, sf_dir):
    """First-significant-digit audit of event values against Benford's
    law (quality.benford_profile): organic multiplicative amounts lead
    with digit d at frequency log10(1 + 1/d); fabricated, truncated,
    or unit-capped data deviates — the forensic screen auditors run
    on amounts before trusting them. Digit extraction is INTEGER
    arithmetic on the cents-quantized magnitude (no float log10 at
    decade boundaries — engine-identical by construction), one
    map-side projection + one 9-cell aggregate. The oracle carries
    the same precomputed expected frequencies as literals, so both
    engines compare against identical constants."""
    from capex_data_pipeline_spark.extensions.quality import benford_profile

    return benford_profile(_t(spark, sf_dir, "events"), "value")


# ---- q235: referential-integrity (FK orphan) audit


def _q235_edge(name: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{name}' AS edge,
           (SELECT count(*)::BIGINT FROM {child}) AS n_child,
           (SELECT count(*)::BIGINT FROM {child} WHERE {fk} IS NULL)
             AS n_null_fk,
           (SELECT count(DISTINCT {fk})::BIGINT FROM {child}
            WHERE {fk} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = {fk}))
             AS n_orphan_keys,
           (SELECT count(*)::BIGINT FROM {child}
            WHERE {fk} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = {fk}))
             AS n_orphan_rows,
           round((SELECT count(*) FROM {child}
                  WHERE {fk} IS NOT NULL
                    AND NOT EXISTS (SELECT 1 FROM {parent} p
                                    WHERE p.{pk} = {fk}))
                 / nullif((SELECT count(*) FROM {child})::DOUBLE, 0.0), 6)
             AS orphan_row_frac
    """


_Q235_EDGES = [
    ("orders-customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem-orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem-part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("customer-nation", "customer", "c_nationkey", "nation", "n_nationkey"),
]


@query(
    "q235_fk_integrity",
    " UNION ALL ".join(f"({_q235_edge(*e)})" for e in _Q235_EDGES),
)
def q235_fk_integrity(spark, sf_dir):
    """Referential-integrity audit across the schema's FK edges
    (cleaning.referential_integrity_report): per edge, child rows
    whose non-NULL foreign key has no parent (orphans) + the NULL-FK
    count — the pre-join data contract a warehouse load checks before
    trusting inner joins. Per edge the orphan detection is a LEFT
    ANTI join of the child's DISTINCT keys against the parent key
    column: compact keys only; orphan ROW counts come from re-summing
    the child's per-key counts over the (tiny, broadcast) orphan-key
    frame — the child table itself is scanned once and never
    re-shuffled per edge. The oracle replays each edge with NOT
    EXISTS. On TPC-H-shaped data every orphan count is 0 — the report
    PROVING zero is the audit's point."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        referential_integrity_report,
    )

    t = {
        n: _t(spark, sf_dir, n)
        for n in ("orders", "customer", "lineitem", "part", "nation")
    }
    return referential_integrity_report(
        [
            ("orders-customer", t["orders"], "o_custkey",
             t["customer"], "c_custkey"),
            ("lineitem-orders", t["lineitem"], "l_orderkey",
             t["orders"], "o_orderkey"),
            ("lineitem-part", t["lineitem"], "l_partkey",
             t["part"], "p_partkey"),
            ("customer-nation", t["customer"], "c_nationkey",
             t["nation"], "n_nationkey"),
        ]
    )


# ---- q243: interpolated as-of join (linear between bracketing ticks)


@query(
    "q243_interpolated_asof",
    """
    WITH r AS (
      SELECT user_id AS uk, epoch_us(ts) AS t, 0 AS side,
             CAST(round(value * 100) AS BIGINT) AS rv,
             epoch_us(ts) AS rt, NULL::BIGINT AS eid
      FROM events WHERE event_type = 'view' AND value IS NOT NULL
    ),
    l AS (
      SELECT user_id AS uk, epoch_us(ts) AS t, 1 AS side,
             NULL::BIGINT AS rv, NULL::BIGINT AS rt, event_id AS eid
      FROM events WHERE event_type = 'purchase'
    ),
    u AS (SELECT * FROM r UNION ALL SELECT * FROM l),
    c AS (
      SELECT *,
             last_value(rv IGNORE NULLS) OVER
               (PARTITION BY uk ORDER BY t ASC, side ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bv,
             last_value(rt IGNORE NULLS) OVER
               (PARTITION BY uk ORDER BY t ASC, side ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bt,
             last_value(rv IGNORE NULLS) OVER
               (PARTITION BY uk ORDER BY t DESC, side ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
             last_value(rt IGNORE NULLS) OVER
               (PARTITION BY uk ORDER BY t DESC, side ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft
      FROM u
    )
    SELECT uk AS user_id, eid AS event_id,
           round(CASE
                   WHEN bt IS NOT NULL AND ft IS NOT NULL THEN
                     CASE WHEN ft = bt THEN bv::DOUBLE
                          ELSE bv::DOUBLE + (fv::DOUBLE - bv::DOUBLE)
                               * (t::DOUBLE - bt::DOUBLE)
                               / (ft::DOUBLE - bt::DOUBLE) END
                   WHEN bt IS NOT NULL THEN bv::DOUBLE
                   WHEN ft IS NOT NULL THEN fv::DOUBLE
                 END / 100.0, 6) AS value_interp,
           bt AS t_prev_us, ft AS t_next_us
    FROM c WHERE side = 1
    """,
)
def q243_interpolated_asof(spark, sf_dir):
    """As-of join with linear interpolation (asof.interpolated_asof):
    each purchase gets the user's 'view' value AT its instant,
    interpolated between the bracketing view observations (one-sided
    probes hold the available anchor; exact-time anchors win
    backward). Same no-join shape as q74/q192: ONE union of the
    tagged streams, one exchange, both direction scans as windows
    over the interleaved per-user timeline. Cents values + integer
    microseconds make the single double interpolation expression
    replay identically — the oracle runs the same two-directional
    IGNORE NULLS window carry."""
    from capex_data_pipeline_spark.extensions.asof import (
        interpolated_asof,
    )

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = interpolated_asof(left, right, "user_id", "ts", "value")
    return out.select(
        "user_id", "event_id", "value_interp", "t_prev_us", "t_next_us"
    )


# ---- q250: Flesch readability profile per source


@query(
    "q250_readability_profile",
    """
    WITH d AS (
      SELECT source,
             trim(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9]+', ' ', 'g')) AS norm,
             lower(coalesce(text, '')) AS lo,
             coalesce(text, '') AS raw
      FROM documents
    ),
    c AS (
      SELECT source,
             CASE WHEN norm = '' THEN 0
                  ELSE len(string_split(norm, ' ')) END::BIGINT AS w,
             greatest(
               CASE WHEN norm = '' THEN 0
                    ELSE len(string_split(norm, ' ')) END,
               len(regexp_extract_all(lo, '[aeiouy]+')))::BIGINT AS y,
             CASE WHEN norm = '' THEN 0
                  ELSE greatest(
                    len(list_filter(string_split_regex(raw, '[.!?]+'),
                                    s -> trim(s) <> '')), 1) END::BIGINT
               AS s
      FROM d
    ),
    agg AS (
      SELECT source, count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS words,
             sum(s)::BIGINT AS sentences, sum(y)::BIGINT AS syllables
      FROM c GROUP BY source
    )
    SELECT source, n_docs, words, sentences, syllables,
           round(CASE WHEN words > 0 AND sentences > 0 THEN
                   206.835 - 1.015 * (words / sentences::DOUBLE)
                   - 84.6 * (syllables / words::DOUBLE)
                 END, 6) AS flesch
    FROM agg
    """,
)
def q250_readability_profile(spark, sf_dir):
    """Flesch reading-ease per source (textstats.readability_profile)
    — the readability axis of text-quality curation beside q97's
    entropy and q41's heuristic score, with DETERMINISTIC heuristics
    (normalized-token words, [.!?]+ sentences with a min-1 floor per
    non-empty doc, [aeiouy]+ vowel-group syllables floored at one per
    word). One map-only codegen pass produces exact BIGINT counts;
    the two divisions happen once per source on the exact sums, in
    oracle-matched expression order."""
    from capex_data_pipeline_spark.extensions.textstats import (
        readability_profile,
    )

    return readability_profile(_t(spark, sf_dir, "documents"))


# ---- q260: join-cardinality contract (parent->child multiplicity)


def _q260_edge(name: str, pt: str, pk: str, ct: str, fk: str) -> str:
    return f"""
    SELECT '{name}' AS edge,
           count(*)::BIGINT AS n_parent_keys,
           coalesce(sum(CASE WHEN _pc > 1 THEN 1 END), 0)::BIGINT
             AS n_dup_parent_keys,
           coalesce(sum(CASE WHEN _cc = 0 THEN 1 END), 0)::BIGINT
             AS n_childless_keys,
           coalesce(max(_cc), 0)::BIGINT AS max_fanout,
           round(coalesce(sum(_cc), 0) / nullif(count(*)::DOUBLE, 0.0), 6)
             AS avg_fanout
    FROM (
      SELECT p._pc, coalesce(c._cc, 0) AS _cc
      FROM (SELECT {pk} AS k, count(*) AS _pc FROM {pt}
            WHERE {pk} IS NOT NULL GROUP BY 1) p
      LEFT JOIN (SELECT {fk} AS k, count(*) AS _cc FROM {ct}
                 WHERE {fk} IS NOT NULL GROUP BY 1) c ON c.k = p.k
    )"""


@query(
    "q260_join_multiplicity",
    "("
    + _q260_edge(
        "customer-orders", "customer", "c_custkey", "orders", "o_custkey"
    )
    + ") UNION ALL ("
    + _q260_edge(
        "orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"
    )
    + ")",
)
def q260_join_multiplicity(spark, sf_dir):
    """Join-cardinality contract profile for the two fact edges
    (cleaning.join_multiplicity_report): is the parent key really
    unique (n_dup_parent_keys = the broken "1" side), how does child
    fan-out distribute (max/avg over ALL parent keys), how many
    parents are childless — the parent->child half of the join
    contract whose child->parent half is q216's referential-
    integrity orphan report. Both sides collapse to per-key counts
    before one compact-key left join per edge. The oracle replays
    the per-key counts and the contract aggregate."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        join_multiplicity_report,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return join_multiplicity_report(
        [
            ("customer-orders", cust, "c_custkey", orders, "o_custkey"),
            ("orders-lineitem", orders, "o_orderkey", li, "l_orderkey"),
        ]
    )


# ---- q266: bitemporal snapshot (valid-time x transaction-time)

#: deterministic two-axis changelog synthesized from orders: every
#: order has a base version; %7 keys get a late-recorded CORRECTION
#: of the same valid version (+3 days tx); %11 keys get a genuinely
#: NEW version effective +10 days (recorded when effective)
_Q266_LOG = """
  SELECT o_orderkey AS k, o_orderstatus AS status,
         o_totalprice AS amount,
         CAST(o_orderdate AS DATE) AS valid_from,
         CAST(o_orderdate AS DATE) AS tx_from
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderstatus || '-corr', o_totalprice,
         CAST(o_orderdate AS DATE),
         CAST(o_orderdate AS DATE) + 3
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, 'v2', o_totalprice,
         CAST(o_orderdate AS DATE) + 10,
         CAST(o_orderdate AS DATE) + 10
  FROM orders WHERE o_orderkey % 11 = 0
"""

_Q266_V = "1997-06-30"
_Q266_T = "1997-07-04"


@query(
    "q266_bitemporal_snapshot",
    f"""
    WITH log AS ({_Q266_LOG}),
    known AS (
      SELECT * FROM log
      WHERE tx_from <= DATE '{_Q266_T}'
        AND valid_from <= DATE '{_Q266_V}'
    )
    SELECT k, status, amount, valid_from, tx_from FROM (
      SELECT *, row_number() OVER (
        PARTITION BY k ORDER BY valid_from DESC, tx_from DESC) AS rn
      FROM known
    ) WHERE rn = 1
    """,
)
def q266_bitemporal_snapshot(spark, sf_dir):
    """Bitemporal point query over a synthesized two-axis order
    changelog (cleaning.bitemporal_snapshot): the record set the
    system KNEW at 1997-07-04 about the state EFFECTIVE 1997-06-30 —
    base versions, late-recorded corrections (+3 days transaction
    lag, same valid version) and genuinely new versions (+10 days
    both axes). A correction recorded after T stays OUT of the
    snapshot even though it describes an older valid version — the
    as-reported audit semantics single-axis SCD2 (q209/q231) and CDC
    order (q103) each miss half of. One filter + one key-partitioned
    top-1 window; the oracle replays the changelog synthesis and the
    two-axis winner election."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        bitemporal_snapshot,
    )

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.col("o_orderdate").cast("date").alias("tx_from"),
    )
    corr = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.concat(F.col("o_orderstatus"), F.lit("-corr")).alias("status"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.date_add(F.col("o_orderdate").cast("date"), 3).alias("tx_from"),
    )
    v2 = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("v2").alias("status"),
        F.col("o_totalprice").alias("amount"),
        F.date_add(F.col("o_orderdate").cast("date"), 10).alias(
            "valid_from"
        ),
        F.date_add(F.col("o_orderdate").cast("date"), 10).alias(
            "tx_from"
        ),
    )
    log = base.unionByName(corr).unionByName(v2)
    return bitemporal_snapshot(
        log, ["k"], "valid_from", "tx_from",
        datetime.date(1997, 6, 30), datetime.date(1997, 7, 4),
    )
