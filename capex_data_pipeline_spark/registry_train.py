"""Round-7 model-training / curation-composition driver queries:
hashed logistic-regression training (q129), trigram perplexity
(q130), phrase search (q131), anchor-text aggregation (q132),
canonical-per-cluster election (q133), temperature mixture
resampling (q134), multi-source BFS hops (q135), hard-negative
mining (q136), c-TF-IDF source keywords (q137), stupid-backoff
cross-corpus perplexity (q138), boilerplate-header detection (q139),
and word-dropout augmentation (q140).

Same contract as ``registry``: every entry pairs the Spark operator
with a full DuckDB oracle restating the semantics independently —
iterative operators unroll their rounds in MATERIALIZED CTEs exactly
like q99/q113/q115/q117.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from capex_data_pipeline_spark.registry import _t, query

#: normalized word-token list, DuckDB side (same normalization as
#: registry_ml._WORDS_ML / extensions.dedup.normalized_text)
_WORDS_TR = (
    "list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
)

# ------------------------------------- q129: logistic-regression training

#: registered shape — 3 full-batch GD rounds over 64 md5 buckets with
#: lr=1.0; the label is "document mentions the word 'spark'", which a
#: hashed bag-of-words model CAN actually learn (the bucket holding
#: 'spark' takes a positive weight), so the trained model is a real
#: classifier, not noise
_TRAIN_ROUNDS = 3
_TRAIN_BUCKETS = 64
_TRAIN_LABEL_WORD = "spark"

#: per-doc md5 feature buckets, DuckDB side (binary presence, sorted
#: so the sequential weight fold is order-identical cross-engine)
_BUCKETS_SQL = (
    "list_sort(list_distinct(list_transform(ws, wd -> "
    "CAST(('0x' || substr(md5(wd), 1, 8)) AS BIGINT) "
    f"% {_TRAIN_BUCKETS})))"
)


def _logreg_round(r: int) -> str:
    """One unrolled GD round: residuals from w{r-1}, one bucket-key
    gradient aggregate (bias rides bucket -1), engine-rounded update."""
    prev = f"w{r - 1}"
    return f"""
    g{r} AS MATERIALIZED (
      SELECT k,
             round(sum(r_) / (SELECT n FROM nn), 6) + 0.0 AS g
      FROM (
        SELECT unnest(list_concat(d.bs, [CAST(-1 AS BIGINT)])) AS k,
               round(1.0 / (1.0 + exp(-round(
                 (CASE WHEN len(d.bs) = 0 THEN 0.0
                  ELSE round(list_reduce(
                         list_transform(d.bs, kk -> w.wv[CAST(kk AS INT) + 1]),
                         (a, b) -> a + b), 6) + 0.0 END) + w.b, 6)))
               , 6) + 0.0 - d.y AS r_
        FROM docs d, {prev} w
      ) GROUP BY 1
    ),
    w{r} AS MATERIALIZED (
      SELECT (SELECT list(round(w.wv[CAST(t.k AS INT) + 1]
                                - 1.0 * coalesce(g.g, 0.0), 6) + 0.0
                          ORDER BY t.k)
              FROM range(0, {_TRAIN_BUCKETS}) t(k)
              LEFT JOIN g{r} g ON g.k = t.k
              CROSS JOIN {prev} w) AS wv,
             (SELECT round(w.b - 1.0 * coalesce(
                       (SELECT g FROM g{r} WHERE k = -1), 0.0), 6) + 0.0
              FROM {prev} w) AS b
    )"""


def _logreg_sql() -> str:
    zeros = ", ".join(["0.0"] * _TRAIN_BUCKETS)
    ctes = [
        f"""docs AS MATERIALIZED (
      SELECT {_BUCKETS_SQL} AS bs,
             CAST(list_contains(ws, '{_TRAIN_LABEL_WORD}') AS INT) AS y
      FROM (SELECT {_WORDS_TR} AS ws FROM documents)
    )""",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs)",
        f"w0 AS (SELECT [{zeros}]::DOUBLE[] AS wv, 0.0 AS b)",
    ]
    ctes += [_logreg_round(r).strip() for r in range(1, _TRAIN_ROUNDS + 1)]
    last = f"w{_TRAIN_ROUNDS}"
    return f"""
    WITH {', '.join(ctes)}
    SELECT CAST(t.k AS INT) AS feature,
           w.wv[CAST(t.k AS INT) + 1] AS weight,
           CAST(round(w.wv[CAST(t.k AS INT) + 1] * 1000, 0) AS BIGINT)
             AS weight_milli
    FROM range(0, {_TRAIN_BUCKETS}) t(k), {last} w
    UNION ALL
    SELECT -1, w.b, CAST(round(w.b * 1000, 0) AS BIGINT) FROM {last} w
    """


@query("q129_logreg_train", _logreg_sql())
def q129_logreg_train(spark, sf_dir):
    """Hashed bag-of-words logistic-regression TRAINING
    (linalg.logreg_train, 3 full-batch GD rounds, 64 buckets): the
    training half of the fastText/DCLM quality-classifier pipeline
    whose inference half is q89 — the returned milli-unit weights plug
    straight into textstats.hashed_linear_score. Per round the corpus
    pays one map-only sigmoid-scoring pass (weights as plan literals)
    plus ONE 65-group gradient aggregate with map-side partials; the
    model rides the driver as 65 doubles. The label ("doc mentions
    'spark'") is engine-derived, so the whole train loop is
    re-derivable: the oracle replays tokenization, md5 bucketing, all
    3 rounds of residuals/gradients/updates, and the milli-unit
    quantization in unrolled MATERIALIZED CTEs."""
    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from capex_data_pipeline_spark.extensions.linalg import logreg_train

    docs = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(normalized_text(F.col("text")), " "), lambda s: s != ""
    )
    labeled = docs.select(
        "text",
        F.array_contains(words, _TRAIN_LABEL_WORD).cast("int").alias("y"),
    )
    return logreg_train(
        labeled,
        label_col="y",
        text_col="text",
        n_buckets=_TRAIN_BUCKETS,
        rounds=_TRAIN_ROUNDS,
        lr=1.0,
    )

# --------------------------------- q130: trigram perplexity filter


@query(
    "q130_trigram_perplexity",
    f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_WORDS_TR} AS ws FROM documents
    ),
    tri AS MATERIALIZED (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
            FROM toks WHERE len(ws) >= 3)
    ),
    c3 AS (
      SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
      FROM tri GROUP BY 1, 2, 3
    ),
    c2 AS (
      SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2 FROM c3 GROUP BY 1, 2
    ),
    vocab AS (
      SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(ws) AS w FROM toks)
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_trigrams,
             round(-avg(ln((c3.c3 + 0.5) / (c2.c2 + 0.5 * vocab.v))), 6)
               + 0.0 AS avg_nll
      FROM tri t
      JOIN c3 USING (w1, w2, w3)
      JOIN c2 USING (w1, w2), vocab
      GROUP BY 1
    )
    SELECT doc_id, n_trigrams, avg_nll,
           round(exp(avg_nll), 6) + 0.0 AS ppl
    FROM scored
    """,
)
def q130_trigram_perplexity(spark, sf_dir):
    """CCNet/KenLM-style perplexity filtering
    (corpus.trigram_perplexity): every document scored by mean
    negative log-likelihood under the corpus's own add-0.5-smoothed
    trigram LM. One tokenize pass builds a persisted (id, trigram)
    frame that feeds BOTH the count aggregates and the scoring joins
    (compact word-triple keys), then one per-document aggregate; V is
    a plan literal. avg_nll is rounded before the exp so both engines
    exponentiate identical inputs. The oracle replays counts, the
    smoothed probability, and both aggregates in plain SQL."""
    from capex_data_pipeline_spark.extensions.corpus import (
        trigram_perplexity,
    )

    return trigram_perplexity(_t(spark, sf_dir, "documents"))

# ------------------------------------------ q131: exact phrase search

#: registered phrase — two high-frequency vocab words that co-occur
#: adjacently throughout the synthetic corpus at every SF
_PHRASE = ("table", "value")


@query(
    "q131_phrase_search",
    f"""
    WITH toks AS (SELECT doc_id, {_WORDS_TR} AS ws FROM documents),
    m AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 2 THEN
               list_filter(range(1, len(ws)),
                           i -> ws[i] = '{_PHRASE[0]}'
                                AND ws[i + 1] = '{_PHRASE[1]}')
             ELSE [] END AS starts
      FROM toks
    )
    SELECT doc_id,
           CAST(len(starts) AS INT) AS n_matches,
           CAST(starts[1] AS INT) AS first_pos
    FROM m WHERE len(starts) > 0
    """,
)
def q131_phrase_search(spark, sf_dir):
    """Exact consecutive-phrase search (corpus.phrase_match_counts,
    phrase "table value"): MAP-ONLY — the phrase rides the plan as
    literals and the match scan is one higher-order filter over each
    document's token array (no posexplode, no postings shuffle, no
    join), so the whole operator is a single whole-stage-codegen pass
    over the corpus. The oracle replays tokenization, the candidate
    start-position filter, and the count/first-position read-out."""
    from capex_data_pipeline_spark.extensions.corpus import (
        phrase_match_counts,
    )

    return phrase_match_counts(
        _t(spark, sf_dir, "documents"), list(_PHRASE)
    )

# ------------------------------------ q132: anchor-text aggregation

#: the anchor regex, DuckDB-quoted (group 1 href, group 2 inner)
_ANCHOR_RE_SQL = (
    "'(?is)<a\\s[^>]*href\\s*=\\s*[\"'']([^\"'']*)[\"''][^>]*>(.*?)</a>'"
)


def _decode_sql(c: str) -> str:
    for ent, rep in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        c = f"replace({c}, '{ent}', '{rep}')"
    return c


#: deterministic page synthesis shared by the Spark query and the
#: oracle: a www'd mixed-case target with markup + entities in its
#: anchor, a sloppy-whitespace mirror anchor on even docs, an
#: always-dropped relative link, and an image-only (empty-text) anchor
_ANCHOR_PAGE_SQL = """
      '<html><body><a href="https://WWW.Site'
      || CAST(doc_id % 5 AS VARCHAR) || '.COM/p/'
      || CAST(doc_id AS VARCHAR) || '">Visit <b>Site</b> &amp; Co '
      || CAST(doc_id % 3 AS VARCHAR) || '</a>'
      || CASE WHEN doc_id % 2 = 0
              THEN '<a href=''http://mirror.example.net/x''>  mirror   link  </a>'
              ELSE '' END
      || '<a href=''/rel/x''>relative dropped</a>'
      || '<a href="https://img.example.org/i"><img src="x"/></a>'
      || '</body></html>'
"""


@query(
    "q132_anchor_texts",
    f"""
    WITH pages AS (
      SELECT {_ANCHOR_PAGE_SQL} AS html FROM documents
    ),
    lk AS (
      SELECT regexp_extract_all(html, {_ANCHOR_RE_SQL}, 1) AS us,
             regexp_extract_all(html, {_ANCHOR_RE_SQL}, 2) AS ts
      FROM pages
    ),
    pr AS (
      SELECT us[i] AS u, ts[i] AS t
      FROM (SELECT us, ts, unnest(range(1, len(us) + 1)) AS i FROM lk)
    ),
    cl AS (
      SELECT {_decode_sql('u')} AS u,
             regexp_replace(regexp_replace(
               {_decode_sql("regexp_replace(t, '<[^>]+>', ' ', 'g')")},
               '\\s+', ' ', 'g'), '^\\s+|\\s+$', '', 'g') AS t
      FROM pr
    )
    SELECT regexp_replace(lower(regexp_extract(u,
             'https?://([^/\\s:]+)', 1)), '^www\\.', '') AS dst_host,
           t AS anchor,
           CAST(count(*) AS BIGINT) AS n
    FROM cl
    WHERE regexp_matches(u, '^https?://') AND t <> ''
    GROUP BY 1, 2
    """,
)
def q132_anchor_texts(spark, sf_dir):
    """Anchor-text aggregation per target host
    (cleaning.anchor_texts): two regexp_extract_all passes over the
    same anchor regex (href + inner text) zipped positionally, anchor
    cleanup (nested-tag strip, entity decode, whitespace collapse),
    absolute-http(s) filter, host normalization, ONE compact-key
    (host, anchor) aggregate — how other pages describe a target, the
    signal behind anchor-text retrieval corpora and title inference.
    Pages are synthesized deterministically so every rule does real
    work (markup + entities inside the anchor, a sloppy-whitespace
    mirror anchor, a dropped relative link, an empty image-only
    anchor); the oracle replays harvest, zip, cleanup, and counts."""
    from capex_data_pipeline_spark.extensions.cleaning import anchor_texts

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(
            F.lit('<html><body><a href="https://WWW.Site'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".COM/p/"),
            F.col("doc_id").cast("string"),
            F.lit('">Visit <b>Site</b> &amp; Co '),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("</a>"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(
                    "<a href='http://mirror.example.net/x'>"
                    "  mirror   link  </a>"
                ),
            ).otherwise(F.lit("")),
            F.lit("<a href='/rel/x'>relative dropped</a>"),
            F.lit('<a href="https://img.example.org/i"><img src="x"/></a>'),
            F.lit("</body></html>"),
        ).alias("html"),
        F.lit("crawler").alias("src_host"),
    )
    return anchor_texts(pages)

# ------------------------ q133: canonical doc election per dedup cluster


def _q38_clusters_cte() -> str:
    """The proven q38 replay (MinHash signatures -> banded LSH pairs ->
    recursive-CTE transitive closure -> min-id labels, singletons
    included) as a reusable CTE prefix — shared by the q133 canonical
    election and the q190 survivorship oracles so the cluster
    definition can never drift between them."""
    from capex_data_pipeline_spark.oracle_frags import (
        SHINGLES_SQL as _SHINGLES,
    )

    return f"""sig AS (
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
    )"""


def _q133_sql() -> str:
    return f"""
    WITH RECURSIVE {_q38_clusters_cte()}, norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ), cnt AS (
      SELECT doc_id, len(cs) AS n,
             list_transform(list_distinct(cs),
               d -> len(list_filter(cs, c -> c = d))) AS counts
      FROM (SELECT doc_id,
                   list_filter(string_split(t, ''), c -> c <> '') AS cs
            FROM norm)
    ), q AS (
      SELECT doc_id,
             CASE WHEN n > 0 THEN
               round(ln(CAST(n AS DOUBLE))
                     - list_sum(list_transform(counts,
                         c -> c * ln(CAST(c AS DOUBLE)))) / n, 6) + 0.0
             END AS score
      FROM cnt
    ), ranked AS (
      SELECT c.cluster_id, c.doc_id, q.score,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY q.score DESC NULLS LAST, c.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      FROM allc c LEFT JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id AS canonical_doc_id, cluster_size,
           score AS canonical_score
    FROM ranked WHERE rn = 1
    """


@query("q133_cluster_canonical", _q133_sql())
def q133_cluster_canonical(spark, sf_dir):
    """Best-quality canonical document per near-dup cluster
    (dedup.cluster_canonical over q38's MinHash-LSH clusters with
    q97's char-entropy quality signal): the selection policy that
    turns clustering into a curation decision — keep the duplicate the
    quality score prefers, not an arbitrary min-id. One left join to
    attach scores plus ONE cluster-key window (deterministic: max
    score, NULLs last, ties to min id). The oracle composes the
    proven q38 signature/recursive-CC replay with q97's closed-form
    entropy and re-runs the election in SQL."""
    from capex_data_pipeline_spark.extensions import dedup as D
    from capex_data_pipeline_spark.extensions.dedup import (
        cluster_canonical,
    )
    from capex_data_pipeline_spark.extensions.textstats import (
        add_char_entropy,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(docs, num_hashes=8, bands=4, threshold=0.5)
    clusters = D.dedup_clusters(pairs, corpus=docs)
    quality = add_char_entropy(docs, "text").select(
        "doc_id", F.col("entropy_nats").alias("score")
    )
    return cluster_canonical(clusters, quality)

# -------------------------- q134: temperature mixture resampling


#: the synthetic sources are perfectly uniform (T-resampling would be
#: a no-op), so the registered query groups them into a skewed 3-lane
#: mixture first — 70% web / 20% books / 10% code — the realistic
#: shape the flattening rule exists for
_LANE_SQL = """
      CASE WHEN CAST(substr(source, 4) AS INT) < 14 THEN 'web'
           WHEN CAST(substr(source, 4) AS INT) < 18 THEN 'books'
           ELSE 'code' END
"""


@query(
    "q134_temperature_resample",
    f"""
    WITH lanes AS (
      SELECT doc_id, {_LANE_SQL} AS lane FROM documents
      WHERE source IS NOT NULL
    ),
    cnt AS (
      SELECT lane, CAST(count(*) AS DOUBLE) AS n FROM lanes GROUP BY 1
    ),
    w AS (
      SELECT lane,
             round(pow(round(n / (SELECT sum(n) FROM cnt), 6), -0.5), 6)
               + 0.0 AS w
      FROM cnt
    ),
    r AS (
      SELECT lane,
             round(w / (SELECT max(w) FROM w), 6) + 0.0 AS rate
      FROM w
    )
    SELECT d.doc_id, d.lane, r.rate
    FROM lanes d JOIN r USING (lane)
    WHERE CAST(('0x' || substr(md5('s0|' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) / 4294967296.0 < r.rate
    """,
)
def q134_temperature_resample(spark, sf_dir):
    """Temperature-based mixture resampling at T=2
    (corpus.temperature_resample): per-lane keep-rates
    ∝ share^(1/T−1) scaled to max 1 — the mT5/XLM-R mixture-flattening
    rule as deterministic filtering, over a skewed 3-lane mixture
    (70/20/10) derived from the uniform synthetic sources so the rule
    does real work. ONE tiny lane-count aggregate + 1-row total/max
    broadcasts derive the rates; the corpus pays one scan through a
    broadcast join and the md5 sample_hash filter (zero corpus
    shuffles). Rates are engine-rounded so the oracle re-derives the
    exact keep set: it replays counts, the pow reweight, the max
    normalization, and the hash filter."""
    from capex_data_pipeline_spark.extensions.corpus import (
        temperature_resample,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    srcnum = F.substring("source", 4, 10).cast("int")
    lanes = docs.select(
        "doc_id",
        F.when(srcnum < 14, F.lit("web"))
        .when(srcnum < 18, F.lit("books"))
        .otherwise(F.lit("code"))
        .alias("lane"),
    )
    return temperature_resample(lanes, temperature=2.0, source_col="lane")

# ----------------------------- q135: multi-source BFS hop distance

_BFS_ROUNDS = 4
_BFS_SEEDS = (1, 2)


def _bfs_sql() -> str:
    from capex_data_pipeline_spark.oracle_frags import (
        COPURCHASE_SQL as _COPURCH,
    )

    seeds = ", ".join(str(s) for s in _BFS_SEEDS)
    ctes = [
        f"pairs AS MATERIALIZED ({_COPURCH})",
        """sym AS MATERIALIZED (
      SELECT a AS u, b AS v FROM pairs
      UNION ALL SELECT b AS u, a AS v FROM pairs
    )""",
        f"d0 AS (SELECT CAST(unnest([{seeds}]) AS BIGINT) AS vertex,"
        " CAST(0 AS INT) AS hops)",
        "f0 AS (SELECT vertex FROM d0)",
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        ctes.append(f"""f{r} AS MATERIALIZED (
      SELECT DISTINCT s.v AS vertex
      FROM f{r - 1} f JOIN sym s ON s.u = f.vertex
      WHERE s.v NOT IN (SELECT vertex FROM d{r - 1})
    )""")
        ctes.append(f"""d{r} AS MATERIALIZED (
      SELECT * FROM d{r - 1}
      UNION ALL SELECT vertex, CAST({r} AS INT) FROM f{r}
    )""")
    return f"WITH {', '.join(ctes)} SELECT * FROM d{_BFS_ROUNDS}"


@query("q135_bfs_hops", _bfs_sql())
def q135_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop distance on the co-purchase graph
    (graph.bfs_hops, seeds = parts {1, 2}, 4 rounds): frontier
    expansion — each round joins only the PREVIOUS frontier to the
    symmetric edge frame then anti-joins the visited set, so total
    work is O(m) across all rounds (each edge crossed at most twice),
    not O(m·rounds); BFS's first-visit-is-shortest property needs no
    per-vertex min bookkeeping. The crawl-depth / blast-radius /
    k-hop-neighborhood primitive. The oracle unrolls all 4
    frontier/visited rounds as materialized CTEs."""
    from capex_data_pipeline_spark.extensions.graph import bfs_hops
    from capex_data_pipeline_spark.registry_graph import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    return bfs_hops(
        edges,
        sources=list(_BFS_SEEDS),
        rounds=_BFS_ROUNDS,
        src_col="a",
        dst_col="b",
        assume_canonical=True,
    )

# ------------------------------ q136: hard-negative mining (contrastive)


@query(
    "q136_hard_negatives",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))),
                   4) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id AND e.label <> q.ql
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC)
                AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q136_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negatives, queries =
    vec_id < 5, k=5): the most-similar DIFFERENT-label vectors per
    query — the between-epoch mining step of DPR/ANCE-style
    contrastive embedding training. Same broadcast-query/one-scan/
    WindowGroupLimit shape as q34 with the label-inequality predicate
    folded into the join so same-label candidates die before the
    window. Vectors cast float→double pre-arithmetic for IEEE parity;
    the oracle replays scoring, the label filter, and the ranking."""
    from capex_data_pipeline_spark.extensions.similarity import (
        hard_negatives,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
    )
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 5), k=5)

# --------------------------- q137: c-TF-IDF per-source keyword report


@query(
    "q137_class_tfidf",
    f"""
    WITH gt AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT source, unnest({_WORDS_TR}) AS term
            FROM documents WHERE source IS NOT NULL)
      GROUP BY 1, 2
    ),
    ft AS (SELECT term, sum(tf) AS ft FROM gt GROUP BY 1),
    a AS (
      SELECT round(avg(gn), 6) + 0.0 AS a
      FROM (SELECT sum(tf) AS gn FROM gt GROUP BY source)
    ),
    scored AS (
      SELECT gt.source, gt.term, gt.tf,
             round(gt.tf * ln(1.0 + a.a / ft.ft), 6) + 0.0 AS score
      FROM gt JOIN ft USING (term), a
    )
    SELECT source, term, tf, score, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY source
                     ORDER BY score DESC, term ASC) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q137_class_tfidf(spark, sf_dir):
    """Per-source distinctive-term report via class-based TF-IDF
    (corpus.class_tfidf_topk, BERTopic's c-TF-IDF): each source
    scored as one pseudo-document, term weight = tf · ln(1 + A/f_t).
    ONE corpus explode+aggregate on compact (source, term) keys;
    corpus-wide frequencies, the A scalar, the join, and the top-5
    window all run vocab-sized. The oracle replays counts, the
    formula, and the ranking."""
    from capex_data_pipeline_spark.extensions.corpus import (
        class_tfidf_topk,
    )

    return class_tfidf_topk(_t(spark, sf_dir, "documents"), topk=5)

# ------------------ q138: cross-corpus stupid-backoff perplexity

#: deterministic md5 train-slice rate (the "clean reference corpus")
_LM_SLICE = 0.3


@query(
    "q138_backoff_perplexity",
    f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_WORDS_TR} AS ws FROM documents
    ),
    tr AS MATERIALIZED (
      SELECT ws FROM toks
      WHERE CAST(('0x' || substr(md5('lm|' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) / 4294967296.0 < {_LM_SLICE}
    ),
    ttri AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
      FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i
            FROM tr WHERE len(ws) >= 3)
    ),
    c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM ttri GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, sum(c123) AS c12 FROM c123 GROUP BY 1, 2),
    tbig AS (
      SELECT ws[i] AS wa, ws[i + 1] AS wb
      FROM (SELECT ws, unnest(range(1, len(ws))) AS i
            FROM tr WHERE len(ws) >= 2)
    ),
    c23 AS (SELECT wa, wb, count(*) AS c23 FROM tbig GROUP BY 1, 2),
    uni AS (SELECT unnest(ws) AS w FROM tr),
    c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
    nv AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                  CAST(count(DISTINCT w) AS DOUBLE) AS v FROM uni),
    ctri AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
            FROM toks WHERE len(ws) >= 3)
    ),
    scored AS (
      SELECT t.doc_id,
             ln(CASE WHEN c123.c123 IS NOT NULL
                     THEN CAST(c123.c123 AS DOUBLE) / c12.c12
                     ELSE 0.4 * (CASE WHEN c23.c23 IS NOT NULL
                                      THEN CAST(c23.c23 AS DOUBLE) / c2g.c1
                                      ELSE 0.4 * ((coalesce(c1g.c1, 0) + 0.5)
                                                  / (nv.n + 0.5 * nv.v)) END)
                END) AS lp,
             CASE WHEN c123.c123 IS NOT NULL THEN 1 ELSE 0 END AS hit3
      FROM ctri t
      LEFT JOIN c123 USING (w1, w2, w3)
      LEFT JOIN c12 USING (w1, w2)
      LEFT JOIN c23 ON c23.wa = t.w2 AND c23.wb = t.w3
      LEFT JOIN c1 c2g ON c2g.w = t.w2
      LEFT JOIN c1 c1g ON c1g.w = t.w3
      CROSS JOIN nv
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
             CAST(sum(hit3) AS BIGINT) AS n_hit3,
             round(-avg(lp), 6) + 0.0 AS avg_nll
      FROM scored GROUP BY 1
    )
    SELECT doc_id, n_trigrams, n_hit3, avg_nll,
           round(exp(avg_nll), 6) + 0.0 AS ppl
    FROM agg
    """,
)
def q138_backoff_perplexity(spark, sf_dir):
    """Cross-corpus perplexity with stupid backoff
    (corpus.backoff_perplexity): a trigram LM counted on the
    deterministic md5 30% train slice scores EVERY document, with the
    Brants-et-al backoff chain trigram → bigram → smoothed unigram
    doing real work on out-of-slice text (n_hit3 audits the backoff
    rate per doc) — the actual CCNet setup q130's scores-itself LM
    can't exercise. Train-slice counts are compact word-key
    aggregates; the corpus pays one tokenize pass LEFT-joined to the
    count frames; N/V ride the plan as literals. The oracle replays
    the slice, all four count spaces, the backoff CASE chain, and
    both aggregates."""
    from capex_data_pipeline_spark.extensions.corpus import (
        backoff_perplexity,
        sample_hash,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(
        sample_hash(F.col("doc_id"), "lm") < F.lit(_LM_SLICE)
    )
    return backoff_perplexity(docs, train)

# -------------------- q139: per-source boilerplate header detection

#: the synthetic docs are single-line, so the registered query
#: synthesizes the crawl-template situation deterministically: sources
#: src0..src9 prepend their site banner to 60% of their pages
#: (keyed on doc_id//20, which is independent of the source = doc_id%20
#: assignment, so every bannered source truly mixes banner and clean); the
#: other sources stay banner-free and must NOT be reported
_HDR_PAGE_SQL = """
      CASE WHEN CAST(substr(source, 4) AS INT) < 10 AND (doc_id // 20) % 5 < 3
           THEN 'Welcome to ' || source || ' | Home | Login' || chr(10) || text
           ELSE text END
"""


@query(
    "q139_boilerplate_headers",
    f"""
    WITH pages AS (
      SELECT doc_id, source, {_HDR_PAGE_SQL} AS text FROM documents
      WHERE source IS NOT NULL
    ),
    fl AS (
      SELECT source,
             regexp_replace(split_part(coalesce(text, ''), chr(10), 1),
                            '^\\s+|\\s+$', '', 'g') AS header
      FROM pages
    ),
    gl AS (
      SELECT source, header, CAST(count(*) AS BIGINT) AS n_docs
      FROM fl WHERE header <> '' GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(n_docs) AS tot FROM gl GROUP BY 1)
    SELECT source, header, n_docs, share, rank FROM (
      SELECT gl.source, gl.header, gl.n_docs,
             round(CAST(gl.n_docs AS DOUBLE) / tot.tot, 6) + 0.0 AS share,
             CAST(row_number() OVER (PARTITION BY gl.source
                  ORDER BY gl.n_docs DESC, gl.header ASC) AS INT) AS rank
      FROM gl JOIN tot USING (source)
    ) WHERE rank <= 1 AND share >= 0.2
    """,
)
def q139_boilerplate_headers(spark, sf_dir):
    """Per-source boilerplate header detection
    (cleaning.boilerplate_headers): the most common first line per
    source with its share — crawl-template banners dominate a source's
    first-line distribution and get reported for stripping; diverse
    sources report nothing. First line is a map-only projection; ONE
    compact (source, line) aggregate; share/rank run on the tiny
    counts frame. Bannered pages are synthesized deterministically
    for src0..src9 (60% of their docs) so both the detection and the
    no-banner negative lanes do real work; the oracle replays the
    synthesis, first-line extraction, counts, and the share gate."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        boilerplate_headers,
    )

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    srcnum = F.substring("source", 4, 10).cast("int")
    pages = docs.select(
        "doc_id",
        "source",
        F.when(
            (srcnum < 10) & ((F.col("doc_id") / 20).cast("long") % 5 < 3),
            F.concat(
                F.lit("Welcome to "),
                F.col("source"),
                F.lit(" | Home | Login\n"),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return boilerplate_headers(pages, min_share=0.2, topk=1)

# ---------------------------- q140: word-dropout augmentation


@query(
    "q140_word_dropout",
    f"""
    WITH toks AS (SELECT doc_id, {_WORDS_TR} AS ws FROM documents),
    kept AS (
      SELECT doc_id, ws,
             list_filter(ws, (w, i) ->
               CAST(('0x' || substr(md5('s0|' || CAST(doc_id AS VARCHAR)
                                     || '|' || CAST(i AS VARCHAR)), 1, 8))
                    AS BIGINT) / 4294967296.0 >= 0.1) AS ks
      FROM toks
    )
    SELECT doc_id,
           array_to_string(ks, ' ') AS text_aug,
           CAST(len(ws) AS INT) AS n_tokens,
           CAST(len(ws) - len(ks) AS INT) AS n_dropped
    FROM kept
    """,
)
def q140_word_dropout(spark, sf_dir):
    """Deterministic word-dropout augmentation at p=0.1
    (corpus.word_dropout): each token dropped by the md5 hash of
    (seed, doc id, 1-based position) — re-derivable augmentation, same
    engine-portability contract as the sampling family. MAP-ONLY (one
    indexed higher-order filter + array_join, no shuffle, no Python);
    the oracle replays tokenization, the per-position hash decision
    (DuckDB's 1-based lambda index == the engine's i+1), and the
    rebuild."""
    from capex_data_pipeline_spark.extensions.corpus import word_dropout

    return word_dropout(_t(spark, sf_dir, "documents"), p=0.1)

# ------------------------- q141: reciprocal-rank fusion (hybrid search)


@query(
    "q141_rrf_fusion",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    cosr AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                  e.embedding::DOUBLE[]))),
                       4) DESC, e.vec_id ASC) AS rank
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
      ) WHERE rank <= 10
    ),
    dotr AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.qv, e.embedding::DOUBLE[]), 4)
                 DESC, e.vec_id ASC) AS rank
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
      ) WHERE rank <= 10
    ),
    u AS (
      SELECT query_id, neighbor_id, 1.0 / (60.0 + rank) AS t FROM cosr
      UNION ALL
      SELECT query_id, neighbor_id, 1.0 / (60.0 + rank) AS t FROM dotr
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             CAST(count(*) AS BIGINT) AS n_rankers,
             round(sum(t), 6) + 0.0 AS rrf_score
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, n_rankers, rrf_score, fused_rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY rrf_score DESC, neighbor_id ASC) AS INT)
                AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
    """,
)
def q141_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (similarity.rrf_fuse, Cormack et al.
    2009, k=60): the calibration-free hybrid-retrieval combiner, fusing
    two independent rankings of the same query batch (exact cosine
    top-10 and exact dot-product top-10 — the normalized vs
    magnitude-sensitive views genuinely disagree on ranking). Work
    downstream of the rankers is Σ-candidates-sized: one union, ONE
    (query, doc) aggregate, one per-query window. The oracle replays
    both rankings, the reciprocal terms, and the fused ranking."""
    from capex_data_pipeline_spark.extensions.similarity import (
        _dot,
        cosine_topk,
        rrf_fuse,
    )
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
    )
    queries = emb.filter(F.col("vec_id") < 5)
    cos = cosine_topk(emb, queries, k=10)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    dot = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("qv"), F.col("cv")), 4).alias("dot"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    return rrf_fuse([cos, dot], k=60, topk=10)

# -------------------- q142: shingle containment over LSH candidates


def _q142_sql() -> str:
    from capex_data_pipeline_spark.oracle_frags import (
        SHINGLES_SQL as _SHINGLES,
    )

    return f"""
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
                   / CAST(least(len(sa.sh), len(sb.sh)) AS DOUBLE),
                   4) AS containment
      FROM cand
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
    )
    SELECT * FROM scored WHERE containment >= 0.5
    """


@query("q142_shingle_containment", _q142_sql())
def q142_shingle_containment(spark, sf_dir):
    """EXACT shingle containment |A∩B|/min(|A|,|B|) over the q33
    MinHash-LSH candidate pairs (dedup.ngram_jaccard_pairs with
    measure='containment'): scores 1.0 when the smaller document's
    shingles sit fully inside the larger — trimmed re-posts and
    quote-with-commentary that symmetric Jaccard under-scores. Same
    banded candidate shape as q33 (no all-pairs join; the recall
    contract is the Jaccard S-curve — extreme small-inside-huge pairs
    belong to the span-level q106 machinery, stated in the
    docstring). The oracle replays signatures, banding, candidates,
    and the containment score."""
    from capex_data_pipeline_spark.extensions import dedup as D

    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        k=3,
        threshold=0.5,
        num_hashes=8,
        bands=8,
        measure="containment",
    )


# ------------------- q143: sqrt(N)-sized IVF ANN (build/query split)

_Q143_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    "    * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


#: the q143 IVF chain (sqrt sizing -> centers -> assignment ->
#: probes -> exact re-rank "scored"), shared by the q147 recall
#: oracle so eval and index replay the SAME approximation
_Q143_CHAIN = f"""
nc AS (
      SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS n
      FROM embeddings
    ), ctr AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
               AS cell,
             embedding
      FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id
      LIMIT (SELECT n FROM nc)
    ), sim AS (
      SELECT e.vec_id, c.cell,
             {_Q143_COS.format(a='e.embedding', b='c.embedding')} AS s
      FROM embeddings e, ctr c
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn
        FROM sim
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn
        FROM sim WHERE vec_id < 5
      ) WHERE rn <= 8
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             round({_Q143_COS.format(a='eq.embedding', b='en.embedding')}, 4)
               AS cosine
      FROM cand
      JOIN embeddings eq ON eq.vec_id = query_id
      JOIN embeddings en ON en.vec_id = neighbor_id
    )
"""


@query(
    "q143_ivf_sqrt",
    f"""
    WITH {_Q143_CHAIN}
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC)
                AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q143_ivf_sqrt(spark, sf_dir):
    """sqrt(N)-sized IVF ANN through the PRODUCTION build/query split
    (similarity.ivf_build + ivf_query): ceil(sqrt(N)) cells — the IVF
    operating point where per-query cell-scan cost and probe cost
    balance, fixing the r7 stress finding that FIXED 16 cells is
    slower than brute force at 400k vectors — deterministic
    sample-from-data centers (md5 pick), cell assignment as ONE
    Arrow-batched numpy matmul per batch (the scale path: BLAS, no
    10^5-literal plan), nprobe=8 probe, exact cosine re-rank inside
    probed cells only. Assignment tie-break (stable argmax = lowest
    cell) matches the oracle's ORDER BY s DESC, cell ASC; the oracle
    re-derives sqrt sizing, center pick, assignment, probes, and
    re-rank closed-form. Recall on structureless synthetic vectors is
    ~nprobe/n_cells by construction (documented; real embedding
    corpora cluster, which is the premise of IVF) — correctness here
    is value-exactness of the approximate result, and the recall
    bound vs brute force is asserted in tests/test_ml.py."""
    from capex_data_pipeline_spark.extensions.similarity import (
        ivf_build,
        ivf_query,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    assigned, centers = ivf_build(
        emb, centers_mode="sample", assign="arrow", materialize=False
    )
    return ivf_query(assigned, centers, queries, k=10, nprobe=8)


# ------------- q144: perceptual-hash image near-dup (multimodal dedup)


#: the q144 perceptual-hash chain (char-grid -> 60-bit dHash ->
#: pigeonhole segments -> candidate pairs with hamming), shared by
#: the q148 clustering oracle
_Q144_CHAIN = """
g AS (
      SELECT doc_id,
             list_transform(range(0, 72), i ->
               CASE WHEN length(text) > i
                    THEN ascii(substr(text, CAST(i + 1 AS INTEGER), 1))
                    ELSE 0 END) AS px
      FROM documents
    ), h AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 60), b ->
               CASE WHEN px[CAST(b // 8 AS INTEGER) * 9
                            + CAST(b % 8 AS INTEGER) + 1]
                         < px[CAST(b // 8 AS INTEGER) * 9
                              + CAST(b % 8 AS INTEGER) + 2]
                    THEN (1::BIGINT << CAST(b AS INTEGER))
                    ELSE 0::BIGINT END))::BIGINT AS sh
      FROM g
    ), segs AS (
      SELECT doc_id, sh, seg_i, (sh >> (seg_i * 15)) & 32767 AS seg_v
      FROM h, unnest([0, 1, 2, 3]) AS t(seg_i)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.sh, b.sh)) AS hamming
      FROM segs a JOIN segs b
        ON a.seg_i = b.seg_i AND a.seg_v = b.seg_v
           AND a.doc_id < b.doc_id
    )
"""


@query(
    "q144_image_neardup",
    f"""
    WITH {_Q144_CHAIN}
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def q144_image_neardup(spark, sf_dir):
    """Perceptual-hash image near-duplicate pairs — the multimodal
    half of the LLM dedup story (multimodal.image_near_dups): dHash
    fingerprints (Krawetz 2013: 8×9 gray grid, bit = left<right
    gradient) computed in ONE Arrow-batched mapInPandas pass, then the
    SAME segment-split pigeonhole candidate join the text simhash
    family uses (dedup.hamming_near_dups / _pigeonhole_pairs:
    4 segments of a 60-bit hash guarantee any pair within hamming 3
    shares a segment — equi-join on compact keys, never all-pairs,
    pixels never shuffle). The registered instance feeds the hash the
    deterministic char-grid pixelizer (code points as 'pixels', grid
    exactly 8×9 so the box resize is the identity and every step is
    exact integer logic) — which is what lets the oracle replay grid
    → hash → segments → pairs value-exactly in SQL; production swaps
    in multimodal.gray_pixels (REAL stdlib BMP/PNG/baseline-JPEG
    decode → area resize → dHash/aHash, unit-tested on genuine
    container bytes in tests/test_multimodal-family suites) with zero
    engine changes."""
    from capex_data_pipeline_spark.extensions.multimodal import (
        char_grid_pixelizer,
        documents_as_media,
        image_near_dups,
    )

    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return image_near_dups(
        media,
        pixelizer=char_grid_pixelizer,
        kind="dhash",
        n_bits=60,
        max_hamming=3,
    )


# -------- q145: unigram-LM (SentencePiece-style) tokenizer training

_Q145_NORM = (
    "trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))"
)


def _q145_seg_cte(name: str, pieces: str, rname: str) -> str:
    """One Viterbi-EM E-step as a recursive CTE: enumerate every
    segmentation of every distinct word over the current piece table
    (each recursion step extends a partial path by one matching
    piece); the consumer picks min (cost, path) per word. Unique
    ``rname`` per round — two recursive CTEs sharing an inner name
    bind wrong (discovered empirically: the chain silently yields 0
    rows)."""
    return f"""
    {name} AS (
      SELECT * FROM (
        WITH RECURSIVE {rname}(word, pos, cost, path) AS (
          SELECT word, 0, 0.0::DOUBLE, '' FROM w
          UNION ALL
          SELECT {rname}.word, {rname}.pos + length(p.piece),
                 {rname}.cost + p.cost, {rname}.path || '|' || p.piece
          FROM {rname} JOIN {pieces} p
            ON substr({rname}.word, {rname}.pos + 1, length(p.piece))
               = p.piece
          WHERE {rname}.pos < length({rname}.word)
        ) SELECT * FROM {rname}
      ) s
    )"""


#: the q145 training chain (CTEs w -> seed -> p0 -> EM rounds -> kept),
#: shared verbatim by the q146 encode oracle so the two queries replay
#: the SAME model
_Q145_CHAIN = f"""
w AS (
      SELECT word, count(*)::BIGINT AS freq FROM (
        SELECT unnest(string_split({_Q145_NORM}, ' ')) AS word
        FROM documents
      ) WHERE word <> '' AND length(word) <= 16
      GROUP BY word
    ),
    seed AS (
      SELECT piece, sum(freq)::BIGINT AS cnt FROM (
        SELECT substr(w.word, s.s + 1, l.l) AS piece, w.freq
        FROM w
        CROSS JOIN LATERAL (SELECT unnest(range(0, length(w.word))) AS s) s
        CROSS JOIN LATERAL (SELECT unnest(range(1, 5)) AS l) l
        WHERE s.s + l.l <= length(w.word)
      ) GROUP BY 1
    ),
    seed_top AS (
      SELECT piece, cnt FROM seed ORDER BY cnt DESC, piece LIMIT 100000
    ),
    seed_kept AS (
      SELECT DISTINCT piece, cnt FROM (
        SELECT * FROM seed_top
        UNION ALL SELECT piece, cnt FROM seed WHERE length(piece) = 1)
    ),
    p0 AS (
      SELECT piece, round(-ln(cnt / t.tot), 6)::DOUBLE AS cost
      FROM seed_kept, (SELECT sum(cnt)::DOUBLE AS tot FROM seed_kept) t
    ),
    {_q145_seg_cte('seg1', 'p0', 'r1')},
    best1 AS (
      SELECT word, path FROM (
        SELECT word, path,
               row_number() OVER (PARTITION BY word
                                  ORDER BY cost, path) AS rn
        FROM seg1 WHERE pos = length(word)
      ) WHERE rn = 1
    ),
    c1 AS (
      SELECT piece, sum(freq)::BIGINT AS cnt FROM (
        SELECT unnest(string_split(substr(b.path, 2), '|')) AS piece,
               w.freq
        FROM best1 b JOIN w USING (word)
      ) GROUP BY 1
    ),
    p1 AS (
      SELECT piece, round(-ln(cnt / t.tot), 6)::DOUBLE AS cost
      FROM c1, (SELECT sum(cnt)::DOUBLE AS tot FROM c1) t
    ),
    {_q145_seg_cte('seg2', 'p1', 'r2')},
    best2 AS (
      SELECT word, path FROM (
        SELECT word, path,
               row_number() OVER (PARTITION BY word
                                  ORDER BY cost, path) AS rn
        FROM seg2 WHERE pos = length(word)
      ) WHERE rn = 1
    ),
    c2 AS (
      SELECT piece, sum(freq)::BIGINT AS cnt FROM (
        SELECT unnest(string_split(substr(b.path, 2), '|')) AS piece,
               w.freq
        FROM best2 b JOIN w USING (word)
      ) GROUP BY 1
    ),
    topv AS (SELECT piece, cnt FROM c2 ORDER BY cnt DESC, piece LIMIT 24),
    kept AS (
      -- coverage singles come from the SEED frame (all corpus single
      -- chars), EM count when present else seed count — mirrors
      -- unigram_train's prune exactly
      SELECT DISTINCT piece, cnt FROM (
        SELECT * FROM topv
        UNION ALL
        SELECT s.piece, coalesce(c.cnt, s.cnt) AS cnt
        FROM seed s LEFT JOIN c2 c USING (piece)
        WHERE length(s.piece) = 1)
    )
"""


@query(
    "q145_unigram_train",
    f"""
    WITH {_Q145_CHAIN}
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT)
             AS rank,
           piece, cnt AS count,
           round(cnt / t.tot, 6) AS prob
    FROM kept, (SELECT sum(cnt)::DOUBLE AS tot FROM kept) t
    """,
)
def q145_unigram_train(spark, sf_dir):
    """Unigram-LM tokenizer trainer (corpus.unigram_train — the
    SentencePiece family, Kudo 2018, deterministic Viterbi-EM): seed
    vocabulary = all substrings <= 4 chars over the distinct-word
    frame (native HOF explode + TakeOrdered prune), two hard-EM
    rounds (E-step: min-cost segmentation of each distinct word, ONE
    Arrow UDF pass with the quantized piece-cost model in the
    closure; M-step: one compact-key aggregate), prune to the top-24
    pieces with single-char coverage always retained, renormalize.
    Complements the BPE trainer (q109) — the two mainstream subword
    tokenizer families. The oracle replays seed, BOTH EM rounds (each
    E-step as a recursive enumerate-all-segmentations CTE + min over
    (cost, path) — exactly the DP's tie-break, see
    unigram_best_segmentation's docstring for why they agree), the
    prune, and the renormalization; value-exact at sf0.001/0.01."""
    from capex_data_pipeline_spark.extensions.corpus import unigram_train

    return unigram_train(
        _t(spark, sf_dir, "documents"),
        vocab_size=24,
        rounds=2,
        max_piece_len=4,
        max_word_len=16,
        seed_size=100_000,
    )


# ---------------- q146: unigram-LM encode (apply the trained model)


@query(
    "q146_unigram_encode",
    f"""
    WITH {_Q145_CHAIN},
    model AS (
      SELECT piece, round(-ln(round(cnt / t.tot, 6)), 6)::DOUBLE AS cost
      FROM kept, (SELECT sum(cnt)::DOUBLE AS tot FROM kept) t
    ),
    toks AS (
      SELECT doc_id, string_split({_Q145_NORM}, ' ') AS ws FROM documents
    ),
    dwords AS (
      SELECT doc_id, pos, ws[pos] AS word
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
            FROM toks)
      WHERE ws[pos] <> ''
    ),
    ew AS (SELECT DISTINCT word FROM dwords),
    seg3 AS (
      SELECT * FROM (
        WITH RECURSIVE r3(word, pos, cost, path) AS (
          SELECT word, 0, 0.0::DOUBLE, '' FROM ew
          UNION ALL
          SELECT r3.word, r3.pos + length(p.piece),
                 r3.cost + p.cost, r3.path || '|' || p.piece
          FROM r3 JOIN model p
            ON substr(r3.word, r3.pos + 1, length(p.piece)) = p.piece
          WHERE r3.pos < length(r3.word)
        ) SELECT * FROM r3
      ) s
    ),
    best3 AS (
      SELECT word, path FROM (
        SELECT word, path,
               row_number() OVER (PARTITION BY word
                                  ORDER BY cost, path) AS rn
        FROM seg3 WHERE pos = length(word)
      ) WHERE rn = 1
    ),
    encw AS (
      SELECT d.doc_id, d.pos,
             coalesce(replace(substr(b.path, 2), '|', ' '), '<unk>')
               AS ptxt,
             CAST(coalesce(len(string_split(substr(b.path, 2), '|')), 1)
                  AS BIGINT) AS n
      FROM dwords d LEFT JOIN best3 b USING (word)
    ),
    agg AS (
      SELECT doc_id, sum(n)::BIGINT AS n,
             string_agg(ptxt, ' ' ORDER BY pos) AS t
      FROM encw GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_pieces,
           coalesce(a.t, '') AS piece_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q146_unigram_encode(spark, sf_dir):
    """Unigram-LM encode (corpus.unigram_encode): Viterbi-decode every
    document's token stream under the q145-trained piece model — the
    application step that completes the unigram tokenizer family,
    mirroring BPE's q109 (train) / q107 (encode) pair. The model is
    the q145 output re-expressed as costs (round(-ln(prob), 6) —
    quantized doubles both engines fold identically); the per-word
    Viterbi DP runs in ONE Arrow UDF over the distinct-word vocab
    (bpe_encode's economics), encodings join back on the compact word
    key, per-doc assembly is one hash aggregate. Words the model
    can't cover encode to '<unk>' (none in the self-corpus —
    single-char coverage — but the oracle's LEFT join + coalesce
    replays the rule). The oracle shares the q145 training chain
    VERBATIM (_Q145_CHAIN) then replays decode + assembly."""
    import math

    from capex_data_pipeline_spark.extensions.corpus import (
        unigram_encode,
        unigram_train,
    )

    docs = _t(spark, sf_dir, "documents")
    model_rows = unigram_train(
        docs,
        vocab_size=24,
        rounds=2,
        max_piece_len=4,
        max_word_len=16,
        seed_size=100_000,
    ).collect()
    costs = {
        r["piece"]: round(-math.log(r["prob"]), 6) for r in model_rows
    }
    return unigram_encode(docs, costs, max_piece_len=4)


# ----------------- q147: ANN recall@k evaluation (IVF vs brute force)


@query(
    "q147_ann_recall",
    f"""
    WITH {_Q143_CHAIN},
    ivfr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
      ) WHERE rank <= 10
    ),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round({_Q143_COS.format(a='q.embedding', b='e.embedding')},
                       4) DESC, e.vec_id ASC) AS rank
        FROM embeddings e,
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
        WHERE e.vec_id <> q.vec_id
      ) WHERE rank <= 10
    ),
    hits AS (
      SELECT b.query_id, count(*)::BIGINT AS n_hits
      FROM brute b JOIN ivfr i USING (query_id, neighbor_id)
      GROUP BY 1
    ),
    pe AS (
      SELECT query_id, count(*)::BIGINT AS n_exact FROM brute GROUP BY 1
    )
    SELECT pe.query_id, pe.n_exact,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / pe.n_exact, 6) AS recall
    FROM pe LEFT JOIN hits h USING (query_id)
    """,
)
def q147_ann_recall(spark, sf_dir):
    """ANN recall@10 evaluation (similarity.ann_recall): the q143
    sqrt(N)-IVF result scored per-query against the exact brute-force
    baseline — the eval loop a production ANN deployment runs beside
    its index (tune nprobe until recall holds, monitor for drift as
    the corpus grows). Queries the index drops entirely still report
    recall 0.0 (the query universe comes from the exact side — silent
    dropout is the failure mode an eval must surface). Both inputs
    are top-k frames, so everything here is eval-sized: one semi-join
    on the compact (query, neighbor) key + two per-query aggregates.
    The oracle replays the ENTIRE IVF approximation (shared
    _Q143_CHAIN), the brute ranking, and the recall arithmetic —
    value-exact, so the reported recall is provably the truth, not a
    self-graded number."""
    from capex_data_pipeline_spark.extensions.similarity import (
        ann_recall,
        cosine_topk,
        ivf_build,
        ivf_query,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    assigned, centers = ivf_build(
        emb, centers_mode="sample", assign="arrow", materialize=False
    )
    approx = ivf_query(assigned, centers, queries, k=10, nprobe=8)
    return ann_recall(approx, cosine_topk(emb, queries, k=10), k=10)


# ------------ q148: image near-dup clustering + canonical election


@query(
    "q148_image_clusters",
    f"""
    WITH RECURSIVE {_Q144_CHAIN},
    pairs AS (
      SELECT id_a, id_b FROM cand WHERE hamming <= 3
    ),
    e2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM e2
      UNION
      SELECT r.u, e.v FROM reach r JOIN e2 e ON r.v = e.u
    ),
    lbl AS (
      SELECT u AS media_id, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    ),
    allc AS (
      SELECT d.doc_id AS media_id,
             coalesce(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN lbl l ON l.media_id = d.doc_id
    )
    SELECT media_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           media_id = cluster_id AS is_keeper
    FROM allc
    """,
)
def q148_image_clusters(spark, sf_dir):
    """Image near-dup CLUSTERING — q144's perceptual-hash pairs closed
    into connected components with a canonical keeper per cluster
    (dedup.dedup_clusters: min-label propagation, O(diameter) rounds
    of compact (id, label) join+agg, plan boundary per round) — the
    same pairs->clusters->keeper completion the text families have
    (q38/q133), now for the multimodal column: a~b and b~c collapse
    to ONE cluster so near-dup image groups delete all-but-one, never
    over- or under-delete. Singletons appear via the corpus id frame.
    The oracle shares q144's hash chain verbatim (_Q144_CHAIN) and
    closes the graph with transitive reachability -> min reachable
    id, exactly the q38 pattern."""
    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters
    from capex_data_pipeline_spark.extensions.multimodal import (
        char_grid_pixelizer,
        documents_as_media,
        image_near_dups,
    )

    media = documents_as_media(_t(spark, sf_dir, "documents"))
    pairs = image_near_dups(
        media,
        pixelizer=char_grid_pixelizer,
        kind="dhash",
        n_bits=60,
        max_hamming=3,
    )
    return dedup_clusters(
        pairs, corpus=media.select("media_id"), id_col="media_id"
    )


# ----------------- q149: Z-order (Morton) clustering key for layout


@query(
    "q149_zorder_key",
    """
    WITH st AS (
      SELECT min(o_totalprice::DOUBLE) AS minp, max(o_totalprice::DOUBLE) AS maxp,
             min(o_custkey::DOUBLE) AS minc, max(o_custkey::DOUBLE) AS maxc
      FROM orders
    ),
    sc AS (
      SELECT o.o_orderkey,
             greatest(0, least(CAST(floor(
               (o.o_totalprice::DOUBLE - st.minp)
               / (CASE WHEN st.maxp > st.minp THEN st.maxp - st.minp
                       ELSE 1.0 END) * 255.0) AS BIGINT), 255)) AS xi,
             greatest(0, least(CAST(floor(
               (o.o_custkey::DOUBLE - st.minc)
               / (CASE WHEN st.maxc > st.minc THEN st.maxc - st.minc
                       ELSE 1.0 END) * 255.0) AS BIGINT), 255)) AS yi
      FROM orders o, st
    )
    SELECT o_orderkey,
           CAST(list_sum(list_transform(range(0, 8), b ->
             (((xi >> CAST(b AS INTEGER)) & 1)
                << CAST(b * 2 AS INTEGER))
             + (((yi >> CAST(b AS INTEGER)) & 1)
                << CAST(b * 2 + 1 AS INTEGER)))) AS BIGINT) AS zvalue
    FROM sc
    """,
)
def q149_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key (layout.zorder_values — the
    public Delta OPTIMIZE ZORDER BY idea): each column min-max-scales
    to an 8-bit integer grid (ONE stats aggregate broadcast as a
    1-row frame — the q105 histogram pattern) and the bits interleave
    into a single BIGINT sort key, so range-partitioning on it keeps
    files rectangular in BOTH dimensions and min/max file stats prune
    on EITHER column's predicate — the layout lever that decides
    selective-scan cost at 100 TB. Everything after the stats row is
    map-only integer shift/mask arithmetic, which is why the oracle
    replays z-values bit-for-bit; the repartition/sort half
    (layout.zorder_repartition) is pinned by the quantitative
    locality test in tests/test_layout.py rather than an oracle
    (partitioning is physical, not a value)."""
    from capex_data_pipeline_spark.extensions.layout import zorder_values

    orders = _t(spark, sf_dir, "orders")
    return zorder_values(
        orders, ["o_totalprice", "o_custkey"], bits=8
    ).select("o_orderkey", "zvalue")


# ----------- q150: pairwise association rules over order baskets


@query(
    "q150_association_rules",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT b)::DOUBLE AS n FROM bi),
    sup AS (SELECT i, count(*)::BIGINT AS sup FROM bi GROUP BY 1),
    pairs AS (
      SELECT x.i AS item_a, y.i AS item_b, count(*)::BIGINT AS pair_support
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    scored AS (
      SELECT p.item_a, p.item_b, p.pair_support,
             sa.sup AS support_a, sb.sup AS support_b,
             round(p.pair_support / sa.sup, 6) AS confidence_ab,
             round(p.pair_support / sb.sup, 6) AS confidence_ba,
             round(p.pair_support * nb.n / (sa.sup * sb.sup), 6) AS lift
      FROM pairs p
      JOIN sup sa ON sa.i = p.item_a
      JOIN sup sb ON sb.i = p.item_b
      CROSS JOIN nb
    ),
    top AS (
      SELECT * FROM scored
      ORDER BY lift DESC, item_a, item_b LIMIT 20
    )
    SELECT item_a, item_b, pair_support, support_a, support_b,
           confidence_ab, confidence_ba, lift,
           CAST(row_number() OVER (ORDER BY lift DESC, item_a, item_b)
                AS INT) AS rank
    FROM top
    """,
)
def q150_association_rules(spark, sf_dir):
    """Pairwise association rules (analytics.association_rules —
    Apriori k=2, Agrawal & Srikant 1994): support / directional
    confidence / lift for every part pair co-ordered >= 2 times, top
    20 by lift. Pair counting is the proven co-purchase equi-join on
    the order key over the deduped (order, part) frame (per-basket
    quadratic with small bounded baskets; hot-order skew is AQE's
    standard case); supports are compact-key aggregates; the top-k
    pick is TakeOrdered with ranking over the survivors only. All
    metrics are integer ratios rounded to 6, replayed value-exact by
    the oracle."""
    from capex_data_pipeline_spark.extensions.analytics import (
        association_rules,
    )

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_support=2,
        topk=20,
    )


# ------------- q151: quality-curriculum bucketing by exact quartiles


@query(
    "q151_curriculum_buckets",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    ch AS (
      SELECT doc_id, list_filter(string_split(t, ''), c -> c <> '') AS cs
      FROM norm
    ),
    cnt AS (
      SELECT doc_id, len(cs) AS n,
             list_transform(list_distinct(cs),
               d -> len(list_filter(cs, c -> c = d))) AS counts
      FROM ch
    ),
    scores AS (
      SELECT doc_id,
             CASE WHEN n > 0 THEN
               round(ln(CAST(n AS DOUBLE))
                     - list_sum(list_transform(counts,
                         c -> c * ln(CAST(c AS DOUBLE)))) / n, 6) + 0.0
             END AS entropy_nats
      FROM cnt
    ),
    th AS (
      SELECT quantile_cont(entropy_nats, [0.25, 0.5, 0.75]) AS t
      FROM scores
    )
    SELECT s.doc_id, s.entropy_nats,
           CASE WHEN s.entropy_nats IS NOT NULL THEN
             CAST(len(list_filter(th.t, x -> s.entropy_nats > x)) AS INT)
           END AS bucket
    FROM scores s, th
    """,
)
def q151_curriculum_buckets(spark, sf_dir):
    """Quality-curriculum bucketing (textstats.curriculum_buckets):
    the corpus split into quartile tiers of the q97 character-entropy
    quality score — the ordering primitive behind curriculum training
    schedules and quality-stratified sampling. ONE exact-percentile
    aggregate yields the 3 thresholds as a 1-row broadcast (never
    ntile's single-partition global window — the q122/q125 defect
    class this round purged); assignment is a map-only fold; ties at
    a threshold fall to the lower bucket; NULL scores keep a NULL
    bucket. Oracle replays entropy (the q97 chain), quantile_cont
    thresholds (the interpolation definition Spark's percentile
    shares — the q83 precedent), and the strictly-greater fold."""
    from capex_data_pipeline_spark.extensions.textstats import (
        add_char_entropy,
        curriculum_buckets,
    )

    scored = add_char_entropy(_t(spark, sf_dir, "documents")).select(
        "doc_id", "entropy_nats"
    )
    return curriculum_buckets(scored, "entropy_nats", n_buckets=4)


# ------- q152: near-dup-safe corpus split (cluster-keyed assignment)

from capex_data_pipeline_spark.oracle_frags import SHINGLES_SQL as _Q152_SH


@query(
    "q152_cluster_split",
    f"""
    WITH RECURSIVE sig AS (
      SELECT doc_id,
             list_transform(range(0, 8),
               i -> list_min(list_transform({_Q152_SH},
                                            s -> md5(i || '|' || s)))) AS sig
      FROM documents
    ), banded AS (
      SELECT doc_id, sig, b,
             md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bhash
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b) bands
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.bhash = b.bhash AND a.doc_id < b.doc_id
      WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) / 8.0
            >= 0.5
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
    ), sp AS (
      SELECT doc_id, cluster_id,
             CASE WHEN h < 0.8 THEN 'train'
                  WHEN h < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT *,
              CAST(('0x' || substr(md5('s0|' || CAST(cluster_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) / 4294967296.0 AS h
            FROM allc)
    ), per AS (
      SELECT split, count(*)::BIGINT AS n_docs,
             count(DISTINCT cluster_id)::BIGINT AS n_clusters
      FROM sp GROUP BY 1
    ), strad AS (
      SELECT count(*)::BIGINT AS n
      FROM pairs p
      JOIN sp a ON a.doc_id = p.id_a
      JOIN sp b ON b.doc_id = p.id_b
      WHERE a.split <> b.split
    )
    SELECT per.split, per.n_docs, per.n_clusters,
           strad.n AS n_straddling_pairs
    FROM per, strad
    """,
)
def q152_cluster_split(spark, sf_dir):
    """Near-dup-safe train/val/test split (dedup.cluster_safe_split):
    assignment hashes the MinHash-LSH CLUSTER id, so near-duplicate
    pairs cannot straddle the boundary by construction — the
    prevention counterpart to q104's leakage audit (which catches
    exactly the cross-group duplicates a source-keyed split lets
    through). Output: per-split doc/cluster counts plus the global
    straddling-near-dup-pair count, which the construction forces to
    0 — and the oracle PROVES it at 0 by replaying signatures →
    banding → clustering → the md5 split → the straddle join
    value-exactly, rather than trusting the property."""
    from capex_data_pipeline_spark.extensions.dedup import (
        cluster_safe_split,
        minhash_near_dups,
    )

    docs = _t(spark, sf_dir, "documents")
    sp = cluster_safe_split(
        docs, [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
    from capex_data_pipeline_spark.cache import persisted

    sp = persisted(sp)
    pairs = minhash_near_dups(docs, num_hashes=8, bands=4, threshold=0.5)
    a = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("_sa"))
    b = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("_sb"))
    strad = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("_sa") != F.col("_sb"))
        .agg(F.count(F.lit(1)).alias("n_straddling_pairs"))
    )
    per = sp.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )
    return per.crossJoin(F.broadcast(strad))


# ---------- q153: per-group HLL distinct counts (sketch GROUP BY)


@query(
    "q153_hll_by_group",
    """
    WITH keyed AS (
      SELECT event_type AS g,
             CAST(('0x' || substr(md5(coalesce(CAST(user_id AS VARCHAR),
                                               '<null>')), 1, 13))
                  AS BIGINT) AS h,
             coalesce(CAST(user_id AS VARCHAR), '<null>') AS k
      FROM events
    ),
    regs AS (
      SELECT g, h % 64 AS b,
             max(CASE WHEN (h >> 6) = 0 THEN 47
                      ELSE 46 - length(bin(h >> 6)) + 1 END) AS mr
      FROM keyed GROUP BY 1, 2
    ),
    summary AS (
      SELECT g,
             round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                   / (sum(pow(2.0, -mr))
                      + CAST(64 - count(*) AS DOUBLE)), 6) AS n_estimated
      FROM regs GROUP BY g
    ),
    exact AS (
      SELECT g, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
      FROM keyed GROUP BY g
    )
    SELECT e.g AS event_type, e.n_exact, s.n_estimated,
           round(abs(s.n_estimated - e.n_exact)
                 / nullif(CAST(e.n_exact AS DOUBLE), 0.0), 6) AS rel_error
    -- null-safe join: the engine keeps a NULL group (eqNullSafe);
    -- USING (g) would silently drop it
    FROM exact e JOIN summary s ON e.g IS NOT DISTINCT FROM s.g
    """,
)
def q153_hll_by_group(spark, sf_dir):
    """Per-group HyperLogLog distinct counts
    (sketches.hll_cardinality_by, 64 registers/group): distinct users
    per event type as a sketch aggregate — the standard fix for the
    shuffle-heavy COUNT(DISTINCT) GROUP BY, whose exact form moves
    every (group, key) pair while the sketch moves at most groups × m
    register cells with map-side partial max. The estimator is the
    q126 engine-portable HLL (integer binary-string rank, exact
    power-of-two register sums), so the oracle certifies every
    per-group estimate AND its error bit-for-bit. The exact count
    rides along per group for the report (dropped at 100 TB — it is
    the cost the sketch removes)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality_by,
    )

    ev = _t(spark, sf_dir, "events")
    return hll_cardinality_by(
        ev, "event_type", F.col("user_id"), b=6
    ).withColumnRenamed("_g", "event_type")


# -------------- q154: binned ROC / AUC classifier evaluation


@query(
    "q154_binned_roc",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    ch AS (
      SELECT doc_id, t,
             list_filter(string_split(t, ''), c -> c <> '') AS cs
      FROM norm
    ),
    cnt AS (
      SELECT doc_id, t, len(cs) AS n,
             list_transform(list_distinct(cs),
               d -> len(list_filter(cs, c -> c = d))) AS counts
      FROM ch
    ),
    sc AS (
      SELECT round(ln(CAST(n AS DOUBLE))
                   - list_sum(list_transform(counts,
                       c -> c * ln(CAST(c AS DOUBLE)))) / n, 6) + 0.0
               AS s,
             CAST(list_contains(string_split(t, ' '), 'spark') AS INT)
               AS y
      FROM cnt WHERE n > 0
    ),
    st AS (SELECT min(s) AS lo, max(s) AS hi FROM sc),
    binned AS (
      SELECT greatest(0, least(CAST(floor(
               (s - st.lo)
               / (CASE WHEN st.hi > st.lo THEN st.hi - st.lo
                       ELSE 1.0 END) * 64.0) AS INTEGER), 63)) AS bin,
             y
      FROM sc, st
    ),
    per AS (
      SELECT bin, sum(y)::BIGINT AS n_pos,
             sum(1 - y)::BIGINT AS n_neg
      FROM binned GROUP BY 1
    ),
    curve AS (
      SELECT bin, n_pos, n_neg,
             sum(n_pos) OVER w AS ctp,
             sum(n_neg) OVER w AS cfp
      FROM per
      WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT sum(n_pos)::BIGINT AS p, sum(n_neg)::BIGINT AS nn
      FROM per
    ),
    numer AS (
      -- trapezoid numerator in pure integers:
      -- (cfp_i - cfp_{i-1}) = n_neg_i; (ctp_i + ctp_{i-1}) = 2*ctp_i - n_pos_i
      SELECT sum(n_neg * (2 * ctp - n_pos))::BIGINT AS m FROM curve
    )
    SELECT c.bin, c.n_pos, c.n_neg,
           CASE WHEN t.p > 0
                THEN round(CAST(c.ctp AS DOUBLE) / t.p, 6) END AS tpr,
           CASE WHEN t.nn > 0
                THEN round(CAST(c.cfp AS DOUBLE) / t.nn, 6) END AS fpr,
           CASE WHEN t.p > 0 AND t.nn > 0
                THEN round(CAST(m.m AS DOUBLE) / (2.0 * t.p * t.nn), 6)
           END AS auc
    FROM curve c, tot t, numer m
    """,
)
def q154_binned_roc(spark, sf_dir):
    """Binned ROC curve + AUC (linalg.binned_roc_auc, 64 bins): the
    evaluation step closing the in-engine classifier loop (train q129
    → score q89 → calibrate q128 → EVALUATE). Scored pair here: the
    q97 character-entropy score against the q129 label ("doc mentions
    'spark'") — a deliberately weak predictor, so the curve exercises
    interleaved bins rather than a degenerate step. Rank-based exact
    AUC needs a global sort (the single-partition window this engine
    lints against) or an O(P·N) pair join; the binned sweep is the
    standard scale answer, and its cumulative TP/FP and trapezoid
    numerator are EXACT INTEGER arithmetic over a keyless-aggregated
    bounded bin array — one final division makes the float, so the
    oracle replays AUC value-exactly (its window formulation
    Σ n_neg·(2·ctp − n_pos) is the same integer algebra)."""
    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from capex_data_pipeline_spark.extensions.linalg import binned_roc_auc
    from capex_data_pipeline_spark.extensions.textstats import (
        add_char_entropy,
    )

    docs = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(normalized_text(F.col("text")), " "), lambda s: s != ""
    )
    scored = add_char_entropy(docs).select(
        F.col("entropy_nats").alias("s"),
        F.array_contains(words, "spark").cast("int").alias("y"),
    )
    return binned_roc_auc(scored, "s", "y", bins=64)


# --------- q155: CMS inner-product join-size estimate (skew pre-flight)


@query(
    "q155_join_size_estimate",
    """
    WITH keys AS (
      SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
      WHERE l_partkey IS NOT NULL
    ),
    cells AS (
      SELECT j.j AS j,
             CAST(('0x' || substr(md5(j.j || '|' || k), 1, 15)) AS BIGINT)
               % 1024 AS p,
             count(*)::BIGINT AS c
      FROM keys, (SELECT CAST(unnest([0, 1, 2]) AS VARCHAR) AS j) j
      GROUP BY 1, 2
    ),
    est AS (
      SELECT min(ip)::BIGINT AS est_join_rows FROM (
        SELECT j, sum(c * c)::BIGINT AS ip FROM cells GROUP BY j
      )
    ),
    exact AS (
      SELECT coalesce(sum(n * n), 0)::BIGINT AS exact_join_rows FROM (
        SELECT k, count(*)::BIGINT AS n FROM keys GROUP BY k
      )
    )
    SELECT exact_join_rows, est_join_rows,
           est_join_rows - exact_join_rows AS overestimate
    FROM exact, est
    """,
)
def q155_join_size_estimate(spark, sf_dir):
    """Join-size estimation via the CMS inner product
    (sketches.cms_join_size, Cormode & Muthukrishnan 2005): the
    SELF-join size of lineitem on l_partkey — Σ cnt(k)², the second
    frequency moment — estimated from two 3×1024 sketches whose
    inner products min over rows. This is the constant-memory
    pre-flight a planner runs BEFORE an expensive join: an estimate
    exploding past the input size is the skew alarm that says
    salt/cap first — exactly the check that guards the q112
    co-purchase self-join family. Each side is ONE hash aggregate
    onto fixed cells; the cell join moves at most depth×width rows;
    the exact count rides along from per-key counts (never by
    materializing the join). Integer products/sums end-to-end, so
    the oracle replays estimate, exact size, and the one-sided
    overestimate bit-for-bit."""
    from capex_data_pipeline_spark.extensions.sketches import cms_join_size

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    # the 3x1024 CMS hash pass runs fused onto a single-row-group
    # scan: spread first (counter sums, order-insensitive)
    li = spread_few_splits(_t(spark, sf_dir, "lineitem"))
    return cms_join_size(
        li, F.col("l_partkey"), li, F.col("l_partkey"), depth=3, width=1024
    )


# ---------- q156: guarded join (CMS pre-flight -> salted hot keys)


@query(
    "q156_guarded_join",
    """
    SELECT (a.l_partkey % 100)::BIGINT AS bucket,
           count(*)::BIGINT AS pairs,
           count(DISTINCT a.l_orderkey)::BIGINT AS orders
    FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
    GROUP BY 1
    """,
)
def q156_guarded_join(spark, sf_dir):
    """Skew-guarded self-join (sketches.guarded_join): the operator
    that CONSUMES the q155 pre-flight. The lineitem-on-l_partkey
    self-join (the q112 co-purchase shape) runs behind a CMS
    join-size estimate; over the (deliberately zero) threshold the
    hot keys — every partkey with > 8 rows here, so the salted path
    carries real volume — are split out, content-hash salted on one
    side and replicated n_salt=8x on the other, and joined on
    (key, salt) so a celebrity key's pairs spread over 8 tasks
    instead of one straggler; cold keys join plain and the union is
    value-IDENTICAL to the plain join. The oracle is therefore the
    PLAIN SQL join + aggregate — passing proves the salted physical
    plan changes nothing about the result. Pair/order counts land per
    partkey bucket to keep the certified frame compact."""
    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    # CMS hashing + hot/cold splits fused onto a single-row-group
    # scan: spread once, both join sides inherit the parallel frame
    li = spread_few_splits(_t(spark, sf_dir, "lineitem"))
    a = li.select("l_partkey", F.col("l_orderkey").alias("order_a"))
    b = li.select("l_partkey", F.col("l_orderkey").alias("order_b"))
    joined = guarded_join(
        a, b, "l_partkey", est_threshold=0, n_salt=8, hot_key_rows=8
    )
    return (
        joined.groupBy(
            (F.col("l_partkey") % 100).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("pairs"),
            F.countDistinct("order_a").alias("orders"),
        )
    )


# ------- q157: DDSketch per-group quantiles (mergeable, no sampling)


@query(
    "q157_ddsketch_quantiles",
    """
    WITH vals AS (
      SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS v
      FROM lineitem WHERE l_extendedprice > 0
    ),
    cells AS (
      SELECT g,
             ceil(ln(v) / ln((1.0 + 0.01) / (1.0 - 0.01)))::BIGINT AS i,
             count(*)::BIGINT AS c
      FROM vals GROUP BY 1, 2
    ),
    tot AS (SELECT g, sum(c)::BIGINT AS n FROM cells GROUP BY g),
    cum AS (
      SELECT g, i, sum(c) OVER (PARTITION BY g ORDER BY i) AS cum
      FROM cells
    ),
    qs AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS q),
    pick AS (
      SELECT t.g, q.q, t.n, min(c.i) AS pick
      FROM tot t CROSS JOIN qs q
      JOIN cum c ON c.g = t.g AND c.cum > floor(q.q * (t.n - 1))
      GROUP BY 1, 2, 3
    ),
    est AS (
      SELECT g, q, n,
             round(2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), pick)
                   / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0), 6) AS est_q
      FROM pick
    ),
    ex AS (
      SELECT g, 0.5::DOUBLE AS q,
             round(quantile_cont(v, 0.5), 6) AS exact_q
      FROM vals GROUP BY g
      UNION ALL
      SELECT g, 0.95::DOUBLE, round(quantile_cont(v, 0.95), 6)
      FROM vals GROUP BY g
      UNION ALL
      SELECT g, 0.99::DOUBLE, round(quantile_cont(v, 0.99), 6)
      FROM vals GROUP BY g
    )
    SELECT e.g AS l_returnflag, e.q, e.n, e.est_q, x.exact_q,
           round(abs(e.est_q - x.exact_q) / greatest(x.exact_q, 1e-6), 6)
             AS rel_error
    FROM est e JOIN ex x ON e.g = x.g AND e.q = x.q
    """,
)
def q157_ddsketch_quantiles(spark, sf_dir):
    """Mergeable per-group quantile sketch
    (sketches.ddsketch_quantiles_by — DDSketch, Masson/Lee/Rim VLDB
    2019): p50/p95/p99 of l_extendedprice per l_returnflag from a
    log-bucketed histogram with relative-error guarantee alpha=0.01.
    The 100 TB replacement for exact per-group percentiles (q73's
    shuffle-every-value shape): bucket counts are an algebraic
    aggregate — map-side partials collapse onto groups × ~920 integer
    cells, shards merge by addition — and the quantile read is a
    min-aggregate over the cumulated cells, never a sort. NO sampling
    or compactor randomness (unlike KLL/GK), so the sketch is a pure
    function of the value multiset and the oracle replays bucket
    assignment, ranks, midpoint estimates, exact interpolated
    quantiles, and the per-row relative error value-exact. Measured
    rel_error <= 0.01 for every (group, q) — the alpha guarantee
    observed, not asserted."""
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by,
    )

    li = _t(spark, sf_dir, "lineitem")
    return ddsketch_quantiles_by(
        li, "l_returnflag", F.col("l_extendedprice"), alpha=0.01
    )


# ------ q158: dHash vs aHash agreement audit (decoder-drift check)


@query(
    "q158_image_hash_agreement",
    f"""
    WITH {_Q144_CHAIN},
    acell AS (
      SELECT doc_id,
             list_transform(range(0, 64), b ->
               CASE WHEN CAST(b % 8 AS INTEGER) < 7
                    THEN px[CAST(b // 8 AS INTEGER) * 9
                            + CAST(b % 8 AS INTEGER) + 1]::DOUBLE
                    ELSE (px[CAST(b // 8 AS INTEGER) * 9 + 8]
                          + px[CAST(b // 8 AS INTEGER) * 9 + 9]) / 2.0
               END) AS cells
      FROM g
    ),
    ahh AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 60), b ->
               CASE WHEN cells[CAST(b + 1 AS INTEGER)]
                         >= list_sum(cells) / 64.0
                    THEN (1::BIGINT << CAST(b AS INTEGER))
                    ELSE 0::BIGINT END))::BIGINT AS ah
      FROM acell
    ),
    agg AS (
      SELECT c.hamming AS dhash_hamming,
             bit_count(xor(aa.ah, ab.ah)) AS ah_ham
      FROM cand c
      JOIN ahh aa ON aa.doc_id = c.id_a
      JOIN ahh ab ON ab.doc_id = c.id_b
      WHERE c.hamming <= 3
    )
    SELECT dhash_hamming, count(*)::BIGINT AS n_pairs,
           sum(CASE WHEN ah_ham <= 3 THEN 1 ELSE 0 END)::BIGINT
             AS ahash_within,
           round(avg(ah_ham), 6) AS mean_ahash_hamming,
           max(ah_ham)::BIGINT AS max_ahash_hamming
    FROM agg GROUP BY 1
    """,
)
def q158_image_hash_agreement(spark, sf_dir):
    """dHash-vs-aHash disagreement audit
    (multimodal.image_hash_agreement): for every dHash near-dup pair
    (q144's pigeonhole candidates, hamming <= 3), the aHash distance
    of the SAME pair, aggregated per dHash distance — the cheap
    cross-check a production multimodal pipeline runs to catch
    decoder/resize drift (the two families measure different things:
    local gradients vs global threshold; sudden divergence on the
    same pairs flags a broken decode path before recall drops). ONE
    decode pass computes both hashes (image_hashes_multi — pixels
    never shuffle, only two 8-byte hashes per row); the aHash's
    8x9 -> 8x8 box resize averages exactly two integer columns into
    col 7, so every cell and the 64-cell mean are exact dyadic
    rationals and the oracle replays grid -> both hashes -> pairs ->
    per-distance stats value-exact."""
    from capex_data_pipeline_spark.extensions.multimodal import (
        char_grid_pixelizer,
        documents_as_media,
        image_hash_agreement,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    # the decode+hash pass runs fused onto a single-row-group scan:
    # spread first (per-image hashes, order-insensitive)
    media = documents_as_media(
        spread_few_splits(_t(spark, sf_dir, "documents"))
    )
    return image_hash_agreement(
        media,
        pixelizer=char_grid_pixelizer,
        n_bits=60,
        max_hamming=3,
    )


# -------- q159: Bloom-pruned join (map-side runtime filter, explicit)


@query(
    "q159_bloom_filtered_join",
    """
    SELECT o.o_orderstatus, l.l_returnflag,
           count(*)::BIGINT AS n_lines,
           round(sum(l.l_extendedprice), 2) AS revenue
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderstatus FROM orders
          WHERE o_orderpriority = '1-URGENT') o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q159_bloom_filtered_join(spark, sf_dir):
    """Bloom-pruned fact-to-dimension join
    (sketches.bloom_filtered_join — the selectivity armor beside
    q156's skew armor): lineitem joined to URGENT orders (~18% of
    keys) through an explicit 2^18-bit Bloom bitset built from the
    small side's keys, packed into 4096 longs (32 KiB), broadcast as
    a one-row frame, and probed MAP-SIDE inside the scan's codegen —
    only surviving fact rows shuffle. False negatives are impossible,
    so the output is value-IDENTICAL to the plain join, which is
    exactly what this oracle (the PLAIN SQL join + aggregate)
    certifies — and because the oracle certifies the OUTPUT, the
    probe hash is free to be native seeded xxhash64 (measured ~10x
    cheaper per row than an md5-string probe; the r9 switch took the
    sf0.1 run from ~7.2 s to ~1.8 s warm). Spark's runtime row-level filters
    cover the simple cases; the explicit operator survives plan
    boundaries (checkpoints, unions, Python-built frames) and reports
    measurable prune counts (stats_out; asserted in test_ml)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_join,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus")
    )
    joined = bloom_filtered_join(li, urgent, "l_orderkey")
    return joined.groupBy("o_orderstatus", "l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


# ----- q160: source-pair corpus overlap via per-source MinHash


@query(
    "q160_source_overlap",
    """
    WITH sh AS (
      SELECT DISTINCT source, s FROM (
        SELECT source,
               unnest(list_distinct(
                 CASE WHEN len(string_split(trim(regexp_replace(lower(
                          coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' ')) < 3
                      THEN [trim(regexp_replace(lower(coalesce(text, '')),
                                 '[^a-z0-9]+', ' ', 'g'))]
                      ELSE list_transform(
                        range(1, len(string_split(trim(regexp_replace(lower(
                          coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' ')) - 1),
                        i -> array_to_string(
                          (string_split(trim(regexp_replace(lower(
                             coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' '))[i:i+2],
                          ' '))
                 END)) AS s
        FROM documents)
      WHERE s <> ''
    ),
    sig AS (
      SELECT source, j, min(md5(j || '|' || s)) AS mh
      FROM sh, (SELECT CAST(unnest(range(0, 16)) AS VARCHAR) AS j) seeds
      GROUP BY 1, 2
    ),
    est AS (
      SELECT a.source AS source_a, b.source AS source_b,
             round(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                   / CAST(16 AS DOUBLE), 6) AS est_jaccard
      FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
      GROUP BY 1, 2
    ),
    sizes AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*)::BIGINT AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT e.source_a, e.source_b, za.n AS n_a, zb.n AS n_b,
           round(coalesce(i.i, 0)
                 / (za.n + zb.n - coalesce(i.i, 0))::DOUBLE, 6)
             AS exact_jaccard,
           e.est_jaccard,
           round(abs(e.est_jaccard
                     - round(coalesce(i.i, 0)
                             / (za.n + zb.n - coalesce(i.i, 0))::DOUBLE,
                             6)), 6) AS abs_error
    FROM est e
    JOIN sizes za ON za.source = e.source_a
    JOIN sizes zb ON zb.source = e.source_b
    LEFT JOIN inter i
      ON i.source_a = e.source_a AND i.source_b = e.source_b
    """,
)
def q160_source_overlap(spark, sf_dir):
    """Dataset-pair overlap audit (dedup.source_overlap_minhash):
    estimated Jaccard of the word-3-shingle SETS of every source
    pair, from per-source MinHash signatures — "how much of dump A is
    inside dump B", the audit a curator runs across crawl snapshots /
    vendor drops before deciding what to dedup against what. The
    signature is an ALGEBRAIC aggregate (per (source, seed) min of
    md5(seed|shingle) — map-side partial min, sources × 16 cells
    total; day-over-day signatures merge by min), so the estimate
    costs one scan regardless of corpus size; the exact Jaccard rides
    along from the distinct (source, shingle) frame for the error
    report (the 100 TB cost the sketch avoids). Oracle replays
    shingling, all 16 seeded minima, the match-count estimate, the
    exact set arithmetic, and the absolute error value-exact."""
    from capex_data_pipeline_spark.extensions.dedup import (
        source_overlap_minhash,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    return source_overlap_minhash(
        # 16-hash signature battery fused onto a single-row-group scan:
        # spread first (per-doc signatures, order-insensitive)
        spread_few_splits(_t(spark, sf_dir, "documents")), num_hashes=16, k=3
    )


# ---- q161: exact set-similarity self-join (PPJoin prefix filter)


@query(
    "q161_jaccard_join",
    """
    WITH toks AS (
      SELECT doc_id,
             list_sort(list_distinct(list_filter(
               string_split(trim(regexp_replace(lower(coalesce(text, '')),
                            '[^a-z0-9]+', ' ', 'g')), ' '),
               w -> w <> ''))) AS ts
      FROM documents
    ),
    ne AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0),
    tok AS (SELECT doc_id, unnest(ts) AS tok FROM ne),
    -- candidates from ANY shared token: a strict SUPERSET of the
    -- engine's prefix-filter candidates, so equality of the final
    -- pair sets certifies the prefix filter lost nothing
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS i
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT x.id_a, x.id_b,
             round(x.i / (len(a.ts) + len(b.ts) - x.i)::DOUBLE, 6)
               AS jaccard
      FROM inter x
      JOIN ne a ON a.doc_id = x.id_a
      JOIN ne b ON b.doc_id = x.id_b
    ) WHERE jaccard >= 0.6
    """,
)
def q161_jaccard_join(spark, sf_dir):
    """EXACT set-similarity self-join via prefix filtering
    (dedup.jaccard_similarity_join — the PPJoin family, Xiao/Wang/
    Lin/Yu WWW 2008): every document pair with distinct-word-set
    Jaccard >= 0.6, ZERO recall loss — the exact sibling of the
    MinHash-LSH family (q31 trades recall via the S-curve; this
    candidate set provably contains every qualifying pair because two
    sets with J >= t must share a token in their rarest-first
    prefixes of length n - ceil(t*n) + 1). Candidate cost scales with
    prefix-token collisions, and prefixes hold the RAREST tokens, so
    stop words never become join keys. The oracle enumerates
    candidates from ANY shared token — a strict superset — and the
    pair sets must match, which certifies completeness on the corpus
    rather than asserting it."""
    from capex_data_pipeline_spark.extensions.dedup import (
        jaccard_similarity_join,
    )

    return jaccard_similarity_join(
        _t(spark, sf_dir, "documents"), threshold=0.6
    )


# --------- q162: join-key skew profile (the straggler diagnostic)


@query(
    "q162_key_skew_profile",
    """
    WITH c AS (
      SELECT l_partkey AS k, count(*)::BIGINT AS c
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
             max(c)::BIGINT AS max_key_rows, sum(c * c)::BIGINT AS ss
      FROM c
    ),
    tp AS (
      SELECT sum(c)::BIGINT AS topc FROM (
        SELECT c FROM c ORDER BY c DESC, CAST(k AS VARCHAR) LIMIT 10)
    )
    SELECT n_rows, n_keys, max_key_rows,
           round(max_key_rows / n_rows::DOUBLE, 6) AS max_key_share,
           round(topc / n_rows::DOUBLE, 6) AS topk_share,
           round(ss / (n_rows * n_rows)::DOUBLE, 6) AS hhi,
           round((n_rows * n_rows)::DOUBLE / ss, 6) AS effective_keys
    FROM t, tp
    """,
)
def q162_key_skew_profile(spark, sf_dir):
    """Join-key skew profile (sketches.key_skew_profile) of the
    co-purchase key l_partkey — the diagnostic that decides BETWEEN
    the join armors: q155 estimates how big the join gets, this names
    the culprit. max_key_share is the fraction of the stage ONE task
    owns under hash partitioning (the straggler bound that picks
    q156's salt), topk_share says whether capping ten keys fixes it,
    and the Herfindahl index's reciprocal is the effective number of
    keys — the statistic that says a million-key column behaves like
    twelve. All-integer aggregates (one compact-key count, one
    TakeOrdered pick, algebraic sum of squares — exact while
    n_rows x max_key_rows < 2^63) so every ratio replays bit-for-bit."""
    from capex_data_pipeline_spark.extensions.sketches import (
        key_skew_profile,
    )

    return key_skew_profile(
        _t(spark, sf_dir, "lineitem"), F.col("l_partkey"), topk=10
    )


# ------ q163: tokenizer fertility per source (the tokenizer eval)


@query(
    "q163_tokenizer_fertility",
    f"""
    WITH {_Q145_CHAIN},
    model AS (
      SELECT piece, round(-ln(round(cnt / t.tot, 6)), 6)::DOUBLE AS cost
      FROM kept, (SELECT sum(cnt)::DOUBLE AS tot FROM kept) t
    ),
    occ AS (
      SELECT source, w AS word FROM (
        SELECT source, unnest(string_split({_Q145_NORM}, ' ')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    ew AS (SELECT DISTINCT word FROM occ),
    seg4 AS (
      SELECT * FROM (
        WITH RECURSIVE r4(word, pos, cost, path) AS (
          SELECT word, 0, 0.0::DOUBLE, '' FROM ew
          UNION ALL
          SELECT r4.word, r4.pos + length(p.piece),
                 r4.cost + p.cost, r4.path || '|' || p.piece
          FROM r4 JOIN model p
            ON substr(r4.word, r4.pos + 1, length(p.piece)) = p.piece
          WHERE r4.pos < length(r4.word)
        ) SELECT * FROM r4
      ) s
    ),
    best4 AS (
      SELECT word, path FROM (
        SELECT word, path,
               row_number() OVER (PARTITION BY word
                                  ORDER BY cost, path) AS rn
        FROM seg4 WHERE pos = length(word)
      ) WHERE rn = 1
    ),
    pw AS (
      SELECT o.source, o.word,
             CASE WHEN b.word IS NULL THEN -1
                  ELSE len(string_split(substr(b.path, 2), '|')) END AS n
      FROM occ o LEFT JOIN best4 b USING (word)
    )
    SELECT source,
           count(*)::BIGINT AS n_words,
           sum(CASE WHEN n = -1 THEN 1 ELSE n END)::BIGINT AS n_pieces,
           round(sum(CASE WHEN n = -1 THEN 1 ELSE n END)
                 / count(*)::DOUBLE, 6) AS fertility,
           sum(CASE WHEN n = -1 THEN 1 ELSE 0 END)::BIGINT AS unk_words,
           round(sum(length(word))
                 / sum(CASE WHEN n = -1 THEN 1 ELSE n END)::DOUBLE, 6)
             AS chars_per_piece
    FROM pw GROUP BY source
    """,
)
def q163_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per source (corpus.tokenizer_fertility):
    pieces-per-word, chars-per-piece, and <unk> coverage holes for
    the q145-trained unigram model, per source — the eval a data team
    runs before committing a corpus to a tokenizer (fertility decides
    training cost; a source whose fertility spikes is the one the
    vocab under-serves). Vocab-frame economics end-to-end: the
    Viterbi DP runs once per DISTINCT word (one Arrow UDF pass, model
    in the closure), occurrence counts join back on the compact word
    key, the report is one 20-group aggregate. The oracle shares the
    q145 training chain VERBATIM, replays the decode as the same
    recursive enumerate-all CTE (inner name r4 — distinct from the
    chain's r1/r2 and q146's r3, the DuckDB silent-collision rule),
    and certifies every ratio."""
    import math

    from capex_data_pipeline_spark.extensions.corpus import (
        tokenizer_fertility,
        unigram_train,
    )

    docs = _t(spark, sf_dir, "documents")
    model_rows = unigram_train(
        docs, vocab_size=24, rounds=2, max_piece_len=4,
        max_word_len=16, seed_size=100_000,
    ).collect()
    pieces = {
        r["piece"]: round(-math.log(r["prob"]), 6) for r in model_rows
    }
    return tokenizer_fertility(docs, pieces, by="source", max_piece_len=4)


# ------ q164: Bloom-short-circuited anti join (the "what's new" path)


@query(
    "q164_bloom_anti_join",
    """
    SELECT o.o_orderstatus,
           count(*)::BIGINT AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_value
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY 1
    """,
)
def q164_bloom_anti_join(spark, sf_dir):
    """Bloom-short-circuited anti join
    (sketches.bloom_filtered_anti_join): orders with NO returned line
    (the "what's new / what's clean" incremental-ingest shape — rows
    absent from an index). The Bloom direction flips vs q159: a row
    FAILING the membership test is DEFINITELY absent (no false
    negatives) and bypasses the join map-side; only Bloom-positive
    rows — true matches plus bounded false positives — pay the exact
    left_anti join that settles them. Value-identical to the plain
    anti join by construction, which is exactly what this NOT EXISTS
    oracle certifies. The aggregate keeps the certified frame
    compact (status buckets + order counts + summed value)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_anti_join,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    clean = bloom_filtered_anti_join(orders, returned, "l_orderkey")
    return clean.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )


# ---- q165: sketch-driven range-partition boundary planner


@query(
    "q165_range_partition_plan",
    """
    WITH vals AS (
      SELECT l_extendedprice::DOUBLE AS v FROM lineitem
      WHERE l_extendedprice > 0
    ),
    cells AS (
      SELECT ceil(ln(v) / ln((1.0 + 0.01) / (1.0 - 0.01)))::BIGINT AS i,
             count(*)::BIGINT AS c
      FROM vals GROUP BY 1
    ),
    tot AS (SELECT sum(c)::BIGINT AS n FROM cells),
    cum AS (SELECT i, sum(c) OVER (ORDER BY i) AS cum FROM cells),
    bs AS (SELECT unnest(range(1, 8)) AS b),
    pick AS (
      SELECT b.b, min(c.i) AS i
      FROM bs b CROSS JOIN tot t
      JOIN cum c ON c.cum > floor(b.b / CAST(8 AS DOUBLE) * (t.n - 1))
      GROUP BY b.b
    ),
    bounds AS (
      SELECT b, round(2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), i)
                      / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0), 6) AS bound
      FROM pick
    ),
    bins AS (
      SELECT (SELECT count(*) FROM bounds WHERE bound < v)::INT AS bin
      FROM vals
    ),
    counts AS (SELECT bin, count(*)::BIGINT AS n_rows FROM bins GROUP BY 1),
    edges AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS bin)
    SELECT e.bin, lo.bound AS lo, hi.bound AS hi,
           coalesce(c.n_rows, 0)::BIGINT AS n_rows,
           round(coalesce(c.n_rows, 0) / t.n::DOUBLE, 6) AS share
    FROM edges e
    CROSS JOIN tot t
    LEFT JOIN bounds lo ON lo.b = e.bin
    LEFT JOIN bounds hi ON hi.b = e.bin + 1
    LEFT JOIN counts c ON c.bin = e.bin
    """,
)
def q165_range_partition_plan(spark, sf_dir):
    """Sketch-driven range-partition planner
    (sketches.range_partition_planner): 8 balanced range bins over
    l_extendedprice, boundaries read from the DDSketch's log-bucketed
    histogram at ranks 1/8..7/8 — the constant-memory version of what
    Spark's RangePartitioner does by reservoir-sampling every
    partition (one algebraic cell aggregate instead; the boundary
    read is a sketch-sized collect). The plan is then VALIDATED by
    counting the actual rows per bin in one map-side CASE pass —
    share ~= 1/8 per bin is the balance the boundaries promise, and a
    bin that strays is the column telling you it has atoms no
    boundary can split. The oracle replays cells, cumulative ranks,
    boundary midpoints, per-row binning, and shares value-exact."""
    from capex_data_pipeline_spark.extensions.sketches import (
        range_partition_planner,
    )

    return range_partition_planner(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_extendedprice"),
        n_bins=8,
        alpha=0.01,
    )


# ------ q166: HLL register merge -> union + cross-segment overlap


@query(
    "q166_hll_overlap",
    """
    WITH keyed AS (
      SELECT event_type AS g,
             CAST(('0x' || substr(md5(coalesce(CAST(user_id AS VARCHAR),
                                               '<null>')), 1, 13))
                  AS BIGINT) AS h,
             coalesce(CAST(user_id AS VARCHAR), '<null>') AS k
      FROM events
    ),
    regs AS (
      SELECT g, h % 64 AS b,
             max(CASE WHEN (h >> 6) = 0 THEN 47
                      ELSE 46 - length(bin(h >> 6)) + 1 END) AS mr
      FROM keyed GROUP BY 1, 2
    ),
    per_group AS (
      SELECT g, round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                      / (sum(pow(2.0, -mr))
                         + CAST(64 - count(*) AS DOUBLE)), 6) AS e
      FROM regs GROUP BY g
    ),
    summed AS (
      SELECT count(*)::BIGINT AS n_groups,
             round(sum(e), 6) AS sum_group_est
      FROM per_group
    ),
    merged AS (
      SELECT round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                   / (sum(pow(2.0, -mr))
                      + CAST(64 - count(*) AS DOUBLE)), 6) AS merged_est
      FROM (SELECT b, max(mr) AS mr FROM regs GROUP BY b)
    ),
    es AS (
      SELECT sum(ne)::BIGINT AS sum_group_exact FROM (
        SELECT g, count(DISTINCT k) AS ne FROM keyed GROUP BY g)
    ),
    eu AS (SELECT count(DISTINCT k)::BIGINT AS union_exact FROM keyed)
    SELECT s.n_groups, s.sum_group_est, m.merged_est,
           round(s.sum_group_est - m.merged_est, 6) AS overlap_est,
           es.sum_group_exact, eu.union_exact,
           (es.sum_group_exact - eu.union_exact)::BIGINT AS overlap_exact
    FROM summed s, merged m, es, eu
    """,
)
def q166_hll_overlap(spark, sf_dir):
    """Cross-segment overlap from MERGED HLL registers
    (sketches.hll_overlap): per-event-type user registers (the q153
    state) combine by per-bucket MAX into exactly the registers the
    global stream would have produced, so |union of segments| is
    estimated WITHOUT rescanning and the inclusion-exclusion gap
    Σ per-segment estimates − merged estimate measures shared users
    across event types. This is the operational payoff of sketch
    mergeability: keep per-day/per-source registers (groups × 64
    cells), answer any later union/overlap question with a register
    max — never a rescan. Exact distinct counts ride along; the
    oracle replays per-group registers, the merge, both estimates,
    and both overlap figures value-exact."""
    from capex_data_pipeline_spark.extensions.sketches import hll_overlap

    ev = _t(spark, sf_dir, "events")
    return hll_overlap(ev, "event_type", F.col("user_id"), b=6)


# ----- q167: inverted-index construction (delta-encoded postings)


@query(
    "q167_build_postings",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(
               coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents
    ),
    tok AS (
      SELECT doc_id, ws[pos] AS term, pos - 1 AS pos0
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
            FROM toks)
    ),
    pdt AS (
      SELECT term, doc_id, count(*)::BIGINT AS cf_d,
             string_agg(pos0, ',' ORDER BY pos0) AS ps
      FROM tok GROUP BY 1, 2
    ),
    enc AS (
      SELECT term, doc_id, cf_d,
             (doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
                                                  ORDER BY doc_id), 0))
               || ':' || ps AS e
      FROM pdt
    ),
    stats AS (
      SELECT term, count(*)::BIGINT AS df, sum(cf_d)::BIGINT AS cf,
             length(string_agg(e, ';' ORDER BY doc_id))::BIGINT AS n_bytes,
             md5(string_agg(e, ';' ORDER BY doc_id)) AS digest
      FROM enc GROUP BY term
    )
    SELECT term, df, cf, n_bytes, digest
    FROM stats ORDER BY df DESC, term LIMIT 200
    """,
)
def q167_build_postings(spark, sf_dir):
    """Inverted-index construction (corpus.build_postings): per-term
    doc-sorted postings with within-doc positions, delta-encoded on
    the doc axis — the artifact behind q95's BM25 scoring and q131's
    phrase search, materialized the way a search system stores it
    (sorted doc ids become small gaps; the gap stream is what gets
    varint-packed at scale). The certified frame stays compact: df,
    cf, encoded byte length, and an md5 digest that pins EVERY doc
    id, gap, and position of the top-200 terms without hauling the
    postings through the compare. One tokenize pass, grouped
    (term, doc) and per-term aggregates with in-group sorts (never
    global), TakeOrdered pick. The oracle rebuilds the encoding with
    a per-term lag window and string_agg ordered by doc."""
    from capex_data_pipeline_spark.extensions.corpus import build_postings

    return build_postings(_t(spark, sf_dir, "documents"), topk=200)


# ---- q168: winsorized robust stats (sketch cut points, clamped mean)


@query(
    "q168_winsorized_stats",
    """
    WITH vals AS (
      SELECT event_type AS g, value::DOUBLE AS v FROM events
      WHERE value > 0
    ),
    cells AS (
      SELECT g, ceil(ln(v) / ln((1.0 + 0.01) / (1.0 - 0.01)))::BIGINT AS i,
             count(*)::BIGINT AS c
      FROM vals GROUP BY 1, 2
    ),
    tot AS (SELECT g, sum(c)::BIGINT AS n FROM cells GROUP BY g),
    cum AS (
      SELECT g, i, sum(c) OVER (PARTITION BY g ORDER BY i) AS cum
      FROM cells
    ),
    qs AS (SELECT unnest([0.05::DOUBLE, 0.95::DOUBLE]) AS q),
    picks AS (
      SELECT t.g, q.q, min(c.i) AS i
      FROM tot t CROSS JOIN qs q
      JOIN cum c ON c.g = t.g AND c.cum > floor(q.q * (t.n - 1))
      GROUP BY 1, 2
    ),
    cutv AS (
      SELECT g, q,
             round(2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), i)
                   / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0), 6) AS cut
      FROM picks
    ),
    cuts AS (
      SELECT g,
             min(CASE WHEN q = 0.05 THEN cut END) AS lo_cut,
             min(CASE WHEN q = 0.95 THEN cut END) AS hi_cut
      FROM cutv GROUP BY g
    )
    SELECT v.g AS event_type, count(*)::BIGINT AS n,
           min(c.lo_cut) AS lo_cut, min(c.hi_cut) AS hi_cut,
           sum(CASE WHEN v.v < c.lo_cut THEN 1 ELSE 0 END)::BIGINT
             AS n_clamped_lo,
           sum(CASE WHEN v.v > c.hi_cut THEN 1 ELSE 0 END)::BIGINT
             AS n_clamped_hi,
           round(avg(v.v), 6) AS raw_mean,
           round(avg(least(greatest(v.v, c.lo_cut), c.hi_cut)), 6)
             AS winsorized_mean
    FROM vals v JOIN cuts c USING (g)
    GROUP BY 1
    """,
)
def q168_winsorized_stats(spark, sf_dir):
    """Winsorized per-event-type value statistics
    (sketches.winsorized_stats_by): values clamped — not dropped — at
    the per-group DDSketch p05/p95 estimates before averaging, the
    standard robust-mean treatment for heavy-tailed metrics where a
    handful of outliers move the raw mean by multiples (raw_mean
    rides along so the delta is visible). Two passes total at any
    scale: one algebraic cell aggregate for the cut points (no
    per-group sort), then a map-side clamp + mean with the
    groups-sized boundary frame broadcast. The oracle replays cells,
    ranks, cut midpoints, clamp counts, and both means value-exact."""
    from capex_data_pipeline_spark.extensions.sketches import (
        winsorized_stats_by,
    )

    ev = _t(spark, sf_dir, "events")
    return winsorized_stats_by(
        ev, "event_type", F.col("value"), p_lo=0.05, p_hi=0.95, alpha=0.01
    )


# --- q169: rendezvous sharding + reshard-stability report (HRW)


@query(
    "q169_rendezvous_shards",
    """
    WITH keys AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE user_id IS NOT NULL
    ),
    cand AS (
      SELECT k, s.s AS s, md5(s.s || '|' || k) AS w
      FROM keys, (SELECT unnest(range(0, 17)) AS s) s
    ),
    before AS (
      SELECT k, s AS shard FROM (
        SELECT k, s, row_number() OVER (PARTITION BY k
                                        ORDER BY w DESC, s DESC) AS rn
        FROM cand WHERE s < 16) WHERE rn = 1
    ),
    after AS (
      SELECT k, s AS shard_after FROM (
        SELECT k, s, row_number() OVER (PARTITION BY k
                                        ORDER BY w DESC, s DESC) AS rn
        FROM cand) WHERE rn = 1
    ),
    routed AS (SELECT b.k, b.shard, a.shard_after
               FROM before b JOIN after a USING (k)),
    tot AS (SELECT count(*)::BIGINT AS t FROM routed)
    SELECT r.shard, count(*)::BIGINT AS n_keys,
           round(count(*) / t.t::DOUBLE, 6) AS share,
           sum(CASE WHEN r.shard <> r.shard_after THEN 1 ELSE 0 END)::BIGINT
             AS n_moved,
           round(sum(CASE WHEN r.shard <> r.shard_after THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS moved_frac
    FROM routed r CROSS JOIN tot t
    GROUP BY r.shard, t.t
    """,
)
def q169_rendezvous_shards(spark, sf_dir):
    """Rendezvous (highest-random-weight) shard routing
    (layout.rendezvous_shards — Thaler & Ravishankar 1998): route
    every distinct user to the shard maximizing md5(shard|key), then
    QUANTIFY the consistent-routing property by re-routing under 17
    shards — only the keys the new shard wins move (expected
    moved_frac ≈ 1/17 per shard), where mod-routing would reshuffle
    ~16/17 of everything. The stability that keeps caches, stateful
    services, and bucketed storage warm through a fleet resize,
    measured per shard instead of asserted. Argmax = one max-struct
    aggregate over the exploded (key, shard, weight) frame — map-side
    partials, no window, no sort; md5 weights make every routing
    decision engine-reproducible (the oracle's row_number tie-break
    (w DESC, s DESC) matches max(struct(w, s)) exactly)."""
    from capex_data_pipeline_spark.extensions.layout import (
        rendezvous_shards,
    )

    ev = _t(spark, sf_dir, "events")
    return rendezvous_shards(
        ev, F.col("user_id"), n_shards=16, n_shards_after=17
    )


# --- q170: per-doc certified summary of the exact similarity join


@query(
    "q170_jaccard_dup_summary",
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_sort(list_distinct(list_filter(
               string_split(trim(regexp_replace(lower(coalesce(text, '')),
                            '[^a-z0-9]+', ' ', 'g')), ' '),
               w -> w <> ''))) AS ts
      FROM documents
    ),
    ne AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0),
    tok AS (SELECT doc_id, unnest(ts) AS tok FROM ne),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS i
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT x.id_a, x.id_b,
               x.i / (len(a.ts) + len(b.ts) - x.i)::DOUBLE AS j
        FROM inter x
        JOIN ne a ON a.doc_id = x.id_a
        JOIN ne b ON b.doc_id = x.id_b
      ) WHERE j >= 0.6
    ),
    e2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach5(u, v) AS (
      SELECT u, v FROM e2
      UNION
      SELECT r.u, e.v FROM reach5 r JOIN e2 e ON r.v = e.u
    ),
    lbl AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      FROM reach5 GROUP BY u
    ),
    deg AS (SELECT u AS doc_id, count(*)::BIGINT AS dup_degree
            FROM e2 GROUP BY u),
    allc AS (
      SELECT d.doc_id,
             coalesce(g.dup_degree, 0)::BIGINT AS dup_degree,
             coalesce(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d
      LEFT JOIN lbl l USING (doc_id)
      LEFT JOIN deg g USING (doc_id)
    )
    SELECT doc_id, dup_degree, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = min(doc_id) OVER (PARTITION BY cluster_id) AS is_keeper
    FROM allc
    """,
)
def q170_jaccard_dup_summary(spark, sf_dir):
    """Compact CERTIFIED form of q161 (dedup.jaccard_dup_summary):
    per-document dup_degree (number of exact-Jaccard>=0.6 partners)
    plus connected-component cluster id/size/keeper via the same
    min-label propagation as q38 — so a 100 TB run ships O(docs) rows
    off the cluster instead of q161's O(dups^2) pair set (7.1M pairs
    at sf0.1 already). The pair frame stays an engine-side
    intermediate: degree is one union+hash-aggregate, clustering is
    O(diameter) rounds on compact (id, label) pairs. The oracle
    re-derives the pair set from ANY-shared-token candidates (strict
    superset — the q161 completeness certificate carries over) and
    closes the graph with a recursive reachability CTE exactly like
    q38, so degree, component labels, sizes, and keeper election are
    all value-checked cross-engine."""
    from capex_data_pipeline_spark.extensions.dedup import (
        jaccard_dup_summary,
    )

    return jaccard_dup_summary(
        _t(spark, sf_dir, "documents"), threshold=0.6
    )


# --- q171: signed-domain DDSketch (mirrored stores + exact zeros)


@query(
    "q171_ddsketch_signed",
    """
    WITH vals AS (
      SELECT g, v FROM (
        SELECT event_type AS g,
               CASE WHEN event_id % 11 = 0 THEN 0.0::DOUBLE
                    WHEN event_id % 3 = 0 THEN -value
                    ELSE value END AS v
        FROM events
      ) WHERE v IS NOT NULL
    ),
    cells AS (
      SELECT g,
             CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS s,
             CASE WHEN v > 0
                    THEN ceil(ln(v) / ln((1.0 + 0.01) / (1.0 - 0.01)))::BIGINT
                  WHEN v < 0
                    THEN -(ceil(ln(-v) / ln((1.0 + 0.01) / (1.0 - 0.01)))::BIGINT)
                  ELSE 0 END AS sp,
             count(*)::BIGINT AS c
      FROM vals GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT g, sum(c)::BIGINT AS n,
             sum(CASE WHEN s = -1 THEN c ELSE 0 END)::BIGINT AS n_neg,
             sum(CASE WHEN s = 0 THEN c ELSE 0 END)::BIGINT AS n_zero,
             sum(CASE WHEN s = 1 THEN c ELSE 0 END)::BIGINT AS n_pos
      FROM cells GROUP BY g
    ),
    cum AS (
      SELECT g, s, sp, sum(c) OVER (PARTITION BY g ORDER BY s, sp) AS cum
      FROM cells
    ),
    qs AS (SELECT unnest([0.05::DOUBLE, 0.5::DOUBLE, 0.95::DOUBLE]) AS q),
    pick AS (
      SELECT g, q, n, n_neg, n_zero, n_pos, s, sp FROM (
        SELECT t.g, q.q, t.n, t.n_neg, t.n_zero, t.n_pos, c.s, c.sp,
               row_number() OVER (PARTITION BY t.g, q.q
                                  ORDER BY c.s, c.sp) AS rn
        FROM tot t CROSS JOIN qs q
        JOIN cum c ON c.g = t.g AND c.cum > floor(q.q * (t.n - 1))
      ) WHERE rn = 1
    ),
    est AS (
      SELECT g, q, n, n_neg, n_zero, n_pos,
             round(CASE
               WHEN s = 1 THEN 2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), abs(sp))
                               / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0)
               WHEN s = -1 THEN -2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), abs(sp))
                                / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0)
               ELSE 0.0 END, 6) AS est_q
      FROM pick
    ),
    ex AS (
      SELECT g, 0.05::DOUBLE AS q, round(quantile_cont(v, 0.05), 6) AS exact_q
      FROM vals GROUP BY g
      UNION ALL
      SELECT g, 0.5::DOUBLE, round(quantile_cont(v, 0.5), 6)
      FROM vals GROUP BY g
      UNION ALL
      SELECT g, 0.95::DOUBLE, round(quantile_cont(v, 0.95), 6)
      FROM vals GROUP BY g
    )
    SELECT e.g AS event_type, e.q, e.n, e.n_neg, e.n_zero, e.n_pos,
           e.est_q, x.exact_q,
           round(abs(e.est_q - x.exact_q) / greatest(abs(x.exact_q), 1e-6), 6)
             AS rel_error
    FROM est e JOIN ex x ON e.g = x.g AND e.q = x.q
    """,
)
def q171_ddsketch_signed(spark, sf_dir):
    """Signed-domain DDSketch (sketches.ddsketch_quantiles_by_signed —
    the mirrored two-store + exact-zero-counter construction of
    Masson/Lee/Rim VLDB 2019 §2.3): p05/p50/p95 of a deterministic
    NET-CHANGE derivation of events.value (every 3rd event debits,
    every 11th is an exact zero) per event_type. q157's positive-only
    domain handled signed columns by documented exclusion; this
    operator handles them loudly — three integer stores per group,
    still fully algebraic/mergeable, quantile read = one cumulative
    window over lexicographic (store, sortpos) cells + a min-struct
    aggregate (ascending (store, sortpos) IS ascending value order by
    construction). p05 lands in the NEGATIVE tail, so the alpha
    guarantee is observed on both tails (max observed 0.011 at
    alpha=0.01 — alpha plus the slack of comparing a bucket midpoint
    against the INTERPOLATED quantile_cont; the formal guarantee is
    against data points); n_neg/n_zero/n_pos make the store routing
    auditable. The oracle replays store assignment,
    mirrored bucket math, rank walk, midpoint signs, and both-tail
    relative errors value-exact."""
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by_signed,
    )

    ev = _t(spark, sf_dir, "events")
    signed = (
        F.when(F.col("event_id") % 11 == 0, F.lit(0.0))
        .when(F.col("event_id") % 3 == 0, -F.col("value"))
        .otherwise(F.col("value"))
    )
    return ddsketch_quantiles_by_signed(
        ev, "event_type", signed, alpha=0.01, quantiles=(0.05, 0.5, 0.95)
    )


# --- q173: skew-guarded ANTI join (the "what's new" path, armored)


@query(
    "q173_guarded_anti_join",
    """
    SELECT l_orderkey AS okey, l_partkey, l_quantity
    FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderstatus = 'F' AND o.o_orderkey = l.l_orderkey
    )
    """,
)
def q173_guarded_anti_join(spark, sf_dir):
    """Skew-guarded anti join (sketches.guarded_join how='left_anti'):
    lineitem rows whose order is NOT in the fulfilled set — q164's
    "what's new against an index" shape routed through the q156 CMS
    pre-flight gate, because a hot probe-side key straggles an anti
    join exactly like an inner join (every row of the key lands on
    ONE task; only the output multiplication differs). est_threshold=0
    forces the salted path here so the ORACLE certifies the armored
    variant: hot keys split out by per-side counts, the probe slice
    salted by content hash, the index slice replicated as DISTINCT
    KEYS x n_salt (presence is all an anti join reads from B — keys,
    not rows, replicate), explicit repartition on (key, salt) pinning
    the spread against AQE coalescing, cold slice anti-joins plain,
    union == the plain anti join row-for-row. over_strategy='cap' is
    rejected for semi/anti (it would drop OUTPUT rows, not candidate
    pairs)."""
    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_partkey", "l_quantity"
    )
    full = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("okey"))
    )
    return guarded_join(
        li,
        full,
        "okey",
        est_threshold=0,
        n_salt=4,
        hot_key_rows=3,
        how="left_anti",
    )


# --- q174: weighted rendezvous + shard-removal stability report


@query(
    "q174_rendezvous_weighted",
    """
    WITH keys AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE user_id IS NOT NULL
    ),
    wts AS (
      SELECT * FROM (VALUES
        (0, 1.0, 1.0), (1, 1.0, 1.0), (2, 1.0, 0.0), (3, 2.0, 2.0),
        (4, 2.0, 2.0), (5, 2.0, 2.0), (6, 1.0, 1.0), (7, 1.0, 1.0)
      ) AS t(s, wb, wa)
    ),
    cand AS (
      SELECT k.k, w.s, w.wb, w.wa,
             round(-1.0 / ln(
               (CAST(('0x' || substr(md5(w.s || '|' || k.k), 1, 13))
                     AS BIGINT) + 0.5) / 4503599627370496.0
             ), 6) AS inv
      FROM keys k CROSS JOIN wts w
    ),
    before AS (
      SELECT k, s AS shard FROM (
        SELECT k, s, row_number() OVER (PARTITION BY k
          ORDER BY round(wb * inv, 6) DESC, s DESC) AS rn
        FROM cand WHERE wb > 0) WHERE rn = 1
    ),
    after AS (
      SELECT k, s AS shard_after FROM (
        SELECT k, s, row_number() OVER (PARTITION BY k
          ORDER BY round(wa * inv, 6) DESC, s DESC) AS rn
        FROM cand WHERE wa > 0) WHERE rn = 1
    ),
    routed AS (SELECT b.k, b.shard, a.shard_after
               FROM before b JOIN after a USING (k)),
    tot AS (SELECT count(*)::BIGINT AS t FROM routed)
    SELECT r.shard, w.wb AS weight, count(*)::BIGINT AS n_keys,
           round(count(*) / t.t::DOUBLE, 6) AS share,
           sum(CASE WHEN r.shard <> r.shard_after THEN 1 ELSE 0 END)::BIGINT
             AS n_moved,
           round(sum(CASE WHEN r.shard <> r.shard_after THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS moved_frac
    FROM routed r CROSS JOIN tot t JOIN wts w ON w.s = r.shard
    GROUP BY r.shard, t.t, w.wb
    """,
)
def q174_rendezvous_weighted(spark, sf_dir):
    """Capacity-weighted rendezvous routing + shard-REMOVAL stability
    (layout.rendezvous_shards_weighted — weighted HRW via the
    logarithmic-score method, score = -w_s/ln(u) with u uniform from
    the 52-bit md5 prefix): users route across a HETEROGENEOUS
    8-shard fleet (capacities 1/1/1/2/2/2/1/1 — share_s tracks
    w_s/Σw), then shard 2 is REMOVED (weight → 0) and the report
    measures that ONLY shard 2's keys move (moved_frac = 1.0 there,
    0.0 everywhere else) — each evicted key lands on its second
    choice because every surviving shard's score is a function of its
    own hash alone. The grow case is q169; this is the other half a
    production resize needs. Scores quantize (round 6) before the
    argmax and ties break (score DESC, shard DESC), so the oracle
    replays every routing decision bit-for-bit."""
    from capex_data_pipeline_spark.extensions.layout import (
        rendezvous_shards_weighted,
    )

    ev = _t(spark, sf_dir, "events")
    return rendezvous_shards_weighted(
        ev,
        F.col("user_id"),
        weights=[1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 1.0, 1.0],
        weights_after=[1.0, 1.0, 0.0, 2.0, 2.0, 2.0, 1.0, 1.0],
    )


# --- q176: zone-map skipping — the measured layout comparison


def _q176_layout_block(name: str, key: str) -> str:
    """One layout's bucket/zone-map/summary chain (equal-width buckets
    over ``key``, 64 'files', per-bucket min/max stats, 2-D box skip)."""
    return f"""
      SELECT '{name}' AS layout, count(*)::BIGINT AS n_buckets,
             sum(CASE WHEN skp THEN 1 ELSE 0 END)::BIGINT
               AS n_skipped_buckets,
             sum(n)::BIGINT AS rows_total,
             sum(CASE WHEN skp THEN n ELSE 0 END)::BIGINT AS rows_skipped,
             round(sum(CASE WHEN skp THEN n ELSE 0 END)
                   / sum(n)::DOUBLE, 6) AS skip_frac,
             sum(hits)::BIGINT AS rows_matching
      FROM (
        SELECT bk, count(*)::BIGINT AS n,
               min(a) AS mina, max(a) AS maxa,
               min(b) AS minb, max(b) AS maxb,
               sum(h)::BIGINT AS hits,
               (max(a) < 100000.0 OR min(a) > 400000.0
                OR max(b) < 100.0 OR min(b) > 200.0) AS skp
        FROM (
          SELECT greatest(0, least(63, CAST(floor(
                   (({key}) - st.kmin)
                   / (CASE WHEN st.kmax > st.kmin THEN st.kmax - st.kmin
                           ELSE 1.0 END) * 64) AS INT))) AS bk,
                 a, b,
                 CASE WHEN a >= 100000.0 AND a <= 400000.0
                       AND b >= 100.0 AND b <= 200.0
                      THEN 1 ELSE 0 END AS h
          FROM zbase,
               (SELECT min({key}) AS kmin, max({key}) AS kmax
                FROM zbase) st
        ) GROUP BY bk
      )"""


@query(
    "q176_zonemap_skipping",
    f"""
    WITH st AS (
      SELECT min(o_totalprice::DOUBLE) AS minp, max(o_totalprice::DOUBLE) AS maxp,
             min(o_custkey::DOUBLE) AS minc, max(o_custkey::DOUBLE) AS maxc
      FROM orders
    ),
    sc AS (
      SELECT o.o_orderkey,
             greatest(0, least(CAST(floor(
               (o.o_totalprice::DOUBLE - st.minp)
               / (CASE WHEN st.maxp > st.minp THEN st.maxp - st.minp
                       ELSE 1.0 END) * 255.0) AS BIGINT), 255)) AS xi,
             greatest(0, least(CAST(floor(
               (o.o_custkey::DOUBLE - st.minc)
               / (CASE WHEN st.maxc > st.minc THEN st.maxc - st.minc
                       ELSE 1.0 END) * 255.0) AS BIGINT), 255)) AS yi
      FROM orders o, st
    ),
    zv AS (
      SELECT o_orderkey,
             CAST(list_sum(list_transform(range(0, 8), bb ->
               (((xi >> CAST(bb AS INTEGER)) & 1)
                  << CAST(bb * 2 AS INTEGER))
               + (((yi >> CAST(bb AS INTEGER)) & 1)
                  << CAST(bb * 2 + 1 AS INTEGER)))) AS BIGINT) AS zvalue
      FROM sc
    ),
    zbase AS (
      SELECT o.o_orderkey::DOUBLE AS okey,
             o.o_totalprice::DOUBLE AS a,
             o.o_custkey::DOUBLE AS b,
             z.zvalue::DOUBLE AS zk
      FROM orders o JOIN zv z USING (o_orderkey)
    )
    {_q176_layout_block('unsorted', 'okey')}
    UNION ALL
    {_q176_layout_block('sort_price', 'a')}
    UNION ALL
    {_q176_layout_block('zorder', 'zk')}
    """,
)
def q176_zonemap_skipping(spark, sf_dir):
    """Zone-map skipping report (layout.zonemap_skip_report): lay
    orders out three ways — insertion order, sorted by price, and
    Z-ordered on (price, custkey) via q149's Morton key — into 64
    equal-width 'files', record per-file min/max stats on both
    predicate columns, and count what a 2-D box predicate (price in
    [100k, 400k] AND custkey in [100, 200]) can PROVE skippable
    without reading. This is the mechanism (parquet row-group stats /
    Delta-Iceberg file pruning) that decides selective-scan cost at
    100 TB, and the report turns q149's qualitative Z-order argument
    into a measured comparison: insertion order skips ~nothing, the
    single-column sort skips only the price-range complement and is
    blind to custkey, the Z-order layout's rectangular files skip on
    BOTH dimensions. rows_matching rides along per layout to show
    skipping is sound (identical across layouts — hits only ever
    live in unskipped files). One stats row + one map-only bucket
    pass + one 64-cell zone aggregate per layout; the oracle replays
    buckets, stats, skip decisions, and counts value-exact."""
    from capex_data_pipeline_spark.extensions.layout import (
        zonemap_skip_report,
        zorder_values,
    )

    orders = _t(spark, sf_dir, "orders")
    pa, pb = (100000.0, 400000.0), (100.0, 200.0)

    def rep(df, key, name):
        return zonemap_skip_report(
            df, "o_totalprice", "o_custkey", key, name, pa, pb, n_buckets=64
        )

    zv = zorder_values(orders, ["o_totalprice", "o_custkey"], bits=8)
    return (
        rep(orders, F.col("o_orderkey"), "unsorted")
        .unionByName(rep(orders, F.col("o_totalprice"), "sort_price"))
        .unionByName(rep(zv, F.col("zvalue"), "zorder"))
    )


# --- q177: sketch-driven join-graph advisor (the CBO decision, external)


def _q177_cells(t: str, k: str) -> str:
    return (
        "SELECT j.j AS j, CAST(('0x' || substr(md5(j.j || '|' || "
        f"CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT) % 1024 AS p, "
        "count(*)::BIGINT AS c "
        f"FROM {t}, (SELECT CAST(unnest([0, 1, 2]) AS VARCHAR) AS j) j "
        f"WHERE {k} IS NOT NULL GROUP BY 1, 2"
    )


def _q177_edge(name: str, ta: str, ka: str, tb: str, kb: str) -> str:
    """One edge's profile row: CMS inner-product estimate (min over
    ALL depth rows, absent rows counting 0 — the engine's LEFT-join
    semantics), exact size from per-key count products, counts,
    selectivity."""
    return f"""
    SELECT '{name}' AS edge,
           (SELECT count(*)::BIGINT FROM {ta}) AS n_left,
           (SELECT count(*)::BIGINT FROM {tb}) AS n_right,
           es.est_join_rows, ex.exact_join_rows,
           es.est_join_rows - ex.exact_join_rows AS overestimate,
           round(es.est_join_rows / ((SELECT count(*) FROM {ta})::DOUBLE
                 * (SELECT count(*) FROM {tb})::DOUBLE), 9)
             AS est_selectivity
    FROM (
      SELECT min(coalesce(ip, 0))::BIGINT AS est_join_rows
      FROM (SELECT CAST(x.x AS VARCHAR) AS j
            FROM (SELECT unnest([0, 1, 2]) AS x) x) alljj
      LEFT JOIN (
        SELECT a.j, sum(a.c * b.c)::BIGINT AS ip
        FROM ({_q177_cells(ta, ka)}) a
        JOIN ({_q177_cells(tb, kb)}) b ON a.j = b.j AND a.p = b.p
        GROUP BY a.j
      ) ips USING (j)
    ) es, (
      SELECT coalesce(sum(ca.n * cb.n), 0)::BIGINT AS exact_join_rows
      FROM (SELECT CAST({ka} AS VARCHAR) AS k, count(*)::BIGINT AS n
            FROM {ta} WHERE {ka} IS NOT NULL GROUP BY 1) ca
      JOIN (SELECT CAST({kb} AS VARCHAR) AS k, count(*)::BIGINT AS n
            FROM {tb} WHERE {kb} IS NOT NULL GROUP BY 1) cb USING (k)
    ) ex
    """


_Q177_EDGES = [
    ("customer-orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier-lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ("nation-customer", "nation", "n_nationkey", "customer", "c_nationkey"),
]


@query(
    "q177_join_graph_profile",
    "SELECT edge, n_left, n_right, est_join_rows, exact_join_rows, "
    "overestimate, est_selectivity, "
    "row_number() OVER (ORDER BY est_join_rows, edge) AS plan_rank "
    "FROM ("
    + " UNION ALL ".join(f"({_q177_edge(*e)})" for e in _Q177_EDGES)
    + ") profiled",
)
def q177_join_graph_profile(spark, sf_dir):
    """Sketch-driven join-graph advisor (sketches.join_graph_profile):
    every candidate join edge of the schema profiled from CMS inner
    products — est_join_rows, exact ride-along, selectivity, and the
    greedy left-deep plan_rank (smallest estimated output first) a
    cost-based optimizer would derive from the same statistics. The
    q156 guarded join consumes ONE edge's estimate as its pre-flight;
    this externalizes the whole planning decision before any shuffle
    runs, from depth×width integer cells per side. The oracle replays
    all five edges' sketches (min over ALL depth rows with absent
    rows counting zero — the engine's LEFT-join convention), exact
    per-key count products, selectivities, and the rank."""
    from capex_data_pipeline_spark.extensions.sketches import (
        join_graph_profile,
    )

    t = {n: _t(spark, sf_dir, n) for n in (
        "customer", "orders", "lineitem", "part", "supplier", "nation"
    )}
    return join_graph_profile([
        ("customer-orders", t["customer"], F.col("c_custkey"),
         t["orders"], F.col("o_custkey")),
        ("orders-lineitem", t["orders"], F.col("o_orderkey"),
         t["lineitem"], F.col("l_orderkey")),
        ("part-lineitem", t["part"], F.col("p_partkey"),
         t["lineitem"], F.col("l_partkey")),
        ("supplier-lineitem", t["supplier"], F.col("s_suppkey"),
         t["lineitem"], F.col("l_suppkey")),
        ("nation-customer", t["nation"], F.col("n_nationkey"),
         t["customer"], F.col("c_nationkey")),
    ])


# --- q178: ANALYZE-style table statistics (the CBO's raw material)


def _q178_col(t: str, c: str) -> str:
    """One column's stats row: counts + avg rendered width + the q153
    HLL NDV estimate over the string-cast non-null values."""
    return f"""
    SELECT '{c}' AS column_name,
           (SELECT count(*)::BIGINT FROM {t}) AS n_rows,
           (SELECT count(*)::BIGINT FROM {t} WHERE {c} IS NULL) AS n_null,
           round((SELECT count(*) FROM {t} WHERE {c} IS NULL)
                 / (SELECT count(*) FROM {t})::DOUBLE, 6) AS null_frac,
           (SELECT round(avg(length(CAST({c} AS VARCHAR))), 2)
            FROM {t} WHERE {c} IS NOT NULL) AS avg_len,
           ex.ndv_exact,
           s.n_estimated AS ndv_est,
           round(abs(s.n_estimated - ex.ndv_exact)
                 / nullif(CAST(ex.ndv_exact AS DOUBLE), 0.0), 6)
             AS ndv_rel_error
    FROM (
      SELECT round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                   / (sum(pow(2.0, -mr))
                      + CAST(64 - count(*) AS DOUBLE)), 6) AS n_estimated
      FROM (
        SELECT h % 64 AS b,
               max(CASE WHEN (h >> 6) = 0 THEN 47
                        ELSE 46 - length(bin(h >> 6)) + 1 END) AS mr
        FROM (
          SELECT CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 13))
                      AS BIGINT) AS h
          FROM {t} WHERE {c} IS NOT NULL
        ) GROUP BY 1
      )
    ) s, (
      SELECT count(DISTINCT CAST({c} AS VARCHAR))::BIGINT AS ndv_exact
      FROM {t} WHERE {c} IS NOT NULL
    ) ex
    """


_Q178_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
)


@query(
    "q178_table_stats",
    " UNION ALL ".join(f"({_q178_col('orders', c)})" for c in _Q178_COLS),
)
def q178_table_stats(spark, sf_dir):
    """ANALYZE-TABLE-style column statistics in ONE scan
    (sketches.table_stats): per orders column — row count, NULL
    count/fraction, average rendered width, and NDV as the q126/q153
    engine-portable HLL estimate with the exact NDV riding along for
    the error report. These are the statistics q177's join-graph
    advisor (and any cost-based optimizer) plans from; maintaining
    them costs one melt pass emitting compact (column, value) pairs
    plus column-count-sized aggregates — cols × 64 HLL register
    cells, never a per-column rescan. The oracle replays every
    counter and every register value-exact."""
    from capex_data_pipeline_spark.extensions.sketches import table_stats

    return table_stats(
        _t(spark, sf_dir, "orders"), list(_Q178_COLS), b=6
    )


# ---- q179: edit-distance similarity join (Ed-Join prefix filter)


@query(
    "q179_editdist_join",
    """
    WITH p AS (
      SELECT doc_id,
             lower(substr(coalesce(text, ''), 1, 40)) AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.s, b.s)::INTEGER AS dist
    FROM p a JOIN p b
      ON a.doc_id < b.doc_id
     AND abs(length(a.s) - length(b.s)) <= 3
     AND levenshtein(a.s, b.s) <= 3
    """,
)
def q179_editdist_join(spark, sf_dir):
    """Edit-distance similarity self-join (matching.editdist_join):
    every document pair whose lowercased 40-char opening is within
    Levenshtein distance 3 — the fuzzy-prefix matcher a curator runs
    to catch near-identical titles/boilerplate openings that token-set
    similarity (q161) scores as EQUAL (edit distance sees character
    order; token Jaccard does not). The engine never forms the
    all-pairs matrix: candidates come from the Ed-Join positional
    q-gram prefix filter (each distinct string indexes only its
    q*k+1 = 7 globally-rarest bigrams; k edits destroy at most q*k
    grams, so one prefix gram must survive with position shift <= k)
    plus a bounded length-bucket path for short strings, then exact
    JVM levenshtein verifies each candidate. The oracle IS the
    length-banded all-pairs join, so pair-set equality certifies the
    prefix filter lost nothing. Corpus is all-ASCII (pinned by the
    tests), where Spark's codepoint and DuckDB's byte levenshtein
    agree."""
    from capex_data_pipeline_spark.extensions.matching import editdist_join

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40)
        ).alias("s"),
    )
    return editdist_join(docs, "doc_id", "s", k=3, q=2).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        "dist",
    )


# ---- q180: priority sampling (weighted, without replacement, unbiased)


@query(
    "q180_priority_sample",
    """
    WITH b AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
             CAST(('0x' || substr(md5('pr|' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) AS h
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    p AS (
      SELECT doc_id, weight,
             weight / ((h + 1) / 4294967296.0) AS priority
      FROM b
    ),
    r AS (
      SELECT doc_id, weight, priority,
             row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
      FROM p
    )
    SELECT doc_id, weight, priority,
           greatest(weight,
                    coalesce((SELECT max(priority) FROM r WHERE rn = 65),
                             0.0)) AS est_weight
    FROM r WHERE rn <= 64
    """,
)
def q180_priority_sample(spark, sf_dir):
    """Weighted sampling without replacement with unbiased subset-sum
    estimation (corpus.priority_sample; Duffield-Lund-Thorup priority
    sampling): the 64 documents with the largest w/u priorities,
    weighted by length, plus est_weight = max(w, tau) so any
    post-hoc slice of the sample still estimates its true total.
    The uniform u is the engine-portable md5 integer shifted to
    (0, 1], and every arithmetic step is one IEEE op, so the oracle
    reproduces each priority DOUBLE-for-double — the sample is
    re-derivable by any engine, which is what makes it auditable.
    One narrow map + one TakeOrdered(k+1); the input is never
    shuffled or sorted globally."""
    from capex_data_pipeline_spark.extensions.corpus import priority_sample

    return priority_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        k=64,
        weight_col="n_chars",
        key_col="doc_id",
        seed="pr",
    )


# ---- q181: exact quantiles via two-phase targeted selection


@query(
    "q181_exact_quantiles",
    """
    WITH v AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ),
    n AS (SELECT count(*) AS n FROM v)
    SELECT CAST(0.5 AS DOUBLE) AS p, CAST(ceil(0.5 * n.n) AS BIGINT) AS rank,
           (SELECT quantile_disc(x, 0.5) FROM v) AS value FROM n
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE), CAST(ceil(0.9 * n.n) AS BIGINT),
           (SELECT quantile_disc(x, 0.9) FROM v) FROM n
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE), CAST(ceil(0.99 * n.n) AS BIGINT),
           (SELECT quantile_disc(x, 0.99) FROM v) FROM n
    """,
)
def q181_exact_quantiles(spark, sf_dir):
    """EXACT p50/p90/p99 of line-item price without a global sort
    (sketches.exact_quantiles): equi-width histogram pass locates the
    bucket holding rank ceil(p*n), then ONE final job answers ALL ps —
    rows join their broadcast target buckets and a p-partitioned
    window over only in-bucket rows picks the offset row (the shared
    q187 machinery with a constant group; r11 replaced the former
    one-TakeOrdered-per-p tail) — the targeted selection that
    replaces the single-task ``ORDER BY`` funnel planlint bans. The
    exact sibling of q157's DDSketch (use the sketch for mergeable
    monitoring, this when the number must be a true data value: SLA
    cut lines, range-partition boundaries). Oracle is DuckDB's
    quantile_disc — same ceil(p*n) discrete-rank convention — so the
    returned doubles match bit-for-bit."""
    from capex_data_pipeline_spark.extensions.sketches import exact_quantiles

    return exact_quantiles(
        _t(spark, sf_dir, "lineitem").select("l_extendedprice"),
        "l_extendedprice",
        ps=[0.5, 0.9, 0.99],
    )


# ---- q184: incremental (merge-maintained) table statistics


@query(
    "q184_stats_incremental",
    " UNION ALL ".join(f"({_q178_col('orders', c)})" for c in _Q178_COLS),
)
def q184_stats_incremental(spark, sf_dir):
    """q178's planning statistics maintained the way a 100 TB
    deployment actually runs them (sketches.table_stats_incremental):
    per-ORDER-DATE partial cell frames — the table a daily ingest
    persists — merged algebraically (counts by sum, widths by sum,
    HLL registers by max) and fed through the identical finalize
    arithmetic. The oracle is q178's direct whole-table SQL, so
    equality CERTIFIES the merge: incremental maintenance loses
    nothing vs a full rescan, which is the property that lets the
    stats stay fresh without ever re-reading history."""
    from capex_data_pipeline_spark.extensions.sketches import (
        table_stats_incremental,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    return table_stats_incremental(
        # HLL-register building over a single-row-group scan: spread
        # first or every per-day partial cell runs on one task
        spread_few_splits(_t(spark, sf_dir, "orders")),
        list(_Q178_COLS),
        partition=F.date_trunc("day", F.col("o_orderdate")),
        b=6,
    )


# ---- q183: functional-dependency / candidate-key profiling


def _q183_pair(det: str, dep: str) -> str:
    return f"""
    SELECT '{det}' AS determinant, '{dep}' AS dependent,
           count(*) AS n_keys,
           coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)::BIGINT
             AS violating_keys,
           max(nd) AS max_deps_per_key,
           max(nd) <= 1 AS fd_holds
    FROM (
      SELECT count(DISTINCT coalesce(CAST({dep} AS VARCHAR), '<null>')) AS nd
      FROM orders
      GROUP BY coalesce(CAST({det} AS VARCHAR), '<null>')
    )
    """


_Q183_PAIRS = [
    ("o_orderkey", "o_custkey"),
    ("o_orderkey", "o_totalprice"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderdate", "o_orderpriority"),
]


@query(
    "q183_fd_profile",
    " UNION ALL ".join(f"({_q183_pair(a, b)})" for a, b in _Q183_PAIRS),
)
def q183_fd_profile(spark, sf_dir):
    """Functional-dependency / candidate-key discovery over orders
    (sketches.fd_profile): o_orderkey determines custkey and price
    (it's the key), while custkey->status and date->priority violate
    — with the violation count and worst fan-out per pair. Completes
    the planning-statistics family (q177 join sizes, q178 NDV/width,
    q184 incremental maintenance): NDV says how big, this says which
    columns are KEYS vs denormalized copies. One exact hash aggregate
    per pair on the determinant key; NULLs are sentinel values, so
    reported keys are keys under dedup semantics too."""
    from capex_data_pipeline_spark.extensions.sketches import fd_profile

    return fd_profile(_t(spark, sf_dir, "orders"), _Q183_PAIRS)


# ---- q185: per-column most-common values (the ANALYZE other half)


def _q185_col(t: str, c: str, k: int = 4) -> str:
    return f"""
    SELECT '{c}' AS column_name, value, n,
           round(n / t.total, 6) AS frac, rank
    FROM (
      SELECT coalesce(CAST({c} AS VARCHAR), '<null>') AS value,
             count(*) AS n,
             row_number() OVER (
               ORDER BY count(*) DESC,
                        coalesce(CAST({c} AS VARCHAR), '<null>') ASC
             ) AS rank
      FROM {t}
      GROUP BY 1
    ), (SELECT count(*)::DOUBLE AS total FROM {t}) t
    WHERE rank <= {k}
    """


_Q185_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")


@query(
    "q185_column_topk",
    " UNION ALL ".join(f"({_q185_col('orders', c)})" for c in _Q185_COLS),
)
def q185_column_topk(spark, sf_dir):
    """pg_stats-style most_common_vals (sketches.column_topk_values):
    per orders column, the 4 heaviest values with exact count and
    frequency fraction — the selectivity numbers a planner reads for
    skewed predicates, NULL included as a first-class value. One melt
    pass + one compact-key aggregate + a WindowGroupLimit top-k per
    column (map tasks forward at most k rows per column). Ties pinned
    by value ascending so the profile is engine-deterministic."""
    from capex_data_pipeline_spark.extensions.sketches import (
        column_topk_values,
    )

    return column_topk_values(
        _t(spark, sf_dir, "orders"), list(_Q185_COLS), k=4
    )


# ---- q186: per-group priority sampling (mixture sampler)


@query(
    "q186_group_priority_sample",
    """
    WITH b AS (
      SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight,
             CAST(('0x' || substr(md5('pr|' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) AS h
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    p AS (
      SELECT source, doc_id, weight,
             weight / ((h + 1) / 4294967296.0) AS priority
      FROM b
    ),
    r AS (
      SELECT source, doc_id, weight, priority,
             row_number() OVER (
               PARTITION BY source ORDER BY priority DESC, doc_id
             ) AS rn
      FROM p
    ),
    t AS (
      SELECT source, max(CASE WHEN rn = 17 THEN priority END) AS tau
      FROM r GROUP BY source
    )
    SELECT r.source, r.doc_id, r.weight, r.priority,
           greatest(r.weight, coalesce(t.tau, 0.0)) AS est_weight
    FROM r JOIN t ON r.source = t.source
    WHERE r.rn <= 16
    """,
)
def q186_group_priority_sample(spark, sf_dir):
    """Per-source weighted sample (corpus.group_priority_sample): 16
    documents from EVERY source, longer docs proportionally more
    likely, each source carrying its own priority threshold tau so
    per-source token totals remain unbiased under the
    Duffield-Lund-Thorup estimator — the mixture-construction
    sampler. WindowGroupLimit bounds every map task at 17 rows per
    source; priorities are the same bit-exact md5 arithmetic as q180,
    so the oracle replays the sample double-for-double."""
    from capex_data_pipeline_spark.extensions.corpus import (
        group_priority_sample,
    )

    return group_priority_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars"),
        k=16,
        weight_col="n_chars",
        key_col="doc_id",
        group_col="source",
        seed="pr",
    )


# ---- q187: exact per-group quantiles (targeted selection, grouped)


@query(
    "q187_group_quantiles",
    """
    WITH v AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS x FROM events
      WHERE value IS NOT NULL
    )
    SELECT g AS event_type, CAST(0.5 AS DOUBLE) AS p,
           CAST(ceil(0.5 * count(*)) AS BIGINT) AS rank,
           quantile_disc(x, 0.5) AS value
    FROM v GROUP BY g
    UNION ALL
    SELECT g, CAST(0.99 AS DOUBLE), CAST(ceil(0.99 * count(*)) AS BIGINT),
           quantile_disc(x, 0.99)
    FROM v GROUP BY g
    """,
)
def q187_group_quantiles(spark, sf_dir):
    """EXACT p50/p99 of event value per event type
    (sketches.group_exact_quantiles): the grouped form of q181's
    targeted selection — per-group equi-width histograms in one scan
    (group-keyed lo/width broadcast), driver locates each (group, p)
    target bucket + rank offset, and a window over only IN-BUCKET rows
    (~n_g/256 per partition, never the group) picks the value. The
    exact complement of q157's per-group DDSketch for metadata-sized
    group domains; values are true data doubles, certified bit-exact
    against quantile_disc per group."""
    from capex_data_pipeline_spark.extensions.sketches import (
        group_exact_quantiles,
    )

    return group_exact_quantiles(
        _t(spark, sf_dir, "events").select("event_type", "value"),
        "event_type",
        "value",
        ps=[0.5, 0.99],
    )


# ---- q188: exact per-group MAD robust outlier report


@query(
    "q188_mad_outliers",
    """
    WITH v AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS x FROM events
      WHERE value IS NOT NULL
    ),
    m AS (SELECT g, quantile_disc(x, 0.5) AS med FROM v GROUP BY g),
    d AS (
      SELECT v.g, v.x, m.med, abs(v.x - m.med) AS dev
      FROM v JOIN m ON v.g IS NOT DISTINCT FROM m.g
    ),
    md AS (SELECT g, quantile_disc(dev, 0.5) AS mad FROM d GROUP BY g)
    SELECT d.g AS event_type, count(*) AS n,
           max(d.med) AS median, max(md.mad) AS mad,
           coalesce(sum(CASE WHEN d.dev > 3.0 * md.mad THEN 1 ELSE 0 END),
                    0)::BIGINT AS n_outliers,
           round(coalesce(sum(CASE WHEN d.dev > 3.0 * md.mad
                               THEN 1 ELSE 0 END), 0)
                 / count(*)::DOUBLE, 6) AS outlier_frac
    FROM d JOIN md ON d.g IS NOT DISTINCT FROM md.g
    GROUP BY d.g
    """,
)
def q188_mad_outliers(spark, sf_dir):
    """Robust contamination report per event type
    (sketches.group_mad_outliers): EXACT median and MAD via q187's
    grouped targeted selection, then the count of rows beyond
    3 MADs — the outlier instrument that survives the contamination
    it measures (a mean/stddev z-score moves WITH the outliers; the
    median/MAD pair does not). Deviations are single IEEE subtracts,
    so the oracle reproduces every statistic bit-for-bit, discrete
    quantile_disc convention on both sides."""
    from capex_data_pipeline_spark.extensions.sketches import (
        group_mad_outliers,
    )

    return group_mad_outliers(
        _t(spark, sf_dir, "events").select("event_type", "value"),
        "event_type",
        "value",
        cutoff=3.0,
    )


# ---- q190: golden-record survivorship over near-dup clusters


def _q190_sql() -> str:
    return f"""
    WITH RECURSIVE {_q38_clusters_cte()}, f AS (
      SELECT a.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
      FROM allc a JOIN documents d USING (doc_id)
    ), lm AS (
      SELECT cluster_id, v AS lang_mode FROM (
        SELECT cluster_id, coalesce(lang, '<null>') AS v,
               row_number() OVER (
                 PARTITION BY cluster_id
                 ORDER BY count(*) DESC, coalesce(lang, '<null>') ASC
               ) AS rn
        FROM f GROUP BY cluster_id, coalesce(lang, '<null>')
      ) WHERE rn = 1
    ), sm AS (
      SELECT cluster_id, v AS source_mode FROM (
        SELECT cluster_id, coalesce(source, '<null>') AS v,
               row_number() OVER (
                 PARTITION BY cluster_id
                 ORDER BY count(*) DESC, coalesce(source, '<null>') ASC
               ) AS rn
        FROM f GROUP BY cluster_id, coalesce(source, '<null>')
      ) WHERE rn = 1
    ), agg AS (
      SELECT cluster_id, count(*) AS n_members,
             max(n_chars) AS n_chars_max, min(doc_id) AS doc_id_min
      FROM f GROUP BY cluster_id
    )
    SELECT agg.cluster_id, agg.n_members, agg.n_chars_max,
           agg.doc_id_min, lm.lang_mode, sm.source_mode
    FROM agg JOIN lm USING (cluster_id) JOIN sm USING (cluster_id)
    """


@query("q190_golden_record", _q190_sql())
def q190_golden_record(spark, sf_dir):
    """Field-level survivorship over q38's near-dup clusters
    (dedup.golden_record): one merged record per cluster — most
    frequent lang and source (mode, NULL-as-value, ties to smallest
    string), longest length, smallest id — the entity-resolution
    merge that BUILDS a better record instead of electing one member
    (q133's job). Compact (cluster, value) aggregates + a
    cluster-partitioned WindowGroupLimit per mode field; the oracle
    composes the shared q38 replay with a SQL restatement of every
    survivorship rule."""
    from capex_data_pipeline_spark.extensions import dedup as D

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(docs, num_hashes=8, bands=4, threshold=0.5)
    clusters = D.dedup_clusters(pairs, corpus=docs).select(
        "doc_id", "cluster_id"
    )
    members = clusters.join(docs, "doc_id").select(
        "cluster_id", "doc_id", "lang", "source", "n_chars"
    )
    return D.golden_record(
        members,
        "cluster_id",
        mode_cols=["lang", "source"],
        max_cols=["n_chars"],
        min_cols=["doc_id"],
    ).select(
        "cluster_id",
        "n_members",
        "n_chars_max",
        "doc_id_min",
        "lang_mode",
        "source_mode",
    )


# ---- q195: largest-remainder token-budget allocation


_Q195_W = {"src0": 7, "src1": 5, "src2": 5, "src3": 2, "src4": 1}
_Q195_BUDGET = 1_000_003  # deliberately not divisible: remainders matter


@query(
    "q195_token_budget",
    f"""
    WITH t AS (
      SELECT source, sum(CAST(floor(n_chars / 4.0) AS BIGINT)) AS avail
      FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source, avail,
             CASE source
               WHEN 'src0' THEN 7 WHEN 'src1' THEN 5 WHEN 'src2' THEN 5
               WHEN 'src3' THEN 2 WHEN 'src4' THEN 1 ELSE 1 END AS weight
      FROM t
    ),
    q AS (
      SELECT source, avail, weight,
             {_Q195_BUDGET}.0 * weight / (SELECT sum(weight) FROM wts)
               AS quota,
             CAST(floor({_Q195_BUDGET}.0 * weight
                        / (SELECT sum(weight) FROM wts)) AS BIGINT) AS base
      FROM wts
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY quota - base DESC, source ASC)
               AS rk,
             {_Q195_BUDGET} - (SELECT sum(base) FROM q) AS leftover
      FROM q
    )
    SELECT source, avail AS available_tokens, weight::BIGINT AS weight,
           round(quota, 6) AS quota_raw,
           base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
             AS alloc_tokens,
           round((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                 / nullif(avail, 0)::DOUBLE, 6) AS epochs
    FROM r
    """,
)
def q195_token_budget(spark, sf_dir):
    """Fixed-budget token allocation across sources by largest
    remainder (corpus.token_budget_allocation; Hamilton's method):
    ~1M tokens split 7/5/5/2/1/1... over the corpus sources, allocations
    summing to the budget EXACTLY, with epochs = alloc/available
    exposing which sources the mixture forces into multi-epoch
    repetition. Completes the mixture toolkit (q69 what survives,
    q123 when it's seen, this how much each source owes). Integer
    weights make every quota a Σw-denominator rational, so floors and
    remainder ranks replay exactly in the oracle. Token counts use
    the chars/4 heuristic per document, summed in one aggregate;
    the allocation is a group-sized driver walk."""
    from capex_data_pipeline_spark.extensions.corpus import (
        token_budget_allocation,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.floor(F.col("n_chars") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    return token_budget_allocation(
        docs, _Q195_W, _Q195_BUDGET, group_col="source",
        tokens_col="tokens", default_weight=1,
    )


# ---- q199: persisted-state table statistics (durable q184)


def _q199_col(t: str, c: str) -> str:
    """One column's SKETCH-ONLY stats row: q178's arithmetic minus the
    exact-NDV ride-along — the shape the persisted fold serves, since
    exact distinct counts would rescan the history the state exists
    to retire."""
    return f"""
    SELECT '{c}' AS column_name,
           (SELECT count(*)::BIGINT FROM {t}) AS n_rows,
           (SELECT count(*)::BIGINT FROM {t} WHERE {c} IS NULL) AS n_null,
           round((SELECT count(*) FROM {t} WHERE {c} IS NULL)
                 / (SELECT count(*) FROM {t})::DOUBLE, 6) AS null_frac,
           (SELECT round(avg(length(CAST({c} AS VARCHAR))), 2)
            FROM {t} WHERE {c} IS NOT NULL) AS avg_len,
           s.n_estimated AS ndv_est
    FROM (
      SELECT round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                   / (sum(pow(2.0, -mr))
                      + CAST(64 - count(*) AS DOUBLE)), 6) AS n_estimated
      FROM (
        SELECT h % 64 AS b,
               max(CASE WHEN (h >> 6) = 0 THEN 47
                        ELSE 46 - length(bin(h >> 6)) + 1 END) AS mr
        FROM (
          SELECT CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 13))
                      AS BIGINT) AS h
          FROM {t} WHERE {c} IS NOT NULL
        ) GROUP BY 1
      )
    ) s
    """


@query(
    "q199_stats_persisted_fold",
    " UNION ALL ".join(f"({_q199_col('orders', c)})" for c in _Q178_COLS),
)
def q199_stats_persisted_fold(spark, sf_dir):
    """q184's incremental statistics with DURABLE state
    (state.save_stats_cells / state.stats_fold_persisted): history
    (orders before 1998) is scanned ONCE into per-day cell frames and
    PERSISTED as a parquet table bucketed on the column key; the fold
    reads those cells back — the history-merge aggregate runs with
    zero Exchange straight off the buckets (plan-pinned in
    tests/test_state.py) — and folds in "today's" batch (1998 orders)
    as fresh cells. The oracle recomputes the same sketch-only
    statistics over the WHOLE table directly, so equality certifies
    the durable merge: counts/widths by sum and HLL registers by max
    lose nothing across a disk round-trip. The exact-NDV ride-along
    is deliberately absent — the cost this state exists to drop."""
    from capex_data_pipeline_spark.extensions.state import (
        save_stats_cells,
        stats_fold_persisted,
    )

    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("date")
    history = orders.filter(F.col("o_orderdate") < cutoff)
    today = orders.filter(F.col("o_orderdate") >= cutoff)
    # the "prior call": persist history's per-day cells, bucketed on _col
    save_stats_cells(
        history,
        list(_Q178_COLS),
        partition=F.date_trunc("day", F.col("o_orderdate")),
        table="t_state_cells_q199",
        b=6,
        n_buckets=8,
        path="/root/repo/spark-warehouse/t_state_cells_q199",
    )
    # today's fold: persisted history cells + the new batch's cells
    return stats_fold_persisted(
        spark, "t_state_cells_q199", new_df=today, cols=list(_Q178_COLS),
        b=6,
    )


# ---- q200: stats-sized sketch-only join-graph advisor (q178 -> q177)


_Q200_POWS = ", ".join(
    f"({1 << i})" for i in range(6, 21)
)  # 64 .. 1048576


def _q200_ndv(t: str, c: str) -> str:
    """The q178 HLL NDV estimate (b=6, round 6) of one key column."""
    return f"""
      SELECT round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                   / (sum(pow(2.0, -mr))
                      + CAST(64 - count(*) AS DOUBLE)), 6)
      FROM (
        SELECT h % 64 AS b,
               max(CASE WHEN (h >> 6) = 0 THEN 47
                        ELSE 46 - length(bin(h >> 6)) + 1 END) AS mr
        FROM (
          SELECT CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 13))
                      AS BIGINT) AS h
          FROM {t} WHERE {c} IS NOT NULL
        ) GROUP BY 1
      )
    """


def _q200_cells(t: str, k: str) -> str:
    """q177's CMS cells with the modulus taken from the edge's
    stats-sized width CTE instead of a fixed 1024."""
    return (
        "SELECT j.j AS j, CAST(('0x' || substr(md5(j.j || '|' || "
        f"CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT)"
        " % (SELECT w FROM nw) AS p, "
        "count(*)::BIGINT AS c "
        f"FROM {t}, (SELECT CAST(unnest([0, 1, 2]) AS VARCHAR) AS j) j "
        f"WHERE {k} IS NOT NULL GROUP BY 1, 2"
    )


def _q200_edge(name: str, ta: str, ka: str, tb: str, kb: str) -> str:
    """One edge's SKETCH-ONLY profile row: width = smallest power of
    two >= ceil(max(NDV_a, NDV_b)) clamped to [64, 1048576] by an
    integer lookup (no float log on either engine), then the CMS
    inner-product estimate at that width. No exact ride-along —
    nothing in this query shuffles per-key counts."""
    return f"""
    WITH nw AS (
      SELECT (SELECT min(p)
              FROM (VALUES {_Q200_POWS}) pw(p)
              WHERE p >= least(1048576, greatest(
                64, CAST(ceil(greatest(({_q200_ndv(ta, ka)}),
                                       ({_q200_ndv(tb, kb)}))) AS BIGINT)
              )))::BIGINT AS w
    )
    SELECT '{name}' AS edge,
           (SELECT count(*)::BIGINT FROM {ta}) AS n_left,
           (SELECT count(*)::BIGINT FROM {tb}) AS n_right,
           (SELECT w FROM nw) AS cms_width,
           es.est_join_rows,
           round(es.est_join_rows / ((SELECT count(*) FROM {ta})::DOUBLE
                 * (SELECT count(*) FROM {tb})::DOUBLE), 9)
             AS est_selectivity
    FROM (
      SELECT min(coalesce(ip, 0))::BIGINT AS est_join_rows
      FROM (SELECT CAST(x.x AS VARCHAR) AS j
            FROM (SELECT unnest([0, 1, 2]) AS x) x) alljj
      LEFT JOIN (
        SELECT a.j, sum(a.c * b.c)::BIGINT AS ip
        FROM ({_q200_cells(ta, ka)}) a
        JOIN ({_q200_cells(tb, kb)}) b ON a.j = b.j AND a.p = b.p
        GROUP BY a.j
      ) ips USING (j)
    ) es
    """


_Q200_KEYS = {
    "customer": ["c_custkey", "c_nationkey"],
    "orders": ["o_custkey", "o_orderkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "nation": ["n_nationkey"],
}

_Q200_EDGE_KEYS = {
    "customer-orders": ("c_custkey", "o_custkey"),
    "orders-lineitem": ("o_orderkey", "l_orderkey"),
    "part-lineitem": ("p_partkey", "l_partkey"),
    "supplier-lineitem": ("s_suppkey", "l_suppkey"),
    "nation-customer": ("n_nationkey", "c_nationkey"),
}


@query(
    "q200_join_graph_stats_sized",
    "SELECT edge, n_left, n_right, cms_width, est_join_rows, "
    "est_selectivity, "
    "row_number() OVER (ORDER BY est_join_rows, edge) AS plan_rank "
    "FROM ("
    + " UNION ALL ".join(f"({_q200_edge(*e)})" for e in _Q177_EDGES)
    + ") profiled",
)
def q200_join_graph_stats_sized(spark, sf_dir):
    """q177's join-graph advisor with the stats loop CLOSED and the
    exact ride-along GONE — the shape a 100 TB deployment runs. q178's
    HLL NDV estimates (table_stats_sketch: one melt scan per table, no
    distinct-key shuffle) size each edge's CMS width to
    next-pow2(max(NDV_left, NDV_right)) clamped to [64, 2^20]
    (sketches.next_pow2_width) — once every distinct key can get its
    own cell, the fixed-width-1024 collision overestimate collapses
    (measured in SCALE.md: orders-lineitem est 933k vs 60k exact at
    width 1024 in r10) — and join_graph_profile runs sketch-only
    (include_exact=False), so NOTHING in the plan shuffles per-key
    counts. The oracle replays the NDV estimates, the integer
    power-of-two width lookup, and the CMS inner products at the
    chosen widths. q177 itself is unchanged (the certified-error
    variant for validation runs)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        join_graph_profile,
        table_stats_sketch_multi,
    )

    t = {n: _t(spark, sf_dir, n) for n in _Q200_KEYS}
    # ONE action for all six tables' NDV sketches: the per-table melt
    # scans union into a single plan and overlap, instead of running
    # as 6 sequential driver-blocking collect()s (guide §2.6); each
    # column's cells and finalize arithmetic are unchanged, so the
    # estimates — and the widths derived from them — are bit-identical
    ndv_by_col: dict[str, float] = {
        r["column_name"]: float(r["ndv_est"])
        for r in table_stats_sketch_multi(
            [(t[tname], list(cols)) for tname, cols in _Q200_KEYS.items()]
        ).collect()
    }
    ndv = {
        edge: max(ndv_by_col[ka], ndv_by_col[kb])
        for edge, (ka, kb) in _Q200_EDGE_KEYS.items()
    }
    return join_graph_profile(
        [
            ("customer-orders", t["customer"], F.col("c_custkey"),
             t["orders"], F.col("o_custkey")),
            ("orders-lineitem", t["orders"], F.col("o_orderkey"),
             t["lineitem"], F.col("l_orderkey")),
            ("part-lineitem", t["part"], F.col("p_partkey"),
             t["lineitem"], F.col("l_partkey")),
            ("supplier-lineitem", t["supplier"], F.col("s_suppkey"),
             t["lineitem"], F.col("l_suppkey")),
            ("nation-customer", t["nation"], F.col("n_nationkey"),
             t["customer"], F.col("c_nationkey")),
        ],
        ndv=ndv,
        include_exact=False,
    )


# ---- q201: signed-domain winsorized stats (q168 over a delta column)


@query(
    "q201_winsorized_signed",
    """
    WITH vals AS (
      SELECT event_type AS g, (value - 250.0)::DOUBLE AS v
      FROM events WHERE value IS NOT NULL
    ),
    cells AS (
      SELECT g,
             CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS s,
             CASE WHEN v > 0
                  THEN ceil(ln(v) / ln((1.0 + 0.01) / (1.0 - 0.01)))
                  WHEN v < 0
                  THEN -ceil(ln(-v) / ln((1.0 + 0.01) / (1.0 - 0.01)))
                  ELSE 0 END::BIGINT AS sp,
             count(*)::BIGINT AS c
      FROM vals GROUP BY 1, 2, 3
    ),
    tot AS (SELECT g, sum(c)::BIGINT AS n FROM cells GROUP BY g),
    cum AS (SELECT g, s, sp,
                   sum(c) OVER (PARTITION BY g ORDER BY s, sp) AS cum
            FROM cells),
    qs AS (SELECT unnest([0.05::DOUBLE, 0.95::DOUBLE]) AS q),
    picks AS (
      SELECT g, q, s, sp FROM (
        SELECT t.g, q.q, c.s, c.sp,
               row_number() OVER (PARTITION BY t.g, q.q
                                  ORDER BY c.s, c.sp) AS rn
        FROM tot t CROSS JOIN qs q
        JOIN cum c ON c.g = t.g AND c.cum > floor(q.q * (t.n - 1))
      ) WHERE rn = 1
    ),
    cutv AS (
      SELECT g, q,
             round(CASE
               WHEN s = 1 THEN 2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), abs(sp))
                               / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0)
               WHEN s = -1 THEN -2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), abs(sp))
                                / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0)
               ELSE 0.0 END, 6) AS cut
      FROM picks
    ),
    cuts AS (
      SELECT g,
             min(CASE WHEN q = 0.05 THEN cut END) AS lo_cut,
             min(CASE WHEN q = 0.95 THEN cut END) AS hi_cut
      FROM cutv GROUP BY g
    )
    SELECT v.g AS event_type, count(*)::BIGINT AS n,
           min(c.lo_cut) AS lo_cut, min(c.hi_cut) AS hi_cut,
           sum(CASE WHEN v.v < c.lo_cut THEN 1 ELSE 0 END)::BIGINT
             AS n_clamped_lo,
           sum(CASE WHEN v.v > c.hi_cut THEN 1 ELSE 0 END)::BIGINT
             AS n_clamped_hi,
           round(avg(v.v), 6) AS raw_mean,
           round(avg(least(greatest(v.v, c.lo_cut), c.hi_cut)), 6)
             AS winsorized_mean
    FROM vals v JOIN cuts c USING (g)
    GROUP BY 1
    """,
)
def q201_winsorized_signed(spark, sf_dir):
    """q168's winsorized statistics on a SIGNED column — the event
    value's delta against a 250 benchmark, which legitimately carries
    both signs — routed through the mirrored DDSketch store
    (sketches.winsorized_stats_by_signed, the q171 construction):
    positive log buckets, mirrored negative buckets over |v|, exact
    zero cell, so negative deltas participate in the sketch AND the
    clamp instead of being silently excluded (the r10 sign gap,
    VERDICT task #6). Cut points at p05/p95 per event type, then one
    map-side clamp + mean with the groups-sized boundary frame
    broadcast. The oracle replays the signed cells, the (store,
    sortpos) cumulative read, the signed midpoints, and both means
    value-exact. q168 itself is unchanged (positive-domain metrics
    keep the cheaper single store)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        winsorized_stats_by_signed,
    )

    ev = _t(spark, sf_dir, "events")
    return winsorized_stats_by_signed(
        ev.filter(F.col("value").isNotNull()),
        "event_type",
        F.col("value") - F.lit(250.0),
        p_lo=0.05,
        p_hi=0.95,
        alpha=0.01,
    )


# ---- q204: exact equi-depth histogram (the ANALYZE histogram)


_Q204_BOUNDS = " UNION ALL ".join(
    f"SELECT {i} AS b, (SELECT quantile_disc(x, {i / 8}) FROM v) AS bound"
    for i in range(1, 8)
)


@query(
    "q204_equidepth_histogram",
    f"""
    WITH v AS (
      SELECT l_extendedprice::DOUBLE AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n FROM v),
    bounds AS ({_Q204_BOUNDS}),
    bins AS (
      SELECT (SELECT count(*) FROM bounds WHERE bound < x)::INT AS bin
      FROM v
    ),
    counts AS (SELECT bin, count(*)::BIGINT AS n_rows FROM bins GROUP BY 1),
    edges AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS bin)
    SELECT e.bin, lo.bound AS lo, hi.bound AS hi,
           coalesce(c.n_rows, 0)::BIGINT AS n_rows,
           round(coalesce(c.n_rows, 0) / t.n::DOUBLE, 6) AS share
    FROM edges e
    CROSS JOIN tot t
    LEFT JOIN bounds lo ON lo.b = e.bin
    LEFT JOIN bounds hi ON hi.b = e.bin + 1
    LEFT JOIN counts c ON c.bin = e.bin
    """,
)
def q204_equidepth_histogram(spark, sf_dir):
    """EXACT equi-depth histogram over line-item price
    (sketches.equidepth_histogram): 8 bins whose boundaries are TRUE
    data values at ranks ceil(i/8·n) — q181's targeted selection (one
    histogram pass + one windowed pick for all 7 boundaries, never a
    global sort) — then one map-side CASE pass counts rows per bin.
    The exact sibling of q165's DDSketch range planner: q165 is the
    constant-memory monitoring shape, this is the planner-statistics
    shape where boundaries must land on real keys (pg_stats
    histogram_bounds). The oracle replays quantile_disc boundaries,
    the strict-below binning, and the shares."""
    from capex_data_pipeline_spark.extensions.sketches import (
        equidepth_histogram,
    )

    return equidepth_histogram(
        _t(spark, sf_dir, "lineitem").select("l_extendedprice"),
        "l_extendedprice",
        n_bins=8,
    )


# ---- q205: weight-of-evidence feature binning


@query(
    "q205_woe_binning",
    f"""
    WITH base AS (
      SELECT l_extendedprice::DOUBLE AS x,
             (l_returnflag = 'R') AS y
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ),
    v AS (SELECT x FROM base),
    bounds AS ({_Q204_BOUNDS}),
    tot AS (
      SELECT sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS tp,
             sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS tn
      FROM base
    ),
    bins AS (
      SELECT (SELECT count(*) FROM bounds WHERE bound < x)::INT AS bin, y
      FROM base
    ),
    counts AS (
      SELECT bin, count(*)::BIGINT AS n_rows,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos
      FROM bins GROUP BY 1
    ),
    edges AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS bin)
    SELECT e.bin, lo.bound AS lo, hi.bound AS hi,
           coalesce(c.n_rows, 0)::BIGINT AS n_rows,
           coalesce(c.n_pos, 0)::BIGINT AS n_pos,
           (coalesce(c.n_rows, 0) - coalesce(c.n_pos, 0))::BIGINT AS n_neg,
           round(CASE WHEN coalesce(c.n_pos, 0) > 0
                       AND coalesce(c.n_rows, 0) - coalesce(c.n_pos, 0) > 0
                      THEN ln((c.n_pos / t.tp::DOUBLE)
                              / ((c.n_rows - c.n_pos) / t.tn::DOUBLE))
                 END, 6) AS woe,
           round(CASE WHEN coalesce(c.n_pos, 0) > 0
                       AND coalesce(c.n_rows, 0) - coalesce(c.n_pos, 0) > 0
                      THEN (c.n_pos / t.tp::DOUBLE
                            - (c.n_rows - c.n_pos) / t.tn::DOUBLE)
                           * ln((c.n_pos / t.tp::DOUBLE)
                                / ((c.n_rows - c.n_pos) / t.tn::DOUBLE))
                 END, 6) AS iv_term
    FROM edges e
    CROSS JOIN tot t
    LEFT JOIN bounds lo ON lo.b = e.bin
    LEFT JOIN bounds hi ON hi.b = e.bin + 1
    LEFT JOIN counts c ON c.bin = e.bin
    """,
)
def q205_woe_binning(spark, sf_dir):
    """Weight-of-evidence binning of line-item price against the
    returned flag (sketches.woe_binning): exact equi-depth bins (q204
    boundaries), per-bin positive/negative counts, WOE =
    ln(dist_pos/dist_neg), and the information-value contribution
    whose sum ranks the feature's separating power — the
    feature-engineering report scorecard pipelines run before any
    model training. Zero-class bins return NULL woe/iv (ln(0) — the
    honest answer). One boundary read + one map-side CASE aggregate;
    totals attach from a broadcast 1-row frame. The oracle replays
    boundaries, counts, and both logarithmic columns."""
    from capex_data_pipeline_spark.extensions.sketches import woe_binning

    li = _t(spark, sf_dir, "lineitem")
    return woe_binning(
        li.select("l_extendedprice", "l_returnflag"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
        n_bins=8,
    )


# ---- q206: leakage-free K-fold target encoding


@query(
    "q206_kfold_target_encoding",
    """
    WITH base AS (
      SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '<null>') AS cat,
             CAST(CAST(('0x' || substr(md5('te|' || CAST(o_orderkey AS VARCHAR)), 1, 8))
                       AS BIGINT) % 5 AS INT) AS fold,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    ),
    cell AS (
      SELECT cat, fold, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
      FROM base GROUP BY 1, 2
    ),
    cat_tot AS (
      SELECT cat, sum(n)::BIGINT AS cn, sum(s)::BIGINT AS cs
      FROM cell GROUP BY 1
    ),
    fold_tot AS (
      SELECT fold, sum(n)::BIGINT AS fn, sum(s)::BIGINT AS fs
      FROM cell GROUP BY 1
    ),
    all_tot AS (
      SELECT sum(n)::BIGINT AS an, sum(s)::BIGINT AS asum FROM cell
    ),
    grid AS (
      SELECT c.cat, f.f AS fold
      FROM cat_tot c, (SELECT CAST(unnest(range(0, 5)) AS INT) AS f) f
    )
    SELECT g.cat AS category, g.fold AS fold,
           coalesce(ce.n, 0)::BIGINT AS n_in_fold,
           round(CASE WHEN ct.cn - coalesce(ce.n, 0) > 0
                      THEN (ct.cs - coalesce(ce.s, 0))
                           / (ct.cn - coalesce(ce.n, 0))::DOUBLE
                      ELSE (a.asum - ft.fs)
                           / nullif((a.an - ft.fn)::DOUBLE, 0.0)
                 END / 100.0, 6) AS oof_mean
    FROM grid g
    LEFT JOIN cell ce ON ce.cat = g.cat AND ce.fold = g.fold
    JOIN cat_tot ct ON ct.cat = g.cat
    JOIN fold_tot ft ON ft.fold = g.fold
    CROSS JOIN all_tot a
    """,
)
def q206_kfold_target_encoding(spark, sf_dir):
    """Leakage-free K-fold target encoding of order priority against
    order value (corpus.kfold_target_encoding): each (priority, fold)
    cell carries the priority's mean price computed from the OTHER 4
    folds only — the encoded feature a fold's training rows see never
    contains their own labels, the target-leakage failure naive mean
    encoding ships. Deterministic md5 folds (replayable anywhere),
    cents-exact integer sums (the q175/q197 convention), global
    out-of-fold prior when a cell has no out-of-fold rows. Three
    compact hash aggregates; everything after is
    category-domain-sized. The oracle replays folds, cell algebra,
    and the fallback arithmetic."""
    from capex_data_pipeline_spark.extensions.corpus import (
        kfold_target_encoding,
    )

    o = _t(spark, sf_dir, "orders")
    return kfold_target_encoding(
        o, "o_orderkey", "o_orderpriority", F.col("o_totalprice"), k=5
    )


# ---- q210: exact weighted quantiles


@query(
    "q210_weighted_quantiles",
    """
    WITH v AS (
      SELECT l_extendedprice::DOUBLE AS v,
             CAST(round(l_quantity * 100) AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND CAST(round(l_quantity * 100) AS BIGINT) > 0
    ),
    tot AS (SELECT sum(w)::BIGINT AS W FROM v),
    dv AS (SELECT v, sum(w) AS w FROM v GROUP BY 1),
    cum AS (SELECT v, sum(w) OVER (ORDER BY v) AS cw FROM dv)
    SELECT p, CAST(ceil(p * t.W) AS BIGINT) AS wrank,
           (SELECT min(v) FROM cum WHERE cw >= ceil(p * t.W)) AS value
    FROM (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p) ps
    CROSS JOIN tot t
    """,
)
def q210_weighted_quantiles(spark, sf_dir):
    """EXACT quantity-weighted price quantiles
    (sketches.exact_weighted_quantiles): the smallest price whose
    cumulative quantity reaches ceil(p·W) — what "the median unit
    shipped cost X" actually means, vs q181's per-ROW median. Same
    sort-free targeted selection: weights quantized to cents-exact
    BIGINTs, one weight-sum histogram pass, ONE final job for all ps
    (in-bucket rows collapse to per-value weight sums before a
    p-partitioned cumulative window). The oracle restates the
    distinct-value cumulative weights and the ceil(p·W) threshold."""
    from capex_data_pipeline_spark.extensions.sketches import (
        exact_weighted_quantiles,
    )

    return exact_weighted_quantiles(
        _t(spark, sf_dir, "lineitem").select(
            "l_extendedprice", "l_quantity"
        ),
        "l_extendedprice",
        "l_quantity",
        ps=[0.5, 0.9, 0.99],
    )


# ---- q211: mutual information between categorical columns


@query(
    "q211_mutual_information",
    """
    WITH j AS (
      SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '<null>') AS a,
             coalesce(CAST(o_orderpriority AS VARCHAR), '<null>') AS b,
             count(*)::BIGINT AS n
      FROM orders GROUP BY 1, 2
    ),
    ma AS (SELECT a, sum(n)::BIGINT AS na FROM j GROUP BY 1),
    mb AS (SELECT b, sum(n)::BIGINT AS nb FROM j GROUP BY 1),
    t AS (SELECT sum(n)::BIGINT AS N FROM j),
    mi AS (
      SELECT sum(j.n)::BIGINT AS n, count(*)::BIGINT AS n_cells,
             sum((j.n / t.N::DOUBLE)
                 * ln((j.n * t.N)::DOUBLE
                      / (ma.na::DOUBLE * mb.nb::DOUBLE))) AS mi
      FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t
    ),
    ha AS (SELECT sum(-(na / t.N::DOUBLE) * ln(na / t.N::DOUBLE)) AS h
           FROM ma CROSS JOIN t),
    hb AS (SELECT sum(-(nb / t.N::DOUBLE) * ln(nb / t.N::DOUBLE)) AS h
           FROM mb CROSS JOIN t)
    SELECT mi.n, mi.n_cells,
           round(mi.mi, 6) AS mi,
           round(ha.h, 6) AS h_a,
           round(hb.h, 6) AS h_b,
           round(mi.mi / nullif(sqrt(ha.h * hb.h), 0.0), 6) AS nmi
    FROM mi, ha, hb
    """,
)
def q211_mutual_information(spark, sf_dir):
    """Mutual information between order status and priority
    (analytics.mutual_information): MI, both marginal entropies, and
    NMI — the dependence measure feature selection and redundancy
    pruning run, the soft sibling of q183's hard FD test (fd_holds is
    MI == H). NULL is a category (sentinel). One (a, b) cell
    aggregate; marginals and entropies computed over the CELLS, never
    the data again; domain-sized joins only. The oracle restates the
    plug-in estimator cell for cell."""
    from capex_data_pipeline_spark.extensions.analytics import (
        mutual_information,
    )

    return mutual_information(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


# ---- q219: dedup-adjusted corpus size


@query(
    "q219_dedup_adjusted_size",
    r"""
    WITH b AS (
      SELECT source AS g, md5(coalesce(text, '')) AS fp,
             len(regexp_extract_all(coalesce(text, ''), '\S+'))::BIGINT
               AS tk
      FROM documents
    ),
    sz AS (SELECT fp, count(*)::BIGINT AS csz FROM b GROUP BY 1)
    SELECT b.g AS source, count(*)::BIGINT AS n_docs,
           sum(b.tk)::BIGINT AS raw_tokens,
           round(sum(b.tk / sz.csz::DOUBLE), 6) AS effective_tokens,
           round(sum(b.tk)
                 / nullif(sum(b.tk / sz.csz::DOUBLE), 0.0), 6) AS dup_ratio
    FROM b JOIN sz USING (fp)
    GROUP BY 1
    """,
)
def q219_dedup_adjusted_size(spark, sf_dir):
    """Dedup-adjusted corpus size per source
    (corpus.dedup_adjusted_size): every document's whitespace tokens
    down-weighted by its exact-duplicate cluster size (q30's md5
    fingerprint), so a source's EFFECTIVE token count is what survives
    dedup — the number q195's budget allocation should divide, not the
    raw count duplication inflates. Cross-source copies split their
    weight, so per-source effective sizes sum to the global deduped
    total. One fingerprint aggregate + one join back + one group
    aggregate; the oracle replays fingerprints, weights, and ratios."""
    from capex_data_pipeline_spark.extensions.corpus import (
        dedup_adjusted_size,
    )

    return dedup_adjusted_size(
        _t(spark, sf_dir, "documents"), "source", "text"
    )


# ---- q223: exact one-pass correlation matrix


@query(
    "q223_correlation_matrix",
    """(
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
           round(num / nullif(sqrt(denx) * sqrt(deny), 0.0), 6) AS corr
    FROM (
      SELECT count(*)::BIGINT AS n,
             (count(*)::HUGEINT * sum(x * y)::HUGEINT
              - sum(x)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS num,
             (count(*)::HUGEINT * sum(x * x)::HUGEINT
              - sum(x)::HUGEINT * sum(x)::HUGEINT)::DOUBLE AS denx,
             (count(*)::HUGEINT * sum(y * y)::HUGEINT
              - sum(y)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS deny
      FROM (
        SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      )
    )
    ) UNION ALL (
    SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, n,
           round(num / nullif(sqrt(denx) * sqrt(deny), 0.0), 6) AS corr
    FROM (
      SELECT count(*)::BIGINT AS n,
             (count(*)::HUGEINT * sum(x * y)::HUGEINT
              - sum(x)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS num,
             (count(*)::HUGEINT * sum(x * x)::HUGEINT
              - sum(x)::HUGEINT * sum(x)::HUGEINT)::DOUBLE AS denx,
             (count(*)::HUGEINT * sum(y * y)::HUGEINT
              - sum(y)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS deny
      FROM (
        SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
               CAST(round(l_discount * 100) AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      )
    )
    ) UNION ALL (
    SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b, n,
           round(num / nullif(sqrt(denx) * sqrt(deny), 0.0), 6) AS corr
    FROM (
      SELECT count(*)::BIGINT AS n,
             (count(*)::HUGEINT * sum(x * y)::HUGEINT
              - sum(x)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS num,
             (count(*)::HUGEINT * sum(x * x)::HUGEINT
              - sum(x)::HUGEINT * sum(x)::HUGEINT)::DOUBLE AS denx,
             (count(*)::HUGEINT * sum(y * y)::HUGEINT
              - sum(y)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS deny
      FROM (
        SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
               CAST(round(l_tax * 100) AS BIGINT) AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_tax IS NOT NULL
      )
    )
    ) UNION ALL (
    SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, n,
           round(num / nullif(sqrt(denx) * sqrt(deny), 0.0), 6) AS corr
    FROM (
      SELECT count(*)::BIGINT AS n,
             (count(*)::HUGEINT * sum(x * y)::HUGEINT
              - sum(x)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS num,
             (count(*)::HUGEINT * sum(x * x)::HUGEINT
              - sum(x)::HUGEINT * sum(x)::HUGEINT)::DOUBLE AS denx,
             (count(*)::HUGEINT * sum(y * y)::HUGEINT
              - sum(y)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS deny
      FROM (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
               CAST(round(l_discount * 100) AS BIGINT) AS y
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
      )
    )
    ) UNION ALL (
    SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b, n,
           round(num / nullif(sqrt(denx) * sqrt(deny), 0.0), 6) AS corr
    FROM (
      SELECT count(*)::BIGINT AS n,
             (count(*)::HUGEINT * sum(x * y)::HUGEINT
              - sum(x)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS num,
             (count(*)::HUGEINT * sum(x * x)::HUGEINT
              - sum(x)::HUGEINT * sum(x)::HUGEINT)::DOUBLE AS denx,
             (count(*)::HUGEINT * sum(y * y)::HUGEINT
              - sum(y)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS deny
      FROM (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
               CAST(round(l_tax * 100) AS BIGINT) AS y
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_tax IS NOT NULL
      )
    )
    ) UNION ALL (
    SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, n,
           round(num / nullif(sqrt(denx) * sqrt(deny), 0.0), 6) AS corr
    FROM (
      SELECT count(*)::BIGINT AS n,
             (count(*)::HUGEINT * sum(x * y)::HUGEINT
              - sum(x)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS num,
             (count(*)::HUGEINT * sum(x * x)::HUGEINT
              - sum(x)::HUGEINT * sum(x)::HUGEINT)::DOUBLE AS denx,
             (count(*)::HUGEINT * sum(y * y)::HUGEINT
              - sum(y)::HUGEINT * sum(y)::HUGEINT)::DOUBLE AS deny
      FROM (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
               CAST(round(l_tax * 100) AS BIGINT) AS y
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL
      )
    )
    )""",
)
def q223_correlation_matrix(spark, sf_dir):
    """Exact Pearson correlation for every lineitem numeric pair in
    ONE pass (analytics.correlation_matrix): each row explodes into
    its 6 pair cells (pairs are metadata) feeding one
    map-side-combining aggregate; sufficient statistics accumulate as
    DECIMAL(38,0) — the q197 overflow-proofing, matching DuckDB's
    HUGEINT promotion — so corr divides exactly-known integers and
    the matrix replays bit-for-bit. The numeric sibling of q211's
    categorical mutual information; the feature-redundancy screen
    before any model sees the columns."""
    from capex_data_pipeline_spark.extensions.analytics import (
        correlation_matrix,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    return correlation_matrix(
        # 6-pair-cell explode + DECIMAL(38,0) sums fused onto a
        # single-row-group scan: spread first (order-insensitive sums)
        spread_few_splits(_t(spark, sf_dir, "lineitem")),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


# ---- q224: chi-square test of independence


@query(
    "q224_chi_square",
    """
    WITH j AS (
      SELECT coalesce(CAST(o_orderstatus AS VARCHAR), '<null>') AS a,
             coalesce(CAST(o_orderpriority AS VARCHAR), '<null>') AS b,
             count(*)::BIGINT AS n
      FROM orders GROUP BY 1, 2
    ),
    ma AS (SELECT a, sum(n)::BIGINT AS na FROM j GROUP BY 1),
    mb AS (SELECT b, sum(n)::BIGINT AS nb FROM j GROUP BY 1),
    t AS (SELECT sum(n)::BIGINT AS tn, count(*)::BIGINT AS n_cells FROM j),
    ks AS (SELECT (SELECT count(*)::BIGINT FROM ma) AS ka,
                  (SELECT count(*)::BIGINT FROM mb) AS kb),
    obs AS (
      SELECT sum(j.n)::BIGINT AS n, t.n_cells,
             sum((j.n - ma.na::DOUBLE * mb.nb::DOUBLE / t.tn::DOUBLE)
                 * (j.n - ma.na::DOUBLE * mb.nb::DOUBLE / t.tn::DOUBLE)
                 / (ma.na::DOUBLE * mb.nb::DOUBLE / t.tn::DOUBLE))
               AS chi_obs,
             sum(ma.na::DOUBLE * mb.nb::DOUBLE / t.tn::DOUBLE) AS e_obs
      FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t
      GROUP BY t.n_cells
    )
    SELECT o.n, o.n_cells,
           ((ks.ka - 1) * (ks.kb - 1))::BIGINT AS dof,
           round(o.chi_obs + (o.n::DOUBLE - o.e_obs), 6) AS chi2,
           round(sqrt((o.chi_obs + (o.n::DOUBLE - o.e_obs))
                      / nullif(o.n::DOUBLE
                               * least(ks.ka - 1, ks.kb - 1)::DOUBLE,
                               0.0)), 6) AS cramers_v
    FROM obs o CROSS JOIN ks
    """,
)
def q224_chi_square(spark, sf_dir):
    """Pearson chi-square independence test between order status and
    priority (analytics.chi_square_independence) with Cramér's V —
    the hypothesis-test sibling of q211's MI (is the dependence
    bigger than sampling noise, and how big normalized). Sparse
    contingency tables need no full-grid materialization: unobserved
    cells contribute exactly e each, and Σ over them is N − Σe
    (observed), a closed form. Same domain-sized cost shape as q211.
    The oracle replays cells, marginals, expected counts, the
    unobserved-cell correction, dof, and V."""
    from capex_data_pipeline_spark.extensions.analytics import (
        chi_square_independence,
    )

    return chi_square_independence(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


# ---- q225: exact distributed Gini coefficient


@query(
    "q225_gini",
    """
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    r AS (SELECT x, row_number() OVER (ORDER BY x) AS i FROM v),
    s AS (
      SELECT count(*)::BIGINT AS n, sum(x)::HUGEINT AS sx,
             sum(i::HUGEINT * x::HUGEINT)::HUGEINT AS t
      FROM r
    )
    SELECT n, round(sx::DOUBLE / 100.0, 4) AS total,
           round(2.0 * t::DOUBLE / (n::DOUBLE * sx::DOUBLE)
                 - (n + 1) / n::DOUBLE, 6) AS gini
    FROM s
    """,
)
def q225_gini(spark, sf_dir):
    """Exact Gini concentration of order value
    (analytics.gini_coefficient): how unequal revenue is across
    orders, as one [0,1) number — WITHOUT the unpartitioned rank
    window the textbook formula implies. Σ i·x_(i) decomposes over
    the q175 two-phase machinery: per-bucket (count, sum) histogram,
    driver-cumulated count offsets feeding the exact cross term
    Σ C_b·S_b in Python ints, and bucket-partitioned windows for the
    local rank terms — rank ties are provably order-invariant inside
    a value bucket. Cents-integer accumulators end to end, so the
    returned number divides exactly-known integers. The oracle is the
    naive global row_number formulation over HUGEINTs."""
    from capex_data_pipeline_spark.extensions.analytics import (
        gini_coefficient,
    )

    return gini_coefficient(_t(spark, sf_dir, "orders"), "o_totalprice")


# ---- q226: hop-bounded weighted shortest paths (Bellman-Ford)


@query("q226_sssp_bounded", """WITH pairs AS MATERIALIZED (
      SELECT least(x.l_partkey, y.l_partkey) AS a,
             greatest(x.l_partkey, y.l_partkey) AS b,
             count(DISTINCT x.l_orderkey)::BIGINT AS w
      FROM lineitem x
      JOIN lineitem y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
      GROUP BY 1, 2
      HAVING count(DISTINCT x.l_orderkey) >= 2
    ), sym AS MATERIALIZED (
      SELECT a AS u, b AS v, w FROM pairs
      UNION ALL SELECT b AS u, a AS v, w FROM pairs
    ), d0 AS (SELECT CAST(unnest([1, 2]) AS BIGINT) AS vertex, CAST(0 AS BIGINT) AS dist), d1 AS MATERIALIZED (
      SELECT vertex, min(dist)::BIGINT AS dist FROM (
        SELECT vertex, dist FROM d0
        UNION ALL
        SELECT s.v AS vertex, d.dist + s.w AS dist
        FROM d0 d JOIN sym s ON s.u = d.vertex
      ) GROUP BY 1
    ), d2 AS MATERIALIZED (
      SELECT vertex, min(dist)::BIGINT AS dist FROM (
        SELECT vertex, dist FROM d1
        UNION ALL
        SELECT s.v AS vertex, d.dist + s.w AS dist
        FROM d1 d JOIN sym s ON s.u = d.vertex
      ) GROUP BY 1
    ), d3 AS MATERIALIZED (
      SELECT vertex, min(dist)::BIGINT AS dist FROM (
        SELECT vertex, dist FROM d2
        UNION ALL
        SELECT s.v AS vertex, d.dist + s.w AS dist
        FROM d2 d JOIN sym s ON s.u = d.vertex
      ) GROUP BY 1
    ), d4 AS MATERIALIZED (
      SELECT vertex, min(dist)::BIGINT AS dist FROM (
        SELECT vertex, dist FROM d3
        UNION ALL
        SELECT s.v AS vertex, d.dist + s.w AS dist
        FROM d3 d JOIN sym s ON s.u = d.vertex
      ) GROUP BY 1
    ) SELECT vertex, dist FROM d4""")
def q226_sssp_bounded(spark, sf_dir):
    """Hop-bounded weighted shortest paths on the co-purchase graph
    (graph.sssp_bounded — Bellman-Ford, 4 relaxation rounds, seeds =
    parts {1, 2}, edge cost = co-purchase support): q135's BFS with
    COSTS — the cheapest-influence-path / weighted-blast-radius
    primitive. Integer weights make every path sum an exact BIGINT,
    so min() relaxation replays bit-for-bit; each round relaxes only
    edges adjacent to vertices whose distance improved (provably
    equal to full relaxation round-for-round — a vertex improves only
    via an improved neighbor). The oracle unrolls all 4 min-merge
    rounds as materialized CTEs over the weighted symmetric edges."""
    from capex_data_pipeline_spark.extensions.graph import sssp_bounded
    from capex_data_pipeline_spark.oracle_frags import (
        COPURCHASE_MIN_SUPPORT,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    edges = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") != F.col("y.l_partkey")),
        )
        .select(
            F.least(F.col("x.l_partkey"), F.col("y.l_partkey")).alias("a"),
            F.greatest(
                F.col("x.l_partkey"), F.col("y.l_partkey")
            ).alias("b"),
            F.col("x.l_orderkey").alias("ok"),
        )
        .groupBy("a", "b")
        .agg(F.countDistinct("ok").alias("w"))
        .where(F.col("w") >= COPURCHASE_MIN_SUPPORT)
    )
    return sssp_bounded(
        edges, sources=[1, 2], rounds=4,
        src_col="a", dst_col="b", weight_col="w",
    )


# ---- q227: rolling active users (DAU / trailing-WAU / stickiness)


@query(
    "q227_rolling_active_users",
    """
    WITH act AS (
      SELECT DISTINCT user_id AS u,
             CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    dau AS (SELECT d, count(DISTINCT u)::BIGINT AS dau FROM act GROUP BY 1),
    votes AS (
      SELECT u, (d + CAST(k.k AS INT)) AS wend
      FROM act, (SELECT unnest(range(0, 7)) AS k) k
    ),
    wau AS (
      SELECT v.wend, count(DISTINCT v.u)::BIGINT AS rolling_au
      FROM votes v JOIN dau ON dau.d = v.wend
      GROUP BY 1
    ),
    d0 AS (SELECT min(d) AS d0 FROM act)
    SELECT dau.d AS day, dau.dau, wau.rolling_au,
           round(dau.dau / wau.rolling_au::DOUBLE, 6) AS stickiness,
           (dau.d - d0.d0) >= 6 AS full_window
    FROM dau JOIN wau ON wau.wend = dau.d CROSS JOIN d0
    """,
)
def q227_rolling_active_users(spark, sf_dir):
    """DAU / trailing-7-day active users / stickiness per calendar day
    (analytics.rolling_active_users): activity collapses ONCE to
    distinct (user, day) pairs, each pair votes into the 7 trailing
    windows it belongs to (a bounded x7 explode of the distinct-pair
    frame, never the raw events), one hash aggregate counts distinct
    users per window end — no per-day re-scan, no sliding window over
    raw data. Early partial windows report flagged, not dropped. The
    oracle replays the votes and both distinct counts."""
    from capex_data_pipeline_spark.extensions.analytics import (
        rolling_active_users,
    )

    ev = _t(spark, sf_dir, "events")
    return rolling_active_users(ev, "user_id", "ts", window_days=7)


# ---- q228: join-graph advisor reading NDV from the persisted stats
# state (q200 with its documented at-scale shape actually executed)


@query(
    "q228_advisor_from_state",
    "SELECT edge, n_left, n_right, cms_width, est_join_rows, "
    "est_selectivity, "
    "row_number() OVER (ORDER BY est_join_rows, edge) AS plan_rank "
    "FROM ("
    + " UNION ALL ".join(f"({_q200_edge(*e)})" for e in _Q177_EDGES)
    + ") profiled",
)
def q228_advisor_from_state(spark, sf_dir):
    """q200's stats-sized advisor with the NDV side read from the
    PERSISTED cell state (state.join_graph_profile_persisted) instead
    of re-melting all six tables — the shape q200's docstring
    documented, now executed: the "nightly stats job" persists each
    table's key-column cells into one bucketed state table
    (state.save_stats_cells, the q199 layout), and planning time pays
    ONE zero-Exchange bucketed state read (column-count-sized NDV
    lookup) + the 5 CMS edge passes — the 6 NDV melt scans are GONE
    from the advisor (plan-pinned in tests/test_state.py; wall-time
    drop recorded in SCALE.md). Register max-merge is lossless, so the
    state-derived NDV estimates — and therefore the chosen widths,
    CMS products, and plan ranks — are bit-identical to q200's
    direct-scan oracle."""
    from capex_data_pipeline_spark.extensions.state import (
        join_graph_profile_persisted,
        save_stats_cells_multi,
    )

    t = {n: _t(spark, sf_dir, n) for n in _Q200_KEYS}
    # the nightly stats job: all six tables' key-column cells written
    # in ONE bucketed write (column names are globally unique) — the
    # per-table scans overlap inside one job instead of running as an
    # overwrite + 5 sequential appends; the written rows are identical
    save_stats_cells_multi(
        [
            (t[tname], list(cols), F.lit(tname))
            for tname, cols in _Q200_KEYS.items()
        ],
        table="t_state_cells_q228",
        b=6,
        n_buckets=8,
        path="/root/repo/spark-warehouse/t_state_cells_q228",
        mode="overwrite",
    )
    return join_graph_profile_persisted(
        spark,
        "t_state_cells_q228",
        [
            ("customer-orders", t["customer"], F.col("c_custkey"),
             t["orders"], F.col("o_custkey")),
            ("orders-lineitem", t["orders"], F.col("o_orderkey"),
             t["lineitem"], F.col("l_orderkey")),
            ("part-lineitem", t["part"], F.col("p_partkey"),
             t["lineitem"], F.col("l_partkey")),
            ("supplier-lineitem", t["supplier"], F.col("s_suppkey"),
             t["lineitem"], F.col("l_suppkey")),
            ("nation-customer", t["nation"], F.col("n_nationkey"),
             t["customer"], F.col("c_nationkey")),
        ],
        _Q200_EDGE_KEYS,
    )


# ---- q229: horizon-compacted stats state (q199 + compaction)


@query(
    "q229_stats_compacted_fold",
    " UNION ALL ".join(f"({_q199_col('orders', c)})" for c in _Q178_COLS),
)
def q229_stats_compacted_fold(spark, sf_dir):
    """q199's persisted stats fold with the state COMPACTED to a
    horizon (state.compact_stats_cells): years of per-day cell frames
    older than the horizon merge into ONE consolidated NULL-partition
    cell per (column, bucket) — counts/widths by sum, registers by
    max, the same associative algebra the fold applies at read time —
    so state size is bounded by horizon, not history
    (``append``-mode growth retired). The fold then reads compacted +
    fresh cells through the UNCHANGED stats_fold_persisted and folds
    in "today's" batch; the oracle recomputes whole-table sketch
    stats directly, certifying that pre-merging history changes WHERE
    sums happen, never what they are. Compaction's aggregate groups
    on keys containing the bucket key: zero state-side Exchange both
    compacting and folding (plan-pinned in tests/test_state.py)."""
    import datetime

    from capex_data_pipeline_spark.extensions.state import (
        compact_stats_cells,
        save_stats_cells,
        stats_fold_persisted,
    )

    orders = _t(spark, sf_dir, "orders")
    horizon = datetime.datetime(1997, 1, 1)
    cutoff = F.lit("1998-01-01").cast("date")
    old = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    mid = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < cutoff)
    )
    today = orders.filter(F.col("o_orderdate") >= cutoff)
    part = F.date_trunc("day", F.col("o_orderdate"))
    save_stats_cells(
        old, list(_Q178_COLS), partition=part,
        table="t_state_cells_q229_raw", b=6, n_buckets=8,
        path="/root/repo/spark-warehouse/t_state_cells_q229_raw",
    )
    save_stats_cells(
        mid, list(_Q178_COLS), partition=part,
        table="t_state_cells_q229_raw", b=6, n_buckets=8,
        path="/root/repo/spark-warehouse/t_state_cells_q229_raw",
        mode="append",
    )
    compact_stats_cells(
        spark, "t_state_cells_q229_raw", older_than=horizon,
        save_as="t_state_cells_q229", n_buckets=8,
        path="/root/repo/spark-warehouse/t_state_cells_q229",
    )
    return stats_fold_persisted(
        spark, "t_state_cells_q229", new_df=today,
        cols=list(_Q178_COLS), b=6,
    )


# ---- q230: rolling active users over HLL registers (q227 for open
# user domains)


@query(
    "q230_rolling_active_users_hll",
    """
    WITH ev AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    reg AS (
      SELECT d, h % 64 AS b,
             max(CASE WHEN (h >> 6) = 0 THEN 47
                      ELSE 46 - length(bin(h >> 6)) + 1 END) AS mr
      FROM ev GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT d FROM reg),
    votes AS (
      SELECT r.b, r.mr, (r.d + CAST(k.k AS INT)) AS wend
      FROM reg r, (SELECT unnest(range(0, 7)) AS k) k
    ),
    wreg AS (
      SELECT v.wend, v.b, max(v.mr) AS mr
      FROM votes v JOIN days dd ON dd.d = v.wend
      GROUP BY 1, 2
    ),
    dau AS (
      SELECT d, round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                      / (sum(pow(2.0, -mr))
                         + CAST(64 - count(*) AS DOUBLE)), 6) AS dau_est
      FROM reg GROUP BY 1
    ),
    wau AS (
      SELECT wend, round((0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                         / (sum(pow(2.0, -mr))
                            + CAST(64 - count(*) AS DOUBLE)), 6)
               AS rolling_au_est
      FROM wreg GROUP BY 1
    ),
    d0 AS (SELECT min(d) AS d0 FROM ev)
    SELECT dau.d AS day, dau.dau_est, wau.rolling_au_est,
           (dau.d - d0.d0) >= 6 AS full_window
    FROM dau JOIN wau ON wau.wend = dau.d CROSS JOIN d0
    """,
)
def q230_rolling_active_users_hll(spark, sf_dir):
    """q227's rolling DAU/WAU for OPEN user domains
    (analytics.rolling_active_users_hll): per-day 64-register HLL
    cells replace the exact distinct counts — registers max-merge
    across each trailing 7-day window, so a billion-user event
    stream's engagement report costs days x 64 cells, never a
    distinct-user shuffle, and the per-day register frame is exactly
    what a persisted/streaming fold maintains (q184/q199 algebra;
    stream==batch pinned in tests/test_streaming.py). The register
    path skips even q227's distinct-pair collapse (max over raw
    events == max over distinct users). Deterministic md5 estimator
    replays in the oracle bit-for-bit; accuracy vs the exact q227
    counts is asserted within the documented ~13% (b=6) band in
    tests/test_round12_tasks.py."""
    from capex_data_pipeline_spark.extensions.analytics import (
        rolling_active_users_hll,
    )

    ev = _t(spark, sf_dir, "events")
    return rolling_active_users_hll(
        ev, "user_id", "ts", window_days=7, b=6
    )


# ---- q236: exact Mann-Whitney U (distributed rank-sum, no sort)


@query(
    "q236_mann_whitney_u",
    """
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS x,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
    ),
    pv AS (
      SELECT x, sum(ia)::BIGINT AS na, sum(1 - ia)::BIGINT AS nb
      FROM v GROUP BY x
    ),
    c AS (
      SELECT x, na, nb, na + nb AS t,
             (sum(na + nb) OVER (ORDER BY x) - (na + nb))::HUGEINT AS cb
      FROM pv
    ),
    agg AS (
      SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b,
             sum(na::HUGEINT * (2 * cb + t + 1)) AS r2,
             sum((t::HUGEINT) * t * t - t) AS ties
      FROM c
    )
    SELECT n_a, n_b,
           round((r2::DOUBLE - n_a::DOUBLE * (n_a + 1.0)) / 2.0, 6)
             AS u_stat,
           round(
             ((r2::DOUBLE - n_a::DOUBLE * (n_a + 1.0)) / 2.0
              - n_a::DOUBLE * n_b / 2.0)
             / nullif(
                 sqrt(n_a::DOUBLE * n_b / 12.0
                      * ((n_a + n_b + 1.0)
                         - ties::DOUBLE
                           / nullif((n_a + n_b)::DOUBLE
                                    * (n_a + n_b - 1.0), 0.0))),
                 0.0), 6) AS z_stat
    FROM agg
    """,
)
def q236_mann_whitney_u(spark, sf_dir):
    """EXACT Mann-Whitney U rank-sum test, view-vs-purchase values
    (analytics.mann_whitney_u): the nonparametric did-the-
    distribution-shift test, computed WITHOUT the global rank sort
    the textbook formula implies — per-distinct-value counts + the
    q225 two-phase prefix (driver-cumulated bucket offsets, bucket-
    partitioned windows) give exact tie MIDRANKS in integer
    arithmetic: 2R_A = Σ na·(2·cum_below + t + 1) as DECIMAL(38,0).
    The tie-corrected z applies doubles only at the end, in the same
    expression order as the oracle."""
    from capex_data_pipeline_spark.extensions.analytics import (
        mann_whitney_u,
    )

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev, "event_type", "value", "view", "purchase")


# ---- q237: exact two-sample Kolmogorov-Smirnov


@query(
    "q237_ks_2samp",
    """
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS x,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
    ),
    pv AS (
      SELECT x, sum(ia)::BIGINT AS na, sum(1 - ia)::BIGINT AS nb
      FROM v GROUP BY x
    ),
    c AS (
      SELECT x, sum(na) OVER (ORDER BY x)::HUGEINT AS cuma,
             sum(nb) OVER (ORDER BY x)::HUGEINT AS cumb
      FROM pv
    ),
    tot AS (SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b FROM pv)
    SELECT t.n_a, t.n_b,
           round(max(abs(c.cuma * t.n_b - c.cumb * t.n_a))::DOUBLE
                 / (t.n_a::DOUBLE * t.n_b), 6) AS ks_stat
    FROM c CROSS JOIN tot t GROUP BY t.n_a, t.n_b
    """,
)
def q237_ks_2samp(spark, sf_dir):
    """EXACT two-sample Kolmogorov-Smirnov statistic, view-vs-purchase
    (analytics.ks_2samp): D = max CDF gap over the distinct quantized
    values, maximized as the INTEGER |cumA·n_b − cumB·n_a| (cross-
    multiplied — no float CDF ever compares) over the same two-phase
    exact prefix machinery as q236, per-group runs cumulated from the
    same bucket histogram. One double division at the end. The exact
    drift number q96's PSI bins approximate."""
    from capex_data_pipeline_spark.extensions.analytics import ks_2samp

    ev = _t(spark, sf_dir, "events")
    return ks_2samp(ev, "event_type", "value", "view", "purchase")


# ---- q238: one-way ANOVA F across groups


@query(
    "q238_anova_oneway",
    """
    WITH g AS (
      SELECT event_type AS g, count(*)::BIGINT AS n,
             sum(CAST(round(value * 100) AS BIGINT))::HUGEINT AS s,
             sum(CAST(round(value * 100) AS BIGINT)::HUGEINT
                 * CAST(round(value * 100) AS BIGINT)) AS q
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    agg AS (
      SELECT count(*)::BIGINT AS k_groups, sum(n)::BIGINT AS n,
             sum(s) AS st, sum(q) AS qt,
             sum(s::DOUBLE * s::DOUBLE / n::DOUBLE) AS a
      FROM g
    )
    SELECT k_groups, n,
           round(((a - st::DOUBLE * st::DOUBLE / n) / 10000.0)
                 / nullif(((a - st::DOUBLE * st::DOUBLE / n) / 10000.0)
                          + ((qt::DOUBLE - a) / 10000.0), 0.0), 6)
             AS eta_sq,
           round(CASE WHEN k_groups >= 2 AND n > k_groups THEN
                   (((a - st::DOUBLE * st::DOUBLE / n) / 10000.0)
                    / (k_groups - 1.0))
                   / nullif(((qt::DOUBLE - a) / 10000.0)
                            / (n::DOUBLE - k_groups), 0.0)
                 END, 6) AS f_stat
    FROM agg
    """,
)
def q238_anova_oneway(spark, sf_dir):
    """One-way ANOVA across event types (analytics.anova_oneway): do
    the group mean values differ more than within-group noise
    explains — the k-group generalization of q221's two-arm z. Integer
    sufficient statistics per group (cents sums as DECIMAL(38,0)),
    the Σ S_g²/n_g term folded over a group-domain-BOUNDED sorted
    array for one deterministic double order, F and the scale-free
    eta² effect size in matched expression order with the oracle.
    Raw SS values are deliberately not emitted (below double's
    absolute round-6 resolution at data magnitude)."""
    from capex_data_pipeline_spark.extensions.analytics import (
        anova_oneway,
    )

    ev = _t(spark, sf_dir, "events")
    return anova_oneway(ev, "event_type", "value")


# ---- q240: behavioral entropy per user


@query(
    "q240_behavior_entropy",
    """
    WITH per AS (
      SELECT user_id AS u, event_type AS t, count(*)::BIGINT AS c
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    f AS (
      SELECT u, sum(c)::BIGINT AS n_events, count(*)::BIGINT AS n_types,
             sum(c::DOUBLE * ln(c::DOUBLE)) AS clc
      FROM per GROUP BY u
    )
    SELECT u AS user_id, n_events, n_types,
           round(ln(n_events::DOUBLE) - clc / n_events::DOUBLE, 6)
             AS entropy
    FROM f
    """,
)
def q240_behavior_entropy(spark, sf_dir):
    """Per-user behavioral Shannon entropy over the event-type mix
    (analytics.behavior_entropy) — the bot/outlier feature: one
    dominant action → ~0, uniform mixing → ln(k). One (user, type)
    compact-key count + one per-user aggregate; H = ln(n) − Σ c·ln c
    / n with the float fold over a type-domain-bounded SORTED array
    (deterministic summation order; the oracle's ≤|event types|-term
    sum agrees inside the round-6 contract)."""
    from capex_data_pipeline_spark.extensions.analytics import (
        behavior_entropy,
    )

    ev = _t(spark, sf_dir, "events")
    return behavior_entropy(ev, "user_id", "event_type")


# ---- q244: stratified exact largest-remainder split


@query(
    "q244_stratified_split_exact",
    """
    WITH n AS (
      SELECT source AS s, count(*)::BIGINT AS n FROM documents GROUP BY 1
    ),
    sp AS (
      SELECT * FROM (VALUES ('train', 8, 1), ('val', 1, 2),
                            ('test', 1, 3)) t(split, w, ord)
    ),
    q AS (
      SELECT n.s, n.n, sp.split, sp.w, sp.ord,
             (n.n * sp.w) // 10 AS base, (n.n * sp.w) % 10 AS rem,
             sum((n.n * sp.w) // 10) OVER (PARTITION BY n.s) AS sb
      FROM n CROSS JOIN sp
    ),
    a AS (
      SELECT s, split, ord,
             base + CASE WHEN row_number() OVER
                           (PARTITION BY s ORDER BY rem DESC, split ASC)
                         <= n - sb THEN 1 ELSE 0 END AS alloc
      FROM q
    ),
    c AS (
      SELECT s, split, ord,
             sum(alloc) OVER (PARTITION BY s ORDER BY ord) AS cum
      FROM a
    ),
    docs AS (
      SELECT doc_id, source AS s,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5('sp|'
                             || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT), doc_id) AS rk
      FROM documents
    )
    SELECT d.doc_id, d.s AS source, arg_min(c.split, c.ord) AS split
    FROM docs d JOIN c ON c.s = d.s AND d.rk <= c.cum
    GROUP BY 1, 2
    """,
)
def q244_stratified_split_exact(spark, sf_dir):
    """Stratified train/val/test split with EXACT per-stratum counts
    (corpus.stratified_split_exact): each source's rows split 8/1/1
    by largest remainder — allocations sum to n exactly, none of
    q45's Bernoulli jitter — with membership decided by the md5
    sampling-hash rank inside the stratum (deterministic,
    partitioning-independent; adding a row moves only its own
    stratum's boundary). One stratum-partitioned rank window + a
    strata-domain driver walk for the Hamilton allocation (the q195
    machinery), leftover tie-break (remainder DESC, split ASC)
    replayed verbatim by the oracle."""
    from capex_data_pipeline_spark.extensions.corpus import (
        stratified_split_exact,
    )

    docs = _t(spark, sf_dir, "documents")
    return stratified_split_exact(docs, "source", "doc_id")


# ---- q246: proximity (NEAR/k) search


@query(
    "q246_proximity_search",
    f"""
    WITH toks AS (SELECT doc_id, {_WORDS_TR} AS ws FROM documents),
    pos AS (
      SELECT doc_id,
             list_filter(range(1, len(ws) + 1),
                         i -> ws[i] = 'table') AS pa,
             list_filter(range(1, len(ws) + 1),
                         i -> ws[i] = 'row') AS pb
      FROM toks
    ),
    scored AS (
      SELECT doc_id,
             coalesce(CAST(list_sum(list_transform(pa,
               p -> len(list_filter(pb, q -> abs(q - p) <= 5))))
               AS BIGINT), 0) AS n_pairs,
             CAST(list_min(list_transform(pa,
               p -> list_min(list_transform(pb, q -> abs(p - q)))))
               AS BIGINT) AS min_dist
      FROM pos WHERE len(pa) > 0 AND len(pb) > 0
    )
    SELECT doc_id, n_pairs, min_dist FROM scored WHERE n_pairs > 0
    """,
)
def q246_proximity_search(spark, sf_dir):
    """Proximity search NEAR/5 for ('table', 'row')
    (corpus.proximity_match_counts): documents where the terms occur
    within 5 token positions, with the qualifying pair count and the
    closest distance — the NEAR operator of retrieval engines; q131's
    phrase search is the ordered window=1 special case. MAP-ONLY like
    q131: native containment prefilter keeps the corpus pass in
    codegen; the positional higher-order pair probe runs only on
    both-term documents. The oracle replays tokenization, position
    lists, and the pair window arithmetic."""
    from capex_data_pipeline_spark.extensions.corpus import (
        proximity_match_counts,
    )

    return proximity_match_counts(
        _t(spark, sf_dir, "documents"), "table", "row", window=5
    )


# ---- q251: advisor PLANNING-time query — reads the pre-persisted
# stats state only (VERDICT r12 task 2: q228's 16-22s headline was
# the nightly state build, not planning; this registers the
# maintained-state read as its own benched query)


def _q251_state(spark, sf_dir) -> str:
    """Build-if-absent per-SF stats state (the nightly job q228
    executes in-query every time). First call in a session pays the
    6-table cell build ONCE; every later q251 call — and bench reps
    2..n — reads the bucketed state table only, so the benched
    median is PLANNING time (7.4 s at sf0.1 vs 16.5 s direct)."""
    import os

    from capex_data_pipeline_spark.extensions.state import (
        save_stats_cells_multi,
    )

    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    table = f"t_state_cells_plan_{base}"
    if not spark.catalog.tableExists(table):
        save_stats_cells_multi(
            [
                (_t(spark, sf_dir, tname), list(cols), F.lit(tname))
                for tname, cols in _Q200_KEYS.items()
            ],
            table=table,
            b=6,
            n_buckets=8,
            path=f"/root/repo/spark-warehouse/{table}",
            mode="overwrite",
        )
    return table


@query(
    "q251_advisor_planning",
    "SELECT edge, n_left, n_right, cms_width, est_join_rows, "
    "est_selectivity, "
    "row_number() OVER (ORDER BY est_join_rows, edge) AS plan_rank "
    "FROM ("
    + " UNION ALL ".join(f"({_q200_edge(*e)})" for e in _Q177_EDGES)
    + ") profiled",
)
def q251_advisor_planning(spark, sf_dir):
    """The advisor's PLANNING-time cost in isolation: q228 with the
    nightly stats-state build amortized out — the persisted cell
    table is built once per SF (\_q251_state) and the query itself
    pays ONE zero-Exchange bucketed state read (column-count-sized
    NDV lookup) + the 5 CMS edge passes. Register max-merge is
    lossless, so the output — widths, CMS products, plan ranks — is
    bit-identical to q228 and to q200's direct-scan oracle; what
    changes is what the benched number MEANS: q228's headline is the
    nightly-job cost, q251's is what a planner pays per plan request
    against maintained state (VERDICT r12 task 2)."""
    from capex_data_pipeline_spark.extensions.state import (
        join_graph_profile_persisted,
    )

    t = {n: _t(spark, sf_dir, n) for n in _Q200_KEYS}
    return join_graph_profile_persisted(
        spark,
        _q251_state(spark, sf_dir),
        [
            ("customer-orders", t["customer"], F.col("c_custkey"),
             t["orders"], F.col("o_custkey")),
            ("orders-lineitem", t["orders"], F.col("o_orderkey"),
             t["lineitem"], F.col("l_orderkey")),
            ("part-lineitem", t["part"], F.col("p_partkey"),
             t["lineitem"], F.col("l_partkey")),
            ("supplier-lineitem", t["supplier"], F.col("s_suppkey"),
             t["lineitem"], F.col("l_suppkey")),
            ("nation-customer", t["nation"], F.col("n_nationkey"),
             t["customer"], F.col("c_nationkey")),
        ],
        _Q200_EDGE_KEYS,
    )


# ---- q259: Bernoulli naive Bayes trainer (counting as training)


@query(
    "q259_naive_bayes",
    f"""
    WITH docs AS MATERIALIZED (
      SELECT CASE WHEN list_contains(ws, '{_TRAIN_LABEL_WORD}')
                  THEN 1 ELSE 0 END AS label,
             {_BUCKETS_SQL} AS bs
      FROM (SELECT {_WORDS_TR} AS ws FROM documents)
    ),
    cls AS (SELECT label, count(*)::BIGINT AS n_docs FROM docs GROUP BY 1),
    tot AS (SELECT sum(n_docs)::BIGINT AS t FROM cls),
    pres AS (
      SELECT label, unnest(bs) AS bucket, 1 AS one FROM docs
    ),
    pcnt AS (
      SELECT label, bucket, count(*)::BIGINT AS n_present
      FROM pres GROUP BY 1, 2
    ),
    grid AS (
      SELECT CAST(r.range AS BIGINT) AS bucket, cls.label, cls.n_docs
      FROM range(0, {_TRAIN_BUCKETS}) r, cls
    )
    SELECT g.bucket, g.label, g.n_docs,
           coalesce(p.n_present, 0)::BIGINT AS n_present,
           round(ln((coalesce(p.n_present, 0) + 1)
                    / (g.n_docs + 2)::DOUBLE), 6) AS logp_present,
           round(ln((g.n_docs - coalesce(p.n_present, 0) + 1)
                    / (g.n_docs + 2)::DOUBLE), 6) AS logp_absent,
           round(ln(g.n_docs / (SELECT t FROM tot)::DOUBLE), 6)
             AS log_prior
    FROM grid g
    LEFT JOIN pcnt p ON p.label = g.label AND p.bucket = g.bucket
    """,
)
def q259_naive_bayes(spark, sf_dir):
    """Bernoulli naive Bayes trainer over the q129 feature space
    (linalg.naive_bayes_train, 64 md5 buckets, label = doc mentions
    'spark'): training IS counting — class priors and per-(bucket,
    class) presence counts with Laplace smoothing, one tokenize pass
    + two map-side-combinable aggregates, exact BIGINT counts, ln of
    exact ratios rounded 6 (q130 convention). The cheap generative
    prefilter whose discriminative sibling is q129. The oracle
    replays tokenization, bucketing, both counts, and the smoothed
    log-likelihoods."""
    from capex_data_pipeline_spark.extensions.linalg import (
        naive_bayes_train,
    )

    docs = _t(spark, sf_dir, "documents")
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    words = F.filter(
        F.split(normalized_text(F.col("text")), " "), lambda s: s != ""
    )
    labeled = docs.select(
        "text",
        F.array_contains(words, _TRAIN_LABEL_WORD).cast("int").alias("y"),
    )
    return naive_bayes_train(
        labeled, label_col="y", text_col="text",
        n_buckets=_TRAIN_BUCKETS,
    )


# ---- q262: IVF incremental fold (frozen-quantizer index maintenance)

#: q143's chain with the QUANTIZER TRAINED ON THE OLD 80% ONLY
#: (vec_id % 5 != 0) — sqrt sizing and the md5 center pick read the
#: old subset, assignment covers the full corpus; this is exactly
#: what freeze-quantizer-and-fold produces, so the oracle certifies
#: the fold
_Q262_CHAIN = f"""
nc AS (
      SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS n
      FROM embeddings WHERE vec_id % 5 <> 0
    ), ctr AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
               AS cell,
             embedding
      FROM embeddings WHERE vec_id % 5 <> 0
      ORDER BY md5(vec_id::VARCHAR), vec_id
      LIMIT (SELECT n FROM nc)
    ), sim AS (
      SELECT e.vec_id, c.cell,
             {_Q143_COS.format(a='e.embedding', b='c.embedding')} AS s
      FROM embeddings e, ctr c
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn
        FROM sim
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn
        FROM sim WHERE vec_id < 5
      ) WHERE rn <= 8
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             round({_Q143_COS.format(a='eq.embedding', b='en.embedding')}, 4)
               AS cosine
      FROM cand
      JOIN embeddings eq ON eq.vec_id = query_id
      JOIN embeddings en ON en.vec_id = neighbor_id
    )
"""


@query(
    "q262_ivf_fold",
    f"""
    WITH {_Q262_CHAIN}
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC)
                AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q262_ivf_fold(spark, sf_dir):
    """IVF index MAINTENANCE (state.save_ivf_state +
    ivf_fold_persisted): the index is built over 80% of the vectors
    ("yesterday", quantizer trained there, assignment persisted
    bucketed on cell), then today's 20% batch folds in with the
    quantizer FROZEN — only the batch pays the assignment matmul,
    the corpus-sized state streams from its cell buckets, and the
    probe query runs over the merged assignment. Freezing the
    quantizer is the FAISS add-after-train trade: assignments equal
    a from-scratch build with the same centers — the oracle derives
    centers from the old subset, assigns the FULL corpus, and
    replays the nprobe=8 probe + exact re-rank, certifying the fold
    value-exactly. Daily ANN maintenance cost: the batch, never the
    corpus (the q198/q255 economics applied to similarity
    search)."""
    import math as _math
    import os as _os

    from capex_data_pipeline_spark.extensions.similarity import (
        _ivf_centers,
        ivf_query,
    )
    from capex_data_pipeline_spark.extensions.state import (
        ivf_fold_persisted,
        save_ivf_state,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    n_cells = max(16, int(_math.ceil(_math.sqrt(old.count()))))
    _, centers = _ivf_centers(
        old, "vec_id", "embedding", n_cells, "sample", 42
    )
    base = _os.path.basename(_os.path.normpath(sf_dir)).replace(".", "_")
    table = f"t_state_ivf_q262_{base}"
    if not spark.catalog.tableExists(table):
        from capex_data_pipeline_spark.extensions.similarity import (
            _arrow_topcells,
        )

        assigned_old = old.withColumn(
            "cell",
            F.element_at(
                _arrow_topcells(centers, 1)(F.col("embedding")), 1
            ),
        )
        save_ivf_state(
            assigned_old,
            table,
            n_buckets=8,
            path=f"/root/repo/spark-warehouse/{table}",
        )
    merged = ivf_fold_persisted(spark, table, new, centers)
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_query(merged, centers, queries, k=10, nprobe=8)


# ---- q263: MMR diversified re-rank (greedy, integer-tenths lambda)


def _mmr_round(r: int) -> str:
    """One unrolled greedy MMR round: score remaining pool members
    against sel{r-1}, pick the per-query argmax (ties by id)."""
    score = "round((7*cosine - 3*ms) / 10, 6)"
    return f"""
    rem{r} AS (
      SELECT p.query_id, p.neighbor_id, p.cosine,
             coalesce((SELECT max(ps._ps) FROM mpairs ps
                       JOIN sel{r - 1} s
                         ON s.query_id = ps.query_id
                        AND s.neighbor_id = ps._b
                       WHERE ps.query_id = p.query_id
                         AND ps._a = p.neighbor_id), 0.0) AS ms
      FROM mpool p
      WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} s
                        WHERE s.query_id = p.query_id
                          AND s.neighbor_id = p.neighbor_id)
    ),
    pick{r} AS (
      SELECT query_id, neighbor_id, cosine, {score} AS mmr_score,
             {r} AS pick_rank
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY {score} DESC, neighbor_id ASC) AS rn
            FROM rem{r}) WHERE rn = 1
    ),
    sel{r} AS MATERIALIZED (
      SELECT * FROM sel{r - 1}
      UNION ALL
      SELECT query_id, neighbor_id, cosine, mmr_score, pick_rank
      FROM pick{r}
    )"""


_MMR_K = 10


@query(
    "q263_mmr_rerank",
    f"""
    WITH sims AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_Q143_COS.format(a='q.embedding', b='c.embedding')}, 4)
               AS cosine
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 3
    ),
    mpool AS MATERIALIZED (
      SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC,
                                              neighbor_id ASC) AS rn
        FROM sims
      ) WHERE rn <= 20
    ),
    mpairs AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id AS _a, b.neighbor_id AS _b,
             round({_Q143_COS.format(a='ea.embedding', b='eb.embedding')}, 4)
               AS _ps
      FROM mpool a
      JOIN mpool b ON a.query_id = b.query_id
                  AND a.neighbor_id <> b.neighbor_id
      JOIN embeddings ea ON ea.vec_id = a.neighbor_id
      JOIN embeddings eb ON eb.vec_id = b.neighbor_id
    ),
    sel0 AS (
      SELECT * FROM (SELECT CAST(NULL AS BIGINT) AS query_id,
                            CAST(NULL AS BIGINT) AS neighbor_id,
                            CAST(NULL AS DOUBLE) AS cosine,
                            CAST(NULL AS DOUBLE) AS mmr_score,
                            CAST(NULL AS INT) AS pick_rank) WHERE false
    ),
    {','.join(_mmr_round(r) for r in range(1, _MMR_K + 1))}
    SELECT query_id, neighbor_id, cosine AS relevance, mmr_score,
           CAST(pick_rank AS INT) AS pick_rank
    FROM sel{_MMR_K}
    """,
)
def q263_mmr_rerank(spark, sf_dir):
    """MMR diversified top-10 for 3 query vectors
    (similarity.mmr_rerank, lambda=0.7 as integer tenths, pool=20):
    greedy argmax of (7*relevance - 3*max-sim-to-selected)/10 over
    round-4 cosines — diversity-aware retrieval, the complement of
    q67's SemDeDup (dedup keeps one doc per blob; MMR SELECTS across
    blobs). Pool and pairwise stages are pool^2-bounded per query,
    never corpus-sized; each greedy round is one anti join + one
    bounded max + one argmax window. The oracle unrolls all 10
    greedy rounds with the same integer-tenths score arithmetic
    (a 1-0.7 float literal would already diverge engines)."""
    from capex_data_pipeline_spark.extensions.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    return mmr_rerank(emb, queries, k=_MMR_K, pool=20, lam_tenths=7)
