"""Round-7 ML-adjacent driver queries: engine-portable PCA power
iteration (q117), trigram language modeling (q118), Bloom-filter
decontamination (q119), HTML main-text/link extraction (q120), and
product-quantization ANN (q121).

Same contract as ``registry``: every entry pairs the Spark operator
with a full DuckDB oracle restating the semantics independently —
iterative operators unroll their rounds in MATERIALIZED CTEs exactly
like q99/q113/q115.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from capex_data_pipeline_spark.registry import _t, query

# ------------------------------------------------ q117: PCA power iteration

#: registered shape — enough rounds that the direction visibly moves
#: off the uniform init at every SF, small enough the unrolled oracle
#: stays readable
_PCA_ROUNDS = 4

#: shared projection fold: round(sequential (x-mu)·v fold, 6) + 0.0,
#: the same IEEE op order as the engine's 0.0-seeded F.aggregate
_PCA_PROJ = """
  round(list_reduce(list_transform(range(1, len(p.v) + 1),
        i -> (p.v[i] - m.mv[i]) * w.vv[i]), (a, b) -> a + b), 6) + 0.0
"""

#: one per-dim update step: t_d = round(avg(s·(x_d-μ_d)), 6) + 0.0
_PCA_T = """
  SELECT e.dim AS dim, round(avg(s * (e.x - m.mv[e.dim + 1])), 6) + 0.0 AS t
  FROM (SELECT s, unnest(list_transform(range(1, len(v) + 1),
               i -> {{'dim': i - 1, 'x': v[i]}})) AS e FROM s{r}), mu m
  GROUP BY 1
"""


def _pca_sql() -> str:
    ctes = [
        """pts0 AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
    )""",
        "dd AS (SELECT min(len(v)) AS d FROM pts0)",
        """pts AS MATERIALIZED (
      SELECT p.vec_id, p.v FROM pts0 p, dd WHERE len(p.v) = dd.d
    )""",
        """mu AS MATERIALIZED (
      SELECT list(m ORDER BY dim) AS mv FROM (
        SELECT e.dim AS dim, round(avg(e.x), 6) + 0.0 AS m
        FROM (SELECT unnest(list_transform(range(1, len(v) + 1),
                     i -> {'dim': i - 1, 'x': v[i]})) AS e FROM pts)
        GROUP BY 1)
    )""",
        """v0 AS (
      SELECT list_transform(mv, x -> round(1.0 / sqrt(len(mv)), 6)) AS vv
      FROM mu
    )""",
    ]
    for r in range(1, _PCA_ROUNDS + 1):
        ctes.append(
            f"""s{r} AS MATERIALIZED (
      SELECT p.vec_id, p.v, {_PCA_PROJ} AS s
      FROM pts p, mu m, v{r - 1} w
    )"""
        )
        ctes.append(f"t{r} AS MATERIALIZED ({_PCA_T.format(r=r)})")
        ctes.append(
            f"n{r} AS (SELECT round(sqrt(sum(t * t)), 6) AS nn FROM t{r})"
        )
        ctes.append(
            f"""v{r} AS (
      SELECT list(coalesce(round(t / nullif(nn, 0.0), 6) + 0.0,
                           w.vv[dim + 1]) ORDER BY dim) AS vv
      FROM t{r}, n{r}, v{r - 1} w
    )"""
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT p.vec_id, {_PCA_PROJ} AS score "
        f"FROM pts p, mu m, v{_PCA_ROUNDS} w"
    )


@query("q117_pca_projection", _pca_sql())
def q117_pca_projection(spark, sf_dir):
    """Top-principal-component projection via power iteration
    (linalg.pca_power_projection, 4 rounds): per round a map-only
    scalar projection s = (x-μ)·v against plan-literal μ/v plus ONE
    d-group per-dimension mean aggregate — the covariance matrix is
    never formed (O(n·d) per round, not O(n·d²)), and the model rides
    the driver as d doubles, the same scale shape as q115's k-means.
    The oracle re-derives the mean, the deterministic 1/√d init, all 4
    projection/update/normalize rounds, and the final scores
    value-exact in unrolled MATERIALIZED CTEs."""
    from capex_data_pipeline_spark.extensions.linalg import (
        pca_power_projection,
    )

    return pca_power_projection(
        _t(spark, sf_dir, "embeddings"), rounds=_PCA_ROUNDS
    )

# ------------------------------------------------ q118: trigram LM

#: normalized word-token list, DuckDB side (same normalization as
#: registry_search._WORDS_SRCH / extensions.dedup.normalized_text)
_WORDS_ML = (
    "list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"
)

_LM_MIN_CONTEXT = 5
_LM_TOPK = 3


@query(
    "q118_trigram_lm",
    f"""
    WITH toks AS MATERIALIZED (SELECT {_WORDS_ML} AS ws FROM documents),
    tri AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
      FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i
            FROM toks WHERE len(ws) >= 3)
    ),
    c3 AS (
      SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS tri_count
      FROM tri GROUP BY 1, 2, 3
    ),
    c2 AS (
      SELECT w1, w2, CAST(sum(tri_count) AS BIGINT) AS ctx_count
      FROM c3 GROUP BY 1, 2
    ),
    vocab AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT unnest(ws) AS w FROM toks)
    ),
    ranked AS (
      SELECT c3.w1, c3.w2, c3.w3, tri_count, ctx_count,
             round((tri_count + 0.5) / (ctx_count + 0.5 * v), 6) AS prob,
             CAST(row_number() OVER (
               PARTITION BY c3.w1, c3.w2
               ORDER BY tri_count DESC, c3.w3 ASC) AS INT) AS rank
      FROM c3 JOIN c2 USING (w1, w2), vocab
      WHERE ctx_count >= {_LM_MIN_CONTEXT}
    )
    SELECT * FROM ranked WHERE rank <= {_LM_TOPK}
    """,
)
def q118_trigram_lm(spark, sf_dir):
    """Trigram language model with add-0.5 smoothing
    (corpus.trigram_lm_topk): KenLM-style count collection — trigrams
    built map-side from each document's token array (no token-row
    window, no self-join), ONE hash aggregate on compact (w1,w2,w3)
    keys, context counts and top-3 ranking on the already-tiny counts
    frame. The CCNet-style precursor to perplexity filtering. The
    oracle re-derives counts, smoothing, and ranks in plain SQL."""
    from capex_data_pipeline_spark.extensions.corpus import trigram_lm_topk

    return trigram_lm_topk(
        _t(spark, sf_dir, "documents"),
        min_context=_LM_MIN_CONTEXT,
        topk=_LM_TOPK,
    )

# ------------------------------------------------ q119: Bloom decontamination

#: DuckDB-side word 3-gram shingles (identical to registry_ext._SHINGLES)
_SHINGLES_ML = f"""
  list_distinct(CASE WHEN len({_WORDS_ML}) < 3
    THEN [array_to_string({_WORDS_ML}, ' ')]
    ELSE list_transform(range(1, len({_WORDS_ML}) - 1),
                        i -> array_to_string(({_WORDS_ML})[i:i+2], ' '))
  END)
"""

_BLOOM_M = 1 << 18
_BLOOM_K = 3
_BLOOM_MIN_OVERLAP = 5

#: Bloom position j of shingle s, DuckDB side (60-bit md5 prefix mod m)
_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || s), 1, 15)) "
    f"AS BIGINT) % {_BLOOM_M}"
)


@query(
    "q119_bloom_contamination",
    f"""
    WITH bench AS (
      SELECT DISTINCT s
      FROM (SELECT unnest(list_filter({_SHINGLES_ML}, x -> x <> '')) AS s
            FROM documents WHERE source = 'src0')
    ),
    hj AS (SELECT unnest(range(0, {_BLOOM_K})) AS j),
    pos AS (SELECT DISTINCT {_BLOOM_POS} AS p FROM bench, hj),
    corpus AS (
      SELECT doc_id, list_filter({_SHINGLES_ML}, x -> x <> '') AS shs
      FROM documents WHERE source <> 'src0'
    ),
    ex AS (SELECT doc_id, unnest(shs) AS s FROM corpus),
    hits AS (
      SELECT e.doc_id, e.s, count(pos.p) AS nh
      FROM (SELECT doc_id, s, {_BLOOM_POS} AS p FROM ex, hj) e
      LEFT JOIN pos USING (p)
      GROUP BY 1, 2
    ),
    perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(CASE WHEN nh = {_BLOOM_K} THEN 1 END) AS BIGINT)
               AS n_flagged
      FROM hits GROUP BY 1
    )
    SELECT c.doc_id,
           coalesce(n_shingles, 0) AS n_shingles,
           coalesce(n_flagged, 0) AS n_flagged,
           coalesce(n_flagged, 0) >= {_BLOOM_MIN_OVERLAP} AS contaminated
    FROM corpus c LEFT JOIN perdoc USING (doc_id)
    """,
)
def q119_bloom_contamination(spark, sf_dir):
    """Bloom-filter decontamination (corpus.bloom_contamination,
    m=2^18 bits, 3 md5 hashes): q47's semantics when the benchmark
    digest set is too big to broadcast exactly — the bitset broadcast
    is capped at a CONSTANT (≤ m positions) regardless of benchmark
    size, false negatives impossible, false positives engine-portable
    (deterministic md5 positions). The oracle re-derives the filter —
    including any collisions — bit-for-bit in SQL."""
    from capex_data_pipeline_spark.extensions.corpus import (
        bloom_contamination,
    )

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    docs = _t(spark, sf_dir, "documents")
    return bloom_contamination(
        # corpus-side shingle+md5-position fan-out over a
        # single-row-group scan: spread first (per-doc aggregates,
        # order-insensitive)
        spread_few_splits(docs.filter(F.col("source") != "src0")),
        docs.filter(F.col("source") == "src0"),
        k=3,
        m_bits=_BLOOM_M,
        n_hashes=_BLOOM_K,
        min_overlap=_BLOOM_MIN_OVERLAP,
    )

# ------------------------------------------------ q120: HTML extraction

#: the deterministic HTML wrapper both engines synthesize around each
#: document row — exercises every extraction rule (script with a bare
#: '<' inside, style, comments, block closers, entities incl. the
#: double-encoded &amp;lt;, absolute + relative hrefs with encoded
#: query separators)
_HTML_PARTS = [
    ("lit", "<html><head><title>Doc "),
    ("col", "CAST(doc_id AS VARCHAR)"),
    (
        "lit",
        '</title><script type="text/javascript">var x = 1 < 2;'
        "</script><style>body { color: red; }</style></head>"
        "<body><!-- synthetic wrapper -->\n<h1>",
    ),
    ("col", "upper(source)"),
    ("lit", "</h1>\n<p>"),
    ("col", "coalesce(text, '')"),
    (
        "lit",
        " &amp; more &lt;41&gt; &amp;lt;keep&amp;gt;</p>"
        "<ul><li>lang: ",
    ),
    ("col", "coalesce(lang, '?')"),
    (
        "lit",
        "</li><li>&quot;quoted&quot; &#39;q&#39;&nbsp;sp</li></ul>"
        '<a href="https://example.com/',
    ),
    ("col", "source"),
    ("lit", "/"),
    ("col", "CAST(doc_id AS VARCHAR)"),
    ("lit", '?a=1&amp;utm_source=x">x</a> <a href=' + "'" + "/rel/"),
    ("col", "CAST(doc_id AS VARCHAR)"),
    ("lit", "'>rel</a></body></html>"),
]


def _html_sql_expr() -> str:
    parts = []
    for kind, v in _HTML_PARTS:
        if kind == "lit":
            esc = v.replace("'", "''").replace("\n", "' || chr(10) || '")
            parts.append(f"'{esc}'")
        else:
            parts.append(v)
    return " || ".join(parts)


def _html_spark_col():
    cols = []
    for kind, v in _HTML_PARTS:
        if kind == "lit":
            cols.append(F.lit(v))
        elif v == "CAST(doc_id AS VARCHAR)":
            cols.append(F.col("doc_id").cast("string"))
        elif v == "upper(source)":
            cols.append(F.upper(F.col("source")))
        elif v == "coalesce(text, '')":
            cols.append(F.coalesce(F.col("text"), F.lit("")))
        elif v == "coalesce(lang, '?')":
            cols.append(F.coalesce(F.col("lang"), F.lit("?")))
        elif v == "source":
            cols.append(F.col("source"))
        else:  # pragma: no cover
            raise AssertionError(v)
    return F.concat(*cols)


#: DuckDB replay of cleaning.html_to_text on expression {c} — same
#: regex chain, 'g'lobal flags (DuckDB replaces first-match only by
#: default, Spark always replaces all)
def _html_to_text_sql(c: str) -> str:
    c = f"regexp_replace({c}, '(?s)<!--.*?-->', ' ', 'g')"
    c = f"regexp_replace({c}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    c = (
        f"regexp_replace({c}, "
        "'(?i)<br\\s*/?>|</(p|div|h[1-6]|li|tr|ul|ol|table|blockquote)>', "
        "chr(10), 'g')"
    )
    c = f"regexp_replace({c}, '<[^>]+>', ' ', 'g')"
    for ent, rep in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        c = f"replace({c}, '{ent}', '{rep}')"
    c = f"regexp_replace({c}, '[ \\t]+', ' ', 'g')"
    c = f"regexp_replace({c}, '\\s*\\n\\s*', chr(10), 'g')"
    return f"regexp_replace({c}, '^\\s+|\\s+$', '', 'g')"


_HREF_RE_SQL = "'(?i)href\\s*=\\s*[\"'']([^\"'']*)[\"'']'"


def _q120_sql() -> str:
    links = (
        "list_transform("
        f"regexp_extract_all(html, {_HREF_RE_SQL}, 1), "
        "u -> replace(replace(replace(replace(replace(replace(u,"
        " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''),"
        " '&nbsp;', ' '), '&amp;', '&'))"
    )
    return f"""
    WITH pages AS MATERIALIZED (
      SELECT doc_id, {_html_sql_expr()} AS html FROM documents
    ),
    ex AS (
      SELECT doc_id, {_html_to_text_sql('html')} AS main_text,
             {links} AS links
      FROM pages
    )
    SELECT doc_id, main_text,
           CAST(len(links) AS INT) AS n_links, links[1] AS first_link
    FROM ex
    """


@query("q120_html_extract", _q120_sql())
def q120_html_extract(spark, sf_dir):
    """HTML main-text + link extraction (cleaning.html_to_text /
    extract_href_links) over a deterministic HTML wrapper both engines
    synthesize around each document row — the extraction step of every
    web-corpus pipeline (C4/RefinedWeb/Dolma), as pure native
    regex/replace projections: MAP-ONLY, whole-stage codegen, zero
    Python, every pattern RE2-compatible so the oracle replays the
    chain byte-for-byte (script/style/comment stripping, block-closer
    newlines, single-level entity decode, href harvesting). Unit tests
    on real handwritten HTML live in test_ml; this query pins
    cross-engine byte parity of the full rule chain."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        extract_html_docs,
    )

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", _html_spark_col().alias("html")
    )
    return extract_html_docs(pages)

# ------------------------------------------------ q121: PQ ANN

_PQ_SUB = 4
_PQ_K = 4
_PQ_ROUNDS = 2
_PQ_TOPK = 10

#: squared-distance fold between row vector {a} and center vector {b}
#: (first-element-seeded list_reduce == the engine's 0D-seeded
#: aggregate), rounded pre-argmin
_PQ_DIST = (
    "round(list_reduce(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])),"
    " (acc, x) -> acc + x), 6)"
)


def _pq_assign(p: str, c: str) -> str:
    dist = _PQ_DIST.format(a="p.v", b="c.v")
    return f"""
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
             AS rn
    FROM (SELECT p.vec_id, c.cluster, {dist} AS dist FROM {p} p, {c} c)
  ) WHERE rn = 1
"""


def _pq_update(p: str, prev: str, a: str) -> str:
    return f"""
  SELECT pc.cluster, coalesce(nw.v, pc.v) AS v
  FROM {prev} pc LEFT JOIN (
    SELECT cluster, list(m ORDER BY dim) AS v FROM (
      SELECT a.cluster, e.dim AS dim, round(avg(e.x), 6) + 0.0 AS m
      FROM {a} a JOIN (
        SELECT vec_id,
               unnest(list_transform(range(1, len(v) + 1),
                                     i -> {{'dim': i - 1, 'x': v[i]}})) AS e
        FROM {p}
      ) ex USING (vec_id)
      GROUP BY 1, 2
    ) GROUP BY 1
  ) nw USING (cluster)
"""


def _pq_sql() -> str:
    ctes = [
        """pts0 AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
    )""",
        "dd AS (SELECT min(len(v)) AS d FROM pts0)",
        """pts AS MATERIALIZED (
      SELECT p.vec_id, p.v FROM pts0 p, dd WHERE len(p.v) = dd.d
    )""",
        "qv AS (SELECT v FROM pts ORDER BY vec_id LIMIT 1)",
    ]
    for s in range(_PQ_SUB):
        lo = f"(({s} * (dd.d // {_PQ_SUB})) + 1)"
        hi = f"(({s} + 1) * (dd.d // {_PQ_SUB}))"
        ctes.append(
            f"""p{s} AS MATERIALIZED (
      SELECT vec_id, v[{lo}:{hi}] AS v FROM pts, dd
    )"""
        )
        ctes.append(
            f"""c{s}_0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT)
               AS cluster, v
      FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM p{s} ORDER BY h, vec_id LIMIT {_PQ_K})
    )"""
        )
        for r in range(1, _PQ_ROUNDS + 1):
            ctes.append(
                f"a{s}_{r} AS MATERIALIZED "
                f"({_pq_assign(f'p{s}', f'c{s}_{r - 1}')})"
            )
            ctes.append(
                f"c{s}_{r} AS MATERIALIZED "
                f"({_pq_update(f'p{s}', f'c{s}_{r - 1}', f'a{s}_{r}')})"
            )
        ctes.append(
            f"enc{s} AS MATERIALIZED "
            f"({_pq_assign(f'p{s}', f'c{s}_{_PQ_ROUNDS}')})"
        )
        ctes.append(
            f"qs{s} AS (SELECT v[{lo}:{hi}] AS v FROM qv, dd)"
        )
        qdist = _PQ_DIST.format(a="q.v", b="c.v")
        ctes.append(
            f"""lut{s} AS (
      SELECT c.cluster, {qdist} AS qd FROM c{s}_{_PQ_ROUNDS} c, qs{s} q
    )"""
        )
    joins = " ".join(
        f"JOIN enc{s} e{s} USING (vec_id)" for s in range(1, _PQ_SUB)
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cluster = e{s}.cluster"
        for s in range(_PQ_SUB)
    )
    code_word = " || '-' || ".join(
        f"CAST(e{s}.cluster AS VARCHAR)" for s in range(_PQ_SUB)
    )
    dist_sum = " + ".join(f"l{s}.qd" for s in range(_PQ_SUB))
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT e0.vec_id, {code_word} AS codes, "
        f"round({dist_sum}, 6) AS adc_dist "
        f"FROM enc0 e0 {joins} {lut_joins} "
        f"ORDER BY adc_dist, e0.vec_id LIMIT {_PQ_TOPK}"
    )


@query("q121_pq_ann", _pq_sql())
def q121_pq_ann(spark, sf_dir):
    """Product-quantization ANN (similarity.pq_ann_topk — Jégou et al.
    2011): 4 subspace codebooks fit by the q115 k-means machinery over
    sliced views of ONE persisted projection, every vector compressed
    to 4 small codes, and the lowest-id probe ranked by asymmetric
    distance from a constant-folded (subspace, code) lookup table —
    the encode+score pass is MAP-ONLY + TakeOrdered, zero shuffles
    after the tiny fits. The memory-bound ANN shape at 100 TB (8-byte
    codes vs 512-byte raw vectors). The oracle re-derives all 4
    codebooks (init + 2 unrolled Lloyd rounds each), the codes, the
    LUT, and the final ranking value-exact. Codes surface as a
    '-'-joined string (cross-engine array hashing is avoided
    repo-wide, the q101 convention)."""
    from capex_data_pipeline_spark.extensions.similarity import pq_ann_topk

    out = pq_ann_topk(
        _t(spark, sf_dir, "embeddings"),
        n_subspaces=_PQ_SUB,
        k_codes=_PQ_K,
        rounds=_PQ_ROUNDS,
        topk=_PQ_TOPK,
    )
    return out.select(
        "vec_id",
        F.concat_ws("-", F.col("codes").cast("array<string>")).alias(
            "codes"
        ),
        "adc_dist",
    )

# ------------------------------------------------ q122: Zipf / coverage

_ZIPF_TOPK = 20


@query(
    "q122_term_zipf",
    f"""
    WITH vocab AS MATERIALIZED (
      SELECT w AS term, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_WORDS_ML}) AS w FROM documents)
      GROUP BY 1
    ),
    tot AS (SELECT sum(freq) AS t FROM vocab),
    ranked AS (
      SELECT term, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS INT)
               AS rank
      FROM vocab
      QUALIFY rank <= {_ZIPF_TOPK}
    ),
    topf AS (
      SELECT rank, term, freq,
             round(sum(freq) OVER (ORDER BY rank
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / (SELECT t FROM tot), 6) AS cum_share,
             log10(CAST(rank AS DOUBLE)) AS lx,
             log10(CAST(freq AS DOUBLE)) AS ly
      FROM ranked
    ),
    slope AS (
      SELECT round(covar_pop(ly, lx) / var_pop(lx), 6) AS zipf_slope
      FROM topf
    )
    SELECT rank, term, freq, cum_share, zipf_slope FROM topf, slope
    """,
)
def q122_term_zipf(spark, sf_dir):
    """Term Zipf/coverage diagnostics (corpus.term_zipf_stats): top-20
    words with rank, frequency, cumulative token-coverage share (the
    vocabulary-sizing curve), and the OLS Zipf slope over log-log
    rank/frequency (natural text ≈ -1; templated corpora flatten — a
    cheap generated-text detector). ONE compact-key hash aggregate
    builds the vocab; every window/regression runs vocab-sized. The
    oracle restates ranks, the coverage window, and the closed-form
    covar_pop/var_pop slope."""
    from capex_data_pipeline_spark.extensions.corpus import term_zipf_stats

    return term_zipf_stats(
        _t(spark, sf_dir, "documents"), topk=_ZIPF_TOPK
    )


# ------------------------------------------------ q123: mixture schedule

_MIX_WEIGHTS = {"src0": 0.6, "src1": 0.3}
_MIX_DEFAULT = 0.1
_MIX_STEPS = 100

_MIX_HASH = (
    "CAST(('0x' || substr(md5('s0|' || coalesce(CAST(doc_id AS VARCHAR),"
    " '<null>')), 1, 8)) AS BIGINT) / 4294967296.0"
)


@query(
    "q123_mixture_schedule",
    f"""
    WITH ranked AS (
      SELECT coalesce(CAST(source AS VARCHAR), '<null>') AS source, doc_id,
             row_number() OVER (
               PARTITION BY coalesce(CAST(source AS VARCHAR), '<null>')
               ORDER BY {_MIX_HASH} ASC, doc_id ASC) AS rn
      FROM documents
    ),
    timed AS (
      SELECT source, doc_id,
             (CAST(rn AS DOUBLE) - 0.5)
             / (CASE source
                  WHEN 'src0' THEN CAST(0.6 AS DOUBLE)
                  WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
                  ELSE CAST(0.1 AS DOUBLE) END) AS vt
      FROM ranked
    ),
    pref AS (
      SELECT * FROM timed ORDER BY vt, source, doc_id LIMIT {_MIX_STEPS}
    )
    SELECT CAST(row_number() OVER (ORDER BY vt, source, doc_id) AS INT)
             AS step,
           source, doc_id, round(vt, 6) AS vtime
    FROM pref
    """,
)
def q123_mixture_schedule(spark, sf_dir):
    """Deterministic training-order interleave
    (corpus.mixture_schedule, stride scheduling): source shares
    converge to the {{src0: 0.6, src1: 0.3, else: 0.1}} weights in
    EVERY prefix of the stream, not just in expectation — the
    data-order half of corpus mixing (q69's mixture_sample is the
    how-much half). Per-source md5-hash shuffle rank, virtual time
    (k-0.5)/w, TakeOrdered prefix (no global sort), step numbering on
    the steps-row frame. The oracle replays ranks, virtual times, and
    the merged order."""
    from capex_data_pipeline_spark.extensions.corpus import mixture_schedule

    return mixture_schedule(
        _t(spark, sf_dir, "documents"),
        weights=_MIX_WEIGHTS,
        default_weight=_MIX_DEFAULT,
        steps=_MIX_STEPS,
    )

# ------------------------------------------------ q124: HTML link graph


@query(
    "q124_link_graph",
    """
    WITH pages AS (
      SELECT 'site' || CAST(doc_id % 3 AS VARCHAR) || '.org' AS src_host,
        '<html><body><a href="https://WWW.Target'
        || CAST(doc_id % 7 AS VARCHAR) || '.COM/p/'
        || CAST(doc_id AS VARCHAR) || '">t</a>'
        || CASE WHEN doc_id % 2 = 0
                THEN '<a href=''http://mirror' || CAST(doc_id % 5 AS VARCHAR)
                     || '.example.net:8080/x''>m</a>'
                ELSE '' END
        || '<a href=''/rel/' || CAST(doc_id AS VARCHAR) || '''>rel</a>'
        || '</body></html>' AS html
      FROM documents
    ),
    links AS (
      SELECT src_host,
             unnest(regexp_extract_all(html,
               '(?i)href\\s*=\\s*["'']([^"'']*)["'']', 1)) AS u
      FROM pages
    ),
    hosts AS (
      SELECT src_host,
             regexp_replace(lower(regexp_extract(u,
               'https?://([^/\\s:]+)', 1)), '^www\\.', '') AS dst_host
      FROM links WHERE regexp_matches(u, '^https?://')
    )
    SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
    FROM hosts GROUP BY 1, 2
    """,
)
def q124_link_graph(spark, sf_dir):
    """Host-level link graph from HTML (cleaning.html_link_edges):
    href harvest → absolute-http(s) filter → lowercased www-stripped
    host → one compact-key aggregate — the web-graph build step whose
    output feeds pagerank/connected-components/domain caps. Pages are
    synthesized deterministically (mixed-case www'd hosts, a ported
    mirror host on even docs, an always-dropped relative link) so
    every rule does real work; the oracle replays harvest, filter,
    normalization, and weights. No entity-encoded hrefs here: the
    single-quoted mirror link exercises the quote-alternation the
    q120 wrapper cannot (its SQL-side synthesis)."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        html_link_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 7).cast("string")
    m = (F.col("doc_id") % 5).cast("string")
    pages = docs.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".org"),
        ).alias("src_host"),
        F.concat(
            F.lit('<html><body><a href="https://WWW.Target'), k,
            F.lit(".COM/p/"), F.col("doc_id").cast("string"),
            F.lit('">t</a>'),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("<a href='http://mirror"), m,
                    F.lit(".example.net:8080/x'>m</a>"),
                ),
            ).otherwise(F.lit("")),
            F.lit("<a href='/rel/"), F.col("doc_id").cast("string"),
            F.lit("'>rel</a></body></html>"),
        ).alias("html"),
    )
    return html_link_edges(pages)

# ------------------------------------------------ q125: count-min sketch

_CMS_D = 3
_CMS_W = 1024
_CMS_TOPK = 20

_CMS_POS = (
    "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || w), 1, 15)) "
    f"AS BIGINT) % {_CMS_W}"
)


@query(
    "q125_cms_heavy_hitters",
    f"""
    WITH words AS MATERIALIZED (
      SELECT unnest({_WORDS_ML}) AS w FROM documents
    ),
    hj AS (SELECT unnest(range(0, {_CMS_D})) AS j),
    cells AS (
      SELECT j, pos, CAST(count(*) AS BIGINT) AS cell
      FROM (SELECT j, {_CMS_POS} AS pos FROM words, hj)
      GROUP BY 1, 2
    ),
    vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS true_count
      FROM words GROUP BY 1
    ),
    cand AS (
      SELECT w, true_count FROM (
        SELECT w, true_count,
               row_number() OVER (ORDER BY true_count DESC, w ASC) AS rk
        FROM vocab) WHERE rk <= {_CMS_TOPK}
    ),
    probes AS (
      SELECT w, true_count, j, {_CMS_POS} AS pos FROM cand, hj
    )
    SELECT w AS word, true_count,
           min(cell) AS est_count,
           min(cell) - true_count AS overestimate
    FROM probes JOIN cells USING (j, pos)
    GROUP BY 1, 2
    """,
)
def q125_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch frequency estimation
    (sketches.cms_top_frequencies, 3×1024 counters): the sketch state
    is ~3 KiB REGARDLESS of corpus size — map-side partials collapse
    the whole token stream onto depth×width cells — and the top-20
    read-back surfaces the one-sided CMS guarantee as an explicit
    ``overestimate`` column (est ≥ true always). With q119's Bloom
    and q126's HLL this completes the constant-memory sketch toolkit
    (membership / frequency / cardinality). The oracle re-derives the
    cells, the probes, and the min-read bit-for-bit."""
    from capex_data_pipeline_spark.extensions.sketches import (
        cms_top_frequencies,
    )

    return cms_top_frequencies(
        _t(spark, sf_dir, "documents"),
        depth=_CMS_D,
        width=_CMS_W,
        topk=_CMS_TOPK,
    )


# ------------------------------------------------ q126: HyperLogLog

_HLL_B = 6
_NORM_ML = (
    "trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))"
)


@query(
    "q126_hll_cardinality",
    f"""
    WITH keyed AS (
      SELECT CAST(('0x' || substr(md5(coalesce({_NORM_ML}, '<null>')),
                   1, 13)) AS BIGINT) AS h,
             {_NORM_ML} AS k
      FROM documents
    ),
    regs AS (
      SELECT h % {1 << _HLL_B} AS b,
             max(CASE WHEN (h >> {_HLL_B}) = 0 THEN {52 - _HLL_B + 1}
                      ELSE {52 - _HLL_B} - length(bin(h >> {_HLL_B})) + 1
                 END) AS mr
      FROM keyed GROUP BY 1
    ),
    summary AS (
      SELECT round(
        (0.7213 / (1.0 + 1.079 / {float(1 << _HLL_B)}))
        * {float((1 << _HLL_B) ** 2)}
        / (sum(pow(2.0, -mr))
           + CAST({1 << _HLL_B} - count(*) AS DOUBLE)), 6)
        AS n_estimated
      FROM regs
    ),
    exact AS (
      SELECT CAST(count(DISTINCT k) AS BIGINT) AS n_exact FROM keyed
    )
    SELECT n_exact, n_estimated,
           round(abs(n_estimated - n_exact)
                 / nullif(CAST(n_exact AS DOUBLE), 0.0), 6) AS rel_error
    FROM exact, summary
    """,
)
def q126_hll_cardinality(spark, sf_dir):
    """Raw HyperLogLog cardinality estimate over normalized document
    texts (sketches.hll_cardinality, 64 registers) next to the exact
    distinct count: the sketch is m registers TOTAL — one map-side-max
    aggregate — and the estimate reproduces bit-for-bit in SQL because
    rank extraction is integer binary-string logic (no float log2) and
    the register sums add exact powers of two (order-independent, no
    rounding). Spark's own approx_count_distinct is the production
    fast path; this operator is the ENGINE-PORTABLE estimator whose
    error the oracle can certify."""
    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality,
    )

    docs = _t(spark, sf_dir, "documents")
    return hll_cardinality(docs, normalized_text(F.col("text")), b=_HLL_B)

# ------------------------------------------------ q127: snapshot diff


@query(
    "q127_snapshot_diff",
    f"""
    WITH old_snap AS (
      SELECT doc_id, md5({_NORM_ML}) AS fp
      FROM documents WHERE doc_id % 50 <> 0
    ),
    new_snap AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(coalesce(
               CASE WHEN doc_id % 11 = 0 THEN text || ' revised v2'
                    ELSE text END, '')),
               '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 37 <> 0
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed' END AS status
    FROM old_snap o FULL OUTER JOIN new_snap n USING (doc_id)
    WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed' END) IS NOT NULL
    """,
)
def q127_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff (corpus.corpus_snapshot_diff): derive the
    added/removed/changed changelog between two corpus versions from
    normalized-text fingerprints — ONE full-outer join shuffling only
    (id, digest) pairs, unchanged docs (the 100 TB majority) omitted
    by design. Snapshots are carved deterministically from documents
    (old drops doc_id%50==0 → those appear 'added'; new drops
    doc_id%37==0 → 'removed'; doc_id%11==0 texts gain a suffix →
    'changed'). The oracle replays fingerprints and the outer-join
    classification."""
    from capex_data_pipeline_spark.extensions.corpus import (
        corpus_snapshot_diff,
    )

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 50 != 0)
    new = docs.filter(F.col("doc_id") % 37 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" revised v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_snapshot_diff(old, new)


# ------------------------------------------------ q128: percentile calibration

#: DuckDB replay of the q97 per-doc char-entropy score (reused here as
#: the continuous quality signal the calibration ranks)
_ENTROPY_ML = f"""
  SELECT doc_id, source,
         CASE WHEN n > 0 THEN
           round(ln(CAST(n AS DOUBLE))
                 - list_sum(list_transform(counts,
                     c -> c * ln(CAST(c AS DOUBLE)))) / n, 6) + 0.0
         END AS entropy_nats
  FROM (
    SELECT doc_id, source, len(cs) AS n,
           list_transform(list_distinct(cs),
             d -> len(list_filter(cs, c -> c = d))) AS counts
    FROM (SELECT doc_id, source,
                 list_filter(string_split({_NORM_ML}, ''), c -> c <> '')
                   AS cs
          FROM documents)
  )
"""


@query(
    "q128_source_calibration",
    f"""
    WITH scored AS ({_ENTROPY_ML}),
    ranked AS (
      SELECT doc_id, source, entropy_nats,
             round(percent_rank() OVER (
               PARTITION BY source
               ORDER BY entropy_nats ASC NULLS FIRST, doc_id ASC), 6)
               AS pct_rank
      FROM scored
    )
    SELECT doc_id, source, entropy_nats, pct_rank,
           pct_rank >= 0.5 AS kept
    FROM ranked
    """,
)
def q128_source_calibration(spark, sf_dir):
    """Per-source percentile quality calibration
    (textstats.percentile_calibrate over the q97 char-entropy score):
    the FineWeb-style normalization — rank every document within its
    source and keep the top half per source, so differing raw score
    distributions across sources select documents, not sources. The
    determinism levers are explicit (NULLS FIRST ascending — Spark's
    default, DuckDB's not — and the doc_id tie-break), which is what
    makes percent_rank value-exact cross-engine. One window on the
    source key; the score is the q97 Arrow fast path."""
    from capex_data_pipeline_spark.extensions.textstats import (
        add_char_entropy,
        percentile_calibrate,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = add_char_entropy(docs, "text").select(
        "doc_id", "source", "entropy_nats"
    )
    return percentile_calibrate(
        scored, "entropy_nats", group_col="source", keep_frac=0.5
    )


# --------------------------- q172: IVF-PQ composed ANN (the 100 TB shape)

_IVFPQ_CELLS = 16
_IVFPQ_NPROBE = 3
_IVFPQ_RERANK = 20
_IVFPQ_TOPK = 10

#: cosine between two DuckDB DOUBLE[] lists (the q37 idiom, local copy
#: to keep registries import-acyclic)
_IVFPQ_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    "    * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


def _ivfpq_sql() -> str:
    """q37's IVF fragments (sample centers, cosine assignment, nprobe
    probes) composed with q121's PQ machinery (md5-seeded Lloyd
    codebooks per subspace, rounded squared-distance folds), plus the
    per-query LUT / ADC / shortlist / exact-re-rank tail."""
    ctes = [
        """pts0 AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
    )""",
        "dd AS (SELECT min(len(v)) AS d FROM pts0)",
        """pts AS MATERIALIZED (
      SELECT p.vec_id, p.v FROM pts0 p, dd WHERE len(p.v) = dd.d
    )""",
        f"""ctr AS (
      SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
               AS cell, v
      FROM pts ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_IVFPQ_CELLS}
    )""",
        f"""sim AS (
      SELECT p.vec_id, c.cell,
             {_IVFPQ_COS.format(a='p.v', b='c.v')} AS s
      FROM pts p, ctr c
    )""",
        """assigned AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn
        FROM sim) WHERE rn = 1
    )""",
        f"""probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, cell ASC) AS rn
        FROM sim WHERE vec_id < 5) WHERE rn <= {_IVFPQ_NPROBE}
    )""",
        "qrs AS (SELECT vec_id AS query_id, v FROM pts WHERE vec_id < 5)",
    ]
    for s in range(_PQ_SUB):
        lo = f"(({s} * (dd.d // {_PQ_SUB})) + 1)"
        hi = f"(({s} + 1) * (dd.d // {_PQ_SUB}))"
        ctes.append(
            f"""p{s} AS MATERIALIZED (
      SELECT vec_id, v[{lo}:{hi}] AS v FROM pts, dd
    )"""
        )
        ctes.append(
            f"""c{s}_0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT)
               AS cluster, v
      FROM (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM p{s} ORDER BY h, vec_id LIMIT {_PQ_K})
    )"""
        )
        for r in range(1, _PQ_ROUNDS + 1):
            ctes.append(
                f"a{s}_{r} AS MATERIALIZED "
                f"({_pq_assign(f'p{s}', f'c{s}_{r - 1}')})"
            )
            ctes.append(
                f"c{s}_{r} AS MATERIALIZED "
                f"({_pq_update(f'p{s}', f'c{s}_{r - 1}', f'a{s}_{r}')})"
            )
        ctes.append(
            f"enc{s} AS MATERIALIZED "
            f"({_pq_assign(f'p{s}', f'c{s}_{_PQ_ROUNDS}')})"
        )
        qdist = _PQ_DIST.format(a="q.sv", b="c.v")
        ctes.append(
            f"""qlut{s} AS (
      SELECT q.query_id, c.cluster, {qdist} AS qd
      FROM c{s}_{_PQ_ROUNDS} c,
           (SELECT query_id, v[{lo}:{hi}] AS sv FROM qrs, dd) q
    )"""
        )
    enc_joins = " ".join(
        f"JOIN enc{s} e{s} ON e{s}.vec_id = c.neighbor_id"
        for s in range(_PQ_SUB)
    )
    lut_joins = " ".join(
        f"JOIN qlut{s} l{s} ON l{s}.query_id = c.query_id"
        f" AND l{s}.cluster = e{s}.cluster"
        for s in range(_PQ_SUB)
    )
    dist_sum = " + ".join(f"l{s}.qd" for s in range(_PQ_SUB))
    ctes.append(
        f"""cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id
    )"""
    )
    ctes.append(
        f"""adc AS (
      SELECT c.query_id, c.neighbor_id, round({dist_sum}, 6) AS adc_dist
      FROM cand c {enc_joins} {lut_joins}
    )"""
    )
    ctes.append(
        f"""short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc) WHERE rn <= {_IVFPQ_RERANK}
    )"""
    )
    ctes.append(
        f"""scored AS (
      SELECT s.query_id, s.neighbor_id,
             round({_IVFPQ_COS.format(a='q.v', b='p.v')}, 4) AS cosine
      FROM short s
      JOIN pts p ON p.vec_id = s.neighbor_id
      JOIN qrs q ON q.query_id = s.query_id
    )"""
    )
    return (
        f"WITH {', '.join(ctes)} "
        "SELECT query_id, neighbor_id, cosine, rank FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id"
        "           ORDER BY cosine DESC, neighbor_id ASC) AS rank"
        "  FROM scored"
        f") WHERE rank <= {_IVFPQ_TOPK}"
    )


@query("q172_ivfpq_ann", _ivfpq_sql())
def q172_ivfpq_ann(spark, sf_dir):
    """IVF-PQ composed ANN (similarity.ivfpq_topk — Jégou et al. 2011,
    the shape every 100 TB embedding store actually serves): the IVF
    coarse quantizer (q37's deterministic sample cells, nprobe=3 of
    16) cuts the SCAN, PQ asymmetric distance (q121's md5-seeded Lloyd
    codebooks, 4 subspaces x 4 codes) cuts the BYTES — candidates cost
    4 integer lookups against a per-query LUT, zero vector arithmetic
    — and only the top-20 shortlist pays exact cosine for the final
    top-10. Vectors PQ-encode RAW (FAISS's no-residual IVFPQ variant),
    keeping every stage closed-form: the oracle re-derives centers,
    assignments, probes, all 4 codebooks (init + 2 unrolled Lloyd
    rounds), codes, per-query LUTs, ADC ranks, the shortlist, and the
    exact re-rank value-exact. Recall vs exact cosine is measured on
    q147's judge (docs/SCALE.md, round 10)."""
    from capex_data_pipeline_spark.extensions.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=_IVFPQ_TOPK,
        n_cells=_IVFPQ_CELLS,
        nprobe=_IVFPQ_NPROBE,
        n_subspaces=_PQ_SUB,
        k_codes=_PQ_K,
        rounds=_PQ_ROUNDS,
        rerank=_IVFPQ_RERANK,
    )
