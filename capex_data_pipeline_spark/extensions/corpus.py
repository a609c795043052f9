"""Corpus-preparation operators a training-data pipeline needs between
cleaning and tokenization: deterministic chunking (long documents →
bounded training sequences with overlap) and deterministic hash-based
sampling (reproducible, engine-portable subsets — unlike ``df.sample``,
whose RNG is partitioning-dependent and cannot be re-derived by another
engine or a later run over repartitioned data).

Both are pure projections/filters — zero shuffles, linear at any scale
— and both are closed-form over the data, so DuckDB oracles re-derive
them exactly (registry q44/q45).
"""

from __future__ import annotations

import decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from capex_data_pipeline_spark.sources.parquet import spread_few_splits

#: denominator for the md5-derived sampling hash: first 8 hex chars →
#: a uniform 32-bit integer
_HASH_SPACE = 1 << 32


def _ws_tokens(col: Column) -> Column:
    """Whitespace tokens; '' / null / whitespace-only docs yield an
    empty array. Leading/trailing whitespace is stripped with a regex —
    ``trim()`` only removes ASCII spaces, so a doc ending in ``\\n``
    (nearly every real document) would otherwise grow a phantom ''
    token from the split."""
    t = F.regexp_replace(
        F.coalesce(col.cast("string"), F.lit("")), r"^\s+|\s+$", ""
    )
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-bounded chunks — the
    standard shaping step before sequence packing/tokenization.

    Chunk i covers whitespace tokens ``[i*stride, i*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap``; the final
    partial chunk is kept (training pipelines pad it), empty documents
    produce no chunks. Everything is JVM-side array algebra (split +
    sequence + explode + slice) — one narrow pass, no Python, no
    shuffle; at 100 TB this is a map-only stage whose output lands
    directly in the next scan's partitioning.

    Returns (id_col, chunk_idx, chunk_tokens as n_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be < chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = _ws_tokens(F.col(text_col))
    # number of chunks = ceil(max(n - overlap, 0) / stride), but at
    # least 1 for any non-empty doc (n <= chunk_tokens → one chunk)
    n = F.size(toks)
    n_chunks = F.when(n == 0, F.lit(0)).otherwise(
        F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1))
    )
    return (
        docs.select(
            F.col(id_col),
            toks.alias("_toks"),
            n_chunks.cast("int").alias("_nc"),
        )
        .filter(F.col("_nc") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx"),
            "_toks",
        )
        .select(
            id_col,
            "chunk_idx",
            F.slice(
                F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
            ).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("_chunk").alias("n_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def pack_chunks(
    chunks: DataFrame,
    seq_len: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Assign chunks to fixed-capacity training sequences ("packs") —
    the concat-then-split packing used in LLM pretraining: within each
    shard, chunks are laid out in deterministic (doc, chunk) order and
    a chunk joins the pack holding its FIRST token, i.e. ``pack_id =
    floor((cumsum - n_tokens) / seq_len)``.

    Sharding makes this scale: a single global ordering would funnel
    100 TB through one window partition, so chunks are first routed to
    ``n_shards`` deterministic shards by an md5 hash of the doc id
    (engine-portable — the same hash a DuckDB oracle derives; Spark's
    ``hash()`` is not) and packed within each shard. One shuffle on the
    shard key, one window, no Python. All chunks of a doc share a shard,
    so packs keep overlapping chunks adjacent.

    Returns the input plus (shard, pack_id, pack_pos) where pack_pos is
    the chunk's starting token offset within its pack (a chunk longer
    than the remaining capacity spills into the next pack's range —
    the consumer pads or truncates, exactly as concat-then-split
    training pipelines do).
    """
    clash = {"shard", "pack_id", "pack_pos"} & set(chunks.columns)
    if clash:
        raise ValueError(
            f"pack_chunks: input already carries output column(s) "
            f"{sorted(clash)} — drop or rename them before repacking "
            "(the select would otherwise produce ambiguous references)"
        )
    shard = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % n_shards
    ).alias("shard")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc(), F.col(idx_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    start = cum - F.col(token_col)  # first-token offset in the shard layout
    return chunks.select("*", shard).select(
        "*",
        F.floor(start / F.lit(seq_len)).alias("pack_id"),
        (start % F.lit(seq_len)).alias("pack_pos"),
    )


def term_stats(
    corpus: DataFrame,
    min_doc_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary statistics over the corpus — the inverted-index-lite
    summary tokenizer/vocab builders start from: for every normalized
    word term, its document frequency and collection frequency.

    One explode + one hash aggregate; the shuffle key is the term
    string (compact, naturally high-cardinality so it spreads evenly —
    stopword terms are the hot keys and AQE's skew handling covers
    them). ``min_doc_freq`` prunes the hapax tail AFTER aggregation
    (the standard vocab cutoff), which also bounds the result size.

    Returns (term, doc_freq, collection_freq) — distinct-doc count and
    total occurrence count per term.
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    words = corpus.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda s: s != "",
            )
        ).alias("term"),
    )
    return (
        words.groupBy("term")
        .agg(
            F.countDistinct("_doc").alias("doc_freq"),
            F.count(F.lit(1)).alias("collection_freq"),
        )
        .filter(F.col("doc_freq") >= min_doc_freq)
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test decontamination: flag corpus documents sharing word
    ``k``-gram shingles with a benchmark/eval set — the standard gate
    before shipping a training corpus (a doc that quotes the test set
    inflates eval scores).

    Shape chosen for 100 TB: the benchmark side is SMALL by definition
    (eval sets), so its distinct shingle set broadcasts and the corpus
    pays ONE scan — shingle-hash projection, broadcast left join with a
    hit marker, one hash aggregate producing both counts. No shuffle of
    corpus text, no second pass, no quadratic explode-join. Shingles
    compare as md5 digests (compact, engine-portable). The degenerate
    whole-text shingle '' that empty/whitespace/punctuation-only docs
    produce is dropped on BOTH sides — otherwise one empty benchmark
    row would mark every empty corpus doc contaminated despite sharing
    no content (such docs report n_shingles = 0).

    Returns (id_col, n_shingles, n_overlapping, contaminated) for every
    corpus doc; ``contaminated`` = overlap ≥ ``min_overlap``.
    """
    from capex_data_pipeline_spark.extensions.dedup import _shingles_expr

    def shingles() -> Column:
        return F.filter(_shingles_expr(text_col, k), lambda s: s != "")

    bench_shingles = (
        benchmark.select(F.explode(shingles()).alias("_sh"))
        .select(F.md5("_sh").alias("_shash"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corp = corpus.select(
        F.col(id_col),
        F.explode_outer(
            F.transform(shingles(), lambda s: F.md5(s))
        ).alias("_shash"),
    )
    return (
        corp.join(F.broadcast(bench_shingles), "_shash", "left")
        .groupBy(id_col)
        .agg(
            F.count("_shash").alias("n_shingles"),
            F.count("_hit").alias("n_overlapping"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_overlapping",
            (F.col("n_overlapping") >= min_overlap).alias("contaminated"),
        )
    )


def sample_hash(key: Column, seed: str = "s0") -> Column:
    """Uniform [0, 1) hash of a key: first 8 hex chars of
    md5(seed|key) as a 32-bit integer over 2^32. Deterministic and
    engine-portable (md5 is md5 everywhere) — the property that makes
    a sample re-derivable months later or by a different engine.
    NULL keys hash as the sentinel string '<null>' so null-keyed rows
    get a deterministic keep decision too (a bare md5(NULL) is NULL
    and would silently drop every such row even at fraction 1.0)."""
    return hash_u32(key, seed).cast("double") / F.lit(float(_HASH_SPACE))


def hash_u32(key: Column, seed: str = "s0") -> Column:
    """The integer form of ``sample_hash``: first 8 hex chars of
    md5(seed|key) as a BIGINT in [0, 2^32) — exposed for operators
    that need the raw hash (priority sampling divides by (h+1) for a
    (0, 1] uniform). Same NULL-sentinel semantics."""
    key_s = F.coalesce(key.cast("string"), F.lit("<null>"))
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"), key_s)), 1, 8), 16, 10
    ).cast("long")


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
    seed: str = "s0",
) -> DataFrame:
    """Keep rows whose key hashes below ``fraction`` — a deterministic
    Bernoulli sample. Same key + seed → same decision, independent of
    partitioning, engine, or run; one narrow filter, no shuffle."""
    return df.filter(sample_hash(F.col(key_col), seed) < F.lit(float(fraction)))


def group_sample(
    df: DataFrame,
    n: int,
    group_col: str,
    key_col: str,
    seed: str = "s0",
) -> DataFrame:
    """Exactly-n-per-group deterministic sample (a reservoir sample
    whose 'random' order is the engine-portable md5 hash): rank rows
    within each group by ``sample_hash(key)`` (key as tie-break) and
    keep the ``n`` smallest. Groups with fewer than ``n`` rows keep
    everything. The common corpus-building shape — a balanced subset
    per source/language — with the same re-derivability guarantee as
    ``hash_sample``: same keys + seed → same subset, on any engine, at
    any partitioning.

    One shuffle on the group key; ``row_number <= n`` plans as
    WindowGroupLimit, so each map task forwards at most n rows per
    group into the exchange."""
    if "_rn" in df.columns:
        raise ValueError(
            "group_sample: input carries a '_rn' column, which the rank "
            "projection uses internally — drop or rename it first"
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        sample_hash(F.col(key_col), seed).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    seed: str = "pr",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, size k, with unbiased
    subset-sum estimation: priority sampling (Duffield, Lund & Thorup,
    JACM 2007). Each row gets priority p = w / u with u uniform in
    (0, 1]; the sample is the k largest priorities, the threshold tau
    is the (k+1)-th, and est_weight = max(w, tau) makes any subset-sum
    estimate unbiased (E[sum est_weight over sample ∩ S] = sum w over
    S). The one-big-sample answer to "give me 10k docs, long docs
    proportionally more likely, and keep totals estimable".

    Determinism/portability: u = (hash_u32(key) + 1) / 2^32 — the same
    engine-portable md5 integer as ``hash_sample``, shifted to (0, 1]
    so the division is total. Every arithmetic step is a single IEEE
    op ((h+1) and /2^32 are EXACT — integer below 2^53 and a
    power-of-two divisor — and w/u is one correctly-rounded divide),
    so priorities are bit-identical on any engine: the q180 oracle
    reproduces them double-for-double.

    Scale shape: priorities are a narrow map; the sample is ONE
    TakeOrdered(k+1) — no global sort, no shuffle of the input, and
    mergeable across splits (top-(k+1) of per-partition top-(k+1)s,
    which is what TakeOrdered already does). tau attaches as a
    broadcast one-row aggregate over the (k+1)-row frame. Rows with
    weight <= 0 or NULL are excluded (zero-weight rows can never be
    sampled; negative weights have no estimator semantics)."""
    from pyspark.sql.window import Window

    w = F.col(weight_col).cast("double")
    u = (hash_u32(F.col(key_col), seed) + F.lit(1)).cast("double") / F.lit(
        float(_HASH_SPACE)
    )
    scored = (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(key_col),
            w.alias("weight"),
            (w / u).alias("priority"),
        )
    )
    top = scored.orderBy(
        F.desc("priority"), F.asc(key_col)
    ).limit(k + 1)
    # (k+1)-row frame: the unpartitioned window is bounded by the
    # TakeOrdered above it (the planlint-certified pattern)
    rn = F.row_number().over(
        Window.orderBy(F.desc("priority"), F.asc(key_col))
    )
    ranked = top.withColumn("_rn", rn)
    tau = ranked.agg(
        F.max(F.when(F.col("_rn") == k + 1, F.col("priority"))).alias("_tau")
    )
    return (
        ranked.filter(F.col("_rn") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            key_col,
            "weight",
            "priority",
            F.greatest(
                F.col("weight"), F.coalesce(F.col("_tau"), F.lit(0.0))
            ).alias("est_weight"),
        )
    )


def stratified_hash_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    key_col: str,
    default_fraction: float = 0.0,
    seed: str = "s0",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downweight a crawl
    source, keep all curated docs): each stratum gets its own keep
    fraction; strata not listed keep ``default_fraction``. The
    threshold is a CASE over the (broadcast-free, in-plan) fraction
    map; the decision hash is the same engine-portable md5 as
    ``hash_sample``."""
    thr: Column = F.lit(float(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(float(frac))).otherwise(thr)
    return df.filter(sample_hash(F.col(key_col), seed) < thr)


def tfidf_topk(
    corpus: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` most characteristic terms per document by tf-idf —
    the classic relevance/keyword-extraction signal corpus curation
    uses for topic balancing and near-boilerplate spotting.

    ``weight = tf * (ln((N + 1) / (df + 1)) + 1)`` (the smoothed
    sklearn-style idf, public formula): ``tf`` is the raw in-document
    count of the normalized word, ``df`` its distinct-document
    frequency, ``N`` the corpus document count.

    Scale shape: one explode → hash-aggregate per ``(doc, term)``
    (compact keys), a second aggregate per term for ``df`` (reusing
    the exploded frame), a join back on the term string — vocab-sized,
    so AQE broadcasts it when small and sort-merges when not — and a
    per-doc WindowGroupLimit for the top-k. ``N`` rides along as a
    1-row broadcast, not a driver-side collect. Weights are rounded to
    6 decimals before ranking so the order is engine-stable (term
    string as tie-break).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from pyspark.sql.window import Window

    words = corpus.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda s: s != "",
            )
        ).alias("term"),
    )
    tf = words.groupBy("_doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    # two consumers (df_ aggregate + scoring join) and the words HOF
    # lambda defeats ReuseExchange — persist per the cache ledger rule
    from capex_data_pipeline_spark.cache import persisted

    tf = persisted(tf)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = corpus.select(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)) + 1.0
    )
    weighted = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("_doc").alias(id_col),
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 6).alias("weight"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("weight"), F.asc("term")
    )
    return (
        weighted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    budget: int = 100,
    seed: str = "s0",
) -> DataFrame:
    """Temperature-based mixture rebalancing: sample each group so the
    OUTPUT mixture follows ``p_i^alpha`` (renormalized) over the input
    group shares ``p_i`` — the standard multilingual/multi-source
    rebalancing rule (alpha < 1 up-samples rare groups, alpha = 1 is
    proportional, alpha = 0 is uniform). ``budget`` is the target
    output row count; a group whose target exceeds its size keeps
    everything (no replication), exactly like the epoch-capped variant
    training pipelines use.

    The per-group keep fraction is ``min(1, budget * w_i / c_i)`` with
    ``w_i = c_i^alpha / Σ c_j^alpha``; the keep decision is the
    engine-portable md5 ``sample_hash`` — deterministic and
    re-derivable, like every sampler here. One aggregate over the
    group key (tiny result), a broadcast join back, one filter — no
    extra shuffle of the data itself.

    Returns the kept rows plus ``keep_frac`` (rounded to 6 decimals).
    """
    # NULL groups are a real group: key the aggregate and the join on a
    # sentinel-coalesced copy, or null-keyed rows silently vanish in the
    # equi-join while still absorbing budget mass in the normalization
    gk = F.coalesce(F.col(group_col).cast("string"), F.lit("<null>"))
    tagged = df.withColumn("_gk", gk)
    counts = tagged.groupBy("_gk").agg(F.count(F.lit(1)).alias("_c"))
    total_w = counts.select(
        F.sum(F.pow(F.col("_c").cast("double"), F.lit(float(alpha)))).alias("_tw")
    )
    fracs = counts.crossJoin(F.broadcast(total_w)).select(
        "_gk",
        F.least(
            F.lit(1.0),
            F.lit(float(budget))
            * F.pow(F.col("_c").cast("double"), F.lit(float(alpha)))
            / F.col("_tw")
            / F.col("_c"),
        ).alias("_frac"),
    )
    return (
        tagged.join(F.broadcast(fracs), "_gk")
        .filter(sample_hash(F.col(key_col), seed) < F.col("_frac"))
        .withColumn("keep_frac", F.round(F.col("_frac"), 6))
        .drop("_frac", "_gk")
    )


def unigram_logprob_score(
    corpus: DataFrame,
    smoothing_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Language-model likelihood quality score — the CCNet-style
    perplexity filter in its closed-form unigram variant: score each
    document by the mean negative log-probability of its tokens under
    an add-k-smoothed unigram model fit on the corpus itself.  Low
    scores = head-of-distribution text, high scores = rare/garbled
    tokens; thresholding (or bucketing into head/middle/tail like
    CCNet) is the caller's policy.

    ``p(term) = (cf + k) / (T + k * (V + 1))`` with ``cf`` the corpus
    collection frequency, ``T`` total tokens, ``V`` vocab size (the
    ``+1`` reserves unseen-token mass, so the same model can score
    held-out text).

    Scale shape: two passes over the exploded words — one aggregate
    per term (the model: vocab-sized, compact keys), one per
    ``(doc, term)`` then per doc (the scoring) — joined on the term
    string; model scalars (T, V) ride along as a 1-row broadcast.
    Re-exploding beats persisting the exploded frame at 100 TB (it is
    larger than the corpus itself and streams straight out of the
    column scan).

    Returns ``(id_col, n_tokens, avg_nll)`` for non-empty documents
    (empty docs have no tokens to score and are excluded, as in CCNet).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    def words_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_doc"),
            F.explode(
                F.filter(
                    F.split(normalized_text(F.col(text_col)), " "),
                    lambda s: s != "",
                )
            ).alias("term"),
        )

    from capex_data_pipeline_spark.cache import persisted

    # vocab-sized with two consumers (scalar aggregate + scoring join)
    # — persisted per the SCALE.md ledger rule; without it the whole
    # model explode+aggregate runs twice (a third corpus scan)
    model = persisted(
        words_of(corpus).groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    )
    scalars = model.select(
        F.sum("cf").alias("_T"), F.count(F.lit(1)).alias("_V")
    )
    k = float(smoothing_k)
    nll = -F.log(
        (F.col("cf") + F.lit(k))
        / (F.col("_T") + F.lit(k) * (F.col("_V") + 1)).cast("double")
    )
    return (
        words_of(corpus)
        .groupBy("_doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(model, "term")
        .crossJoin(F.broadcast(scalars))
        .groupBy("_doc")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * nll) / F.sum("tf").cast("double"), 6
            ).alias("avg_nll"),
        )
        .select(F.col("_doc").alias(id_col), "n_tokens", "avg_nll")
    )


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    smoothing_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection signal (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling", public):
    score every corpus document by the mean per-token log-likelihood
    ratio between a TARGET-domain unigram model and the corpus ("raw")
    model.  High scores = looks like the target domain; selection
    (top-m, or Gumbel-perturbed resampling) is the caller's policy —
    the weight is the operator.

    Both models are add-k-smoothed over the UNION vocabulary, so every
    corpus token has non-zero probability under the target model and
    the ratio is always finite.

    Scale shape: the target set is small by definition (a domain
    exemplar corpus) — its model aggregate is cheap; the corpus pays
    the same two-pass explode/aggregate as
    :func:`unigram_logprob_score`, with the per-term log-ratio joined
    in on the compact term key.

    Returns ``(id_col, n_tokens, avg_loglift)`` for non-empty corpus
    documents; ``avg_loglift = mean_t[ln p_target(t) - ln p_raw(t)]``.
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    def words_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_doc"),
            F.explode(
                F.filter(
                    F.split(normalized_text(F.col(text_col)), " "),
                    lambda s: s != "",
                )
            ).alias("term"),
        )

    from capex_data_pipeline_spark.cache import persisted

    raw = words_of(corpus).groupBy("term").agg(F.count(F.lit(1)).alias("cf_raw"))
    tgt = words_of(target).groupBy("term").agg(F.count(F.lit(1)).alias("cf_tgt"))
    # union vocabulary: every term either model saw; vocab-sized with
    # two consumers (scalar aggregate + scoring join) — persisted per
    # the SCALE.md ledger rule, saving a full re-derivation of both
    # models (two extra corpus/target scans)
    vocab = persisted(
        raw.join(tgt, "term", "full").select(
            "term",
            F.coalesce(F.col("cf_raw"), F.lit(0)).alias("cf_raw"),
            F.coalesce(F.col("cf_tgt"), F.lit(0)).alias("cf_tgt"),
        )
    )
    scalars = vocab.select(
        F.sum("cf_raw").alias("_Tr"),
        F.sum("cf_tgt").alias("_Tt"),
        F.count(F.lit(1)).alias("_V"),
    )
    k = float(smoothing_k)
    loglift = F.log(
        (F.col("cf_tgt") + F.lit(k))
        / (F.col("_Tt") + F.lit(k) * (F.col("_V") + 1)).cast("double")
    ) - F.log(
        (F.col("cf_raw") + F.lit(k))
        / (F.col("_Tr") + F.lit(k) * (F.col("_V") + 1)).cast("double")
    )
    return (
        words_of(corpus)
        .groupBy("_doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(vocab, "term")
        .crossJoin(F.broadcast(scalars))
        .groupBy("_doc")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * loglift) / F.sum("tf").cast("double"), 6
            ).alias("avg_loglift"),
        )
        .select(F.col("_doc").alias(id_col), "n_tokens", "avg_loglift")
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str,
    group_col: str | None = None,
    seed: str = "s0",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis exponential-keys scheme ("A-ES"): each row gets
    rank key ``-ln(u) / w`` with ``u = sample_hash(key)`` and keeps the
    ``n`` SMALLEST, which is distributionally identical to drawing n
    items one-by-one with probability proportional to weight.  The
    corpus-curation shape "keep 1M documents, preferring high quality
    scores" — with the same engine-portability guarantee as
    ``hash_sample``: u comes from md5, so the same keys + weights +
    seed reproduce the same subset on any engine, at any partitioning.

    Non-positive or null weights are excluded (zero weight = never
    sampled; matching the limit of the scheme).  With ``group_col``
    the selection is per group (one WindowGroupLimit shuffle on the
    group key); otherwise global top-n — a ``sortWithinPartitions`` +
    per-partition head would also work, but n is assumed
    driver-reasonable, so a plain ``orderBy().limit()`` (TakeOrdered,
    no full sort materialization) is used.

    Returns the input rows plus ``_es_key`` (the rank key, useful for
    auditing the draw).
    """
    reserved = {"_es_key"} | ({"_rn"} if group_col is not None else set())
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"weighted_sample: input carries reserved column(s) "
            f"{sorted(clash)}, which the rank projection uses internally "
            "— drop or rename them"
        )
    w = F.col(weight_col).cast("double")
    u = sample_hash(F.col(key_col), seed)
    # u in [0,1): shift by 2^-33 so ln(0) can't occur (u=0 would mean
    # "certain winner"; the shift keeps it an overwhelming favorite
    # without the infinity)
    es = -F.log(u + F.lit(2.0 ** -33)) / w
    ranked = df.filter(w > 0).withColumn("_es_key", es)
    if group_col is None:
        return ranked.orderBy(F.col("_es_key").asc(), F.col(key_col).asc()).limit(n)
    from pyspark.sql.window import Window

    win = Window.partitionBy(group_col).orderBy(
        F.col("_es_key").asc(), F.col(key_col).asc()
    )
    return (
        ranked.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def bigram_pmi(
    corpus: DataFrame,
    min_pair_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    normalized-word pairs, ``pmi = log2(p(ab) / (p(a)·p(b)))`` with
    probabilities from corpus-wide counts — the signal that separates
    real phrases ("new york") from chance adjacency, used for
    tokenizer merges and phrase-aware indexing.

    Plan shape: one words-array projection feeds BOTH the unigram and
    bigram explode+aggregate (compact term keys; stopword hot keys are
    AQE's case); the vocab-sized unigram frame joins the pair frame
    twice (left word, right word) and is persisted for those two
    consumers; corpus totals ride along as a 1-row broadcast.
    ``min_pair_count`` prunes the noise tail where PMI estimates
    explode (the standard collocation cutoff).

    Returns (w1, w2, pair_count, pmi) for pairs with
    ``pair_count >= min_pair_count``.
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    base = corpus.select(
        F.filter(
            F.split(normalized_text(F.col(text_col)), " "), lambda s: s != ""
        ).alias("_w")
    )
    uni = (
        base.select(F.explode("_w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = persisted(uni)
    pairs_all = (
        base.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(_w) < 2 THEN array() ELSE transform("
                    "sequence(1, size(_w) - 1), i -> struct(_w[i-1] AS w1, _w[i] AS w2)) END"
                )
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    # totals must come from the UNPRUNED counts (probabilities are over
    # the whole corpus, not the surviving pairs); pairs_all feeds both
    # the total and the pruned join → persist (distinct-bigram-sized)
    pairs_all = persisted(pairs_all)
    pairs = pairs_all.filter(F.col("pair_count") >= min_pair_count)
    totals = uni.agg(F.sum("c").alias("_T")).crossJoin(
        pairs_all.agg(F.sum("pair_count").alias("_B"))
    )
    u1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("_c2"))
    pmi = F.log2(
        (F.col("pair_count") / F.col("_B"))
        / ((F.col("_c1") / F.col("_T")) * (F.col("_c2") / F.col("_T")))
    )
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
    )


def bm25_topk(
    corpus: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: rank documents against a bag-of-words query by
    the Okapi BM25 score (Robertson/Sparck Jones, public formula) —
    the standard lexical-retrieval half of corpus search and of
    retrieval-augmented dataset curation (e.g. finding the training
    documents most relevant to an eval prompt).

    ``score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
    (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))`` with the BM25+-style
    non-negative ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))``.

    Query terms go through the SAME normalization as corpus tokens
    (lowercase, non-alphanumerics to spaces, re-split) — a hyphenated
    or punctuated query term matches its normalized word sequence
    instead of silently matching nothing.

    Scale shape: the exploded words frame is filtered to the query
    terms BEFORE any shuffle, and document length rides THROUGH the
    explode (constant per doc, recovered with ``first`` in the
    (doc, term) aggregate) — so the corpus is tokenized exactly twice
    (a map-only size projection for N/avgdl, and the pruned explode)
    and nothing corpus-sized is ever joined downstream of the prune.
    ``N``/``avgdl`` ride along as a 1-row broadcast; ``df`` per query
    term is a ≤|query|-row broadcast. The global top-k is
    ``orderBy(...).limit(k)`` — Spark's TakeOrdered, a per-partition
    heap + driver merge, never a full sort. Scores are rounded to 6
    decimals before ranking (engine-stable order, ``id_col`` ASC
    tie-break); ``rank`` is assigned AFTER the limit, on k rows.

    Returns (id_col, n_matched_terms, score, rank), rank 1..k.
    """
    import re

    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from pyspark.sql.window import Window

    # normalize query terms exactly like corpus tokens (a term like
    # "Hash-Join" becomes the two tokens "hash", "join")
    qterms = sorted(
        {
            w
            for t in query_terms
            for w in re.sub(r"[^a-z0-9]+", " ", str(t).lower()).split()
        }
    )
    if not qterms:
        raise ValueError(
            "bm25_topk: query_terms must contain at least one "
            "alphanumeric term after normalization"
        )

    toks = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda s: s != ""
    )
    base = corpus.select(F.col(id_col).alias("_doc"), toks.alias("_w"))
    # N/avgdl: map-only size projection + 1-row aggregate broadcast
    stats = base.select(F.size("_w").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # query-term occurrences only — the corpus-sized explode is pruned
    # to |query| terms before the (doc, term) shuffle; dl tags along
    # (constant per doc) so no corpus-sized frame joins back later
    hits = base.select(
        "_doc", F.size("_w").alias("dl"), F.explode("_w").alias("term")
    ).filter(F.col("term").isin(qterms))
    tf = hits.groupBy("_doc", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    # two consumers (df aggregate + scoring) — persist per the ledger rule
    from capex_data_pipeline_spark.cache import persisted

    tf = persisted(tf)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.round(
                F.sum(idf * F.col("tf") * F.lit(float(k1) + 1.0) / denom), 6
            ).alias("score"),
        )
    )
    topk = (
        scored.orderBy(F.desc("score"), F.asc("_doc"))
        .limit(k)
        .withColumnRenamed("_doc", id_col)
    )
    # rank over k rows only (post-limit), single tiny partition is fine
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col, "n_matched_terms", "score", "rank"
    )


def bpe_pair_counts(
    corpus: DataFrame,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """First-round BPE merge statistics: frequency of each adjacent
    SYMBOL pair across the corpus, the quantity a byte-pair-encoding
    tokenizer trainer maximizes when picking its next merge (Sennrich
    et al., public algorithm). This implements the initial round
    (symbols = characters); subsequent rounds re-run it over re-split
    words after applying the chosen merge.

    The scale trick is the classic one: pair counting runs over the
    DISTINCT-WORD vocabulary weighted by word frequency — the corpus
    is touched once to build the (word, freq) table (one explode +
    hash aggregate on the word key), and the char-pair explode runs
    over the vocab-sized frame only. A corpus of 10^12 tokens with a
    10^6-word vocabulary pays the quadratic-ish char work on 10^6
    rows, not 10^12.

    Returns (s1, s2, pair_count) for pairs with
    ``pair_count >= min_count``, pair_count = Σ freq(word) over words
    containing the adjacent pair (counted per occurrence in the word).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    words = corpus.select(
        F.explode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda s: s != "",
            )
        ).alias("w")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = F.expr(
        "CASE WHEN length(w) < 2 THEN array() ELSE transform("
        "sequence(1, length(w) - 1), "
        "i -> struct(substring(w, i, 1) AS s1, substring(w, i + 1, 1) AS s2)"
        ") END"
    )
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .groupBy("p.s1", "p.s2")
        .agg(F.sum("freq").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )


def _cumulative_bound(fracs: list[float]) -> float:
    """Cumulative split bound with ONE rounding step: recover each
    fraction's decimal intent (``repr`` round-trips the shortest
    decimal, 0.7 → Decimal('0.7')), sum exactly in Decimal, round to
    float once. Repeated float addition — and even ``math.fsum``,
    whose exact 0.7+0.2 lands on the round-half-even midpoint — gives
    0.8999999999999999, one ulp under the 0.9 an external replay
    writes as a literal; this returns exactly ``float('0.9')``."""
    return float(sum(decimal.Decimal(repr(f)) for f in fracs))


def assign_split(
    df: DataFrame,
    group_col: str,
    splits: list[tuple[str, float]],
    seed: str = "s0",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split decision
    hashes the GROUP key (domain, source document, user...), so every
    row of one group lands in the same split and correlated rows —
    chunks of one document, near-dups within one crawl domain — never
    straddle the train/test boundary. Splitting on the row id instead
    is the classic eval-contamination bug this operator exists to
    prevent.

    ``splits`` is an ordered list of (name, fraction); fractions must
    be positive and sum to 1.0 (the last split absorbs the remainder
    of the hash space, so coverage is total by construction). The
    decision is the engine-portable md5 ``sample_hash`` of the group
    key: same groups + seed → same assignment, on any engine, at any
    partitioning, months later. Map-only — no shuffle, no join, no
    state; NULL groups hash as the '<null>' sentinel (one
    deterministic split, not a dropped row).
    """
    if len(splits) < 2:
        raise ValueError("assign_split: need at least 2 splits")
    names = [n for n, _ in splits]
    if len(set(names)) != len(names):
        raise ValueError("assign_split: split names must be unique")
    fracs = [f for _, f in splits]
    if any(f <= 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(
            "assign_split: fractions must be positive and sum to 1.0"
        )
    if split_col in df.columns:
        raise ValueError(
            f"assign_split: input already carries a {split_col!r} column"
        )
    u = sample_hash(F.col(group_col), seed)
    expr: Column = F.lit(names[-1])
    bounds: list[tuple[str, float]] = [
        (name, _cumulative_bound(fracs[: i + 1]))
        for i, (name, _) in enumerate(splits[:-1])
    ]
    for name, bound in reversed(bounds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_leakage_report(
    df: DataFrame, split_col: str, fingerprint_col: str
) -> DataFrame:
    """Cross-split exact-duplicate audit — the check run AFTER
    :func:`assign_split` (or any external split) to attest the
    boundary is clean: a fingerprint (e.g. ``md5`` of normalized
    text) that appears in more than one split is train→test leakage
    no group-wise assignment can prevent when the duplicate crosses
    group boundaries.

    All shuffles are on compact keys: one fingerprint-key aggregate
    finds multi-split fingerprints (a distinct, so the join back
    cannot fan out), a left join tags each row, and ONE split-key
    aggregate produces the report — split-count-sized output however
    large the corpus. NULL fingerprints never count as leaked (no
    identity to attest) but still count in ``n_rows``; a NULL split
    value is reported as its own row like any other (tag-before-
    aggregate, so no join key ever has to match NULL).

    Returns (split, n_rows, n_leaked_rows) ordered by split, counts
    as BIGINT.
    """
    leaked_fps = (
        df.groupBy(fingerprint_col)
        .agg(
            # never-NULL struct so a NULL split still counts as one
            # distinct side of a leak (profile_columns pattern)
            F.count_distinct(F.struct(F.col(split_col))).alias("_ns")
        )
        .filter(F.col("_ns") > 1)
        .select(fingerprint_col, F.lit(1).alias("_leak"))
    )
    return (
        df.select(split_col, fingerprint_col)
        .join(leaked_fps, on=fingerprint_col, how="left")
        .groupBy(split_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce(F.col("_leak"), F.lit(0)))
            .cast("long")
            .alias("n_leaked_rows"),
        )
        .select(
            F.col(split_col).alias("split"), "n_rows", "n_leaked_rows"
        )
        .orderBy("split")
    )


def bpe_encode_word(word: str, ranks: dict) -> list[str]:
    """Reference BPE encode for one word (Sennrich et al., public):
    repeatedly merge the leftmost occurrence of the lowest-rank pair
    until none applies. Merging one occurrence at a time is equivalent
    to the merge-all-occurrences formulation: the symbol a merge
    creates can only appear in LATER-rank pairs, so the current pair
    stays minimal until exhausted and occurrences resolve left to
    right either way."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_i = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    corpus: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merges table to encode documents — the
    completion of the tokenization story next to
    :func:`bpe_pair_counts` (which computes the statistics a trainer
    picks merges from). ``merges`` is the ORDERED merge list; earlier
    entries have priority (lower rank), exactly the merges.txt
    contract of the public BPE implementations.

    Scale shape (the same vocab-frame trick as the trainer): the
    corpus is touched once to build the positional word frame and
    once more for the distinct-word vocabulary; the per-word merge
    loop — genuinely iterative and data-dependent, inexpressible as a
    fixed Catalyst plan — runs in ONE Arrow-batched pandas UDF over
    the VOCAB frame only (10^12 corpus tokens with a 10^6-word vocab
    pay the Python loop on 10^6 rows), and the encodings join back to
    the positional frame on the compact word key. Per-doc assembly is
    one hash aggregate with an in-group sort — no window, no
    driver-side anything.

    Tokens are :func:`dedup.normalized_text` words (symbols are
    therefore [a-z0-9] and never contain the ' ' join delimiter).
    Returns one row per input document: (id_col, n_bpe_tokens,
    bpe_text) where bpe_text is the space-joined symbol stream of the
    whole document in word order; documents with no tokens encode to
    (0, ''). A DuckDB oracle replays the merge loop exactly via a
    recursive CTE (registry q107).
    """
    if not merges:
        raise ValueError("bpe_encode: merges must be non-empty")
    ranks = {pair: i for i, pair in enumerate(merges)}
    if len(ranks) != len(merges):
        raise ValueError("bpe_encode: duplicate merge pairs")

    @F.pandas_udf("array<string>")
    def _encode(words):  # pd.Series -> pd.Series (hints omitted: local scope)
        return words.map(lambda w: bpe_encode_word(w, ranks))

    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    toks = corpus.select(
        F.col(id_col).alias("_doc"),
        F.posexplode_outer(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda s: s != "",
            )
        ).alias("_pos", "_w"),
    )
    vocab = (
        toks.filter(F.col("_w").isNotNull())
        .select("_w")
        .distinct()
        .select("_w", _encode(F.col("_w")).alias("_enc"))
    )
    # collect_list skips NULL entries, so the posexplode_outer marker
    # row of an empty/NULL doc leaves an empty _ordered array → (0, '')
    entry = F.when(
        F.col("_w").isNotNull(), F.struct(F.col("_pos"), F.col("_enc"))
    )
    flat = F.flatten(F.transform(F.col("_ordered"), lambda x: x["_enc"]))
    return (
        toks.join(vocab, "_w", "left")
        .groupBy("_doc")
        .agg(F.array_sort(F.collect_list(entry)).alias("_ordered"))
        .select(
            F.col("_doc").alias(id_col),
            F.size(flat).cast("long").alias("n_bpe_tokens"),
            F.array_join(flat, " ").alias("bpe_text"),
        )
    )


def bpe_train(
    corpus: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Learn a BPE merges table from the corpus — the trainer between
    :func:`bpe_pair_counts` (one round of statistics) and
    :func:`bpe_encode` (application): per round, count adjacent
    symbol pairs over the vocab frame weighted by word frequency,
    pick the most frequent pair (ties: count DESC, s1 ASC, s2 ASC —
    deterministic and engine-replayable), and merge its non-overlapping
    occurrences left-to-right in every vocab word (Sennrich et al.,
    public algorithm).

    Scale shape: the corpus is touched ONCE for the (word, freq)
    vocabulary; every training round runs over the vocab-sized frame
    (pair explode + hash aggregate + a 1-ROW collect for the argmax —
    bounded by construction, like the IVF center pick), and the merge
    application is a map-side higher-order fold over each word's
    symbol array. Round lineage is cut with
    :func:`cache.plan_boundary` so plans stay shallow at any
    ``n_merges``. Stops early when no pair remains.

    Returns the learned table as a DataFrame (rank, s1, s2,
    pair_count) — by definition tokenizer-sized, suitable to feed
    straight into :func:`bpe_encode` as
    ``[(r.s1, r.s2) for r in ...collect()]``.
    """
    if n_merges < 1:
        raise ValueError("bpe_train: n_merges must be >= 1")
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    spark = corpus.sparkSession
    words = corpus.select(
        F.explode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda s: s != "",
            )
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
    )
    vocab = _boundary(vocab, eager=True, label="bpe-train")

    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS s1, "
                        "element_at(syms, i + 1) AS s2))"
                    )
                ).alias("p"),
            )
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(
            F.desc("cnt"), F.asc("s1"), F.asc("s2")
        ).limit(1).collect()
        if not best:
            break
        s1, s2, cnt = best[0]["s1"], best[0]["s2"], int(best[0]["cnt"])
        merges.append((r, s1, s2, cnt))
        # left-to-right non-overlapping merge as a fold: append, or
        # replace the accumulator's tail when it ends with (s1) and
        # the element is s2. try_element_at: NULL (falsy) on empty acc.
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.try_element_at(acc, F.lit(-1)) == F.lit(s1))
                & (x == F.lit(s2)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(s1 + s2)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = _boundary(
            vocab.withColumn("syms", merged), eager=True, label="bpe-train"
        )
    return spark.createDataFrame(
        merges, "rank int, s1 string, s2 string, pair_count long"
    )


def trigram_lm_topk(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    min_context: int = 5,
    topk: int = 3,
    decimals: int = 6,
) -> DataFrame:
    """Trigram language model with add-α smoothing: count every word
    trigram across the corpus, derive context counts as Σ_w3 of the
    trigram counts (so conditional probabilities sum to 1 over the
    vocabulary), and return the ``topk`` most likely next words per
    context that occurs at least ``min_context`` times —
    P(w3 | w1 w2) = (c(w1w2w3) + α) / (c(w1w2) + α·V).

    This is the KenLM-style count-collection pass every n-gram LM /
    perplexity-filtering pipeline starts from (CCNet scores documents
    with exactly such a model). Scale shape: trigrams are built
    map-side from each document's token array (no self-join, no
    window over token rows), then ONE hash aggregate on compact
    (w1, w2, w3) string keys with map-side partial counts; context
    counts and the top-k window both run on the already-tiny counts
    frame. Vocabulary size V is one distinct-count aggregate.

    Returns (w1, w2, w3, tri_count, ctx_count, prob, rank).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda w: w != "",
    )
    toks = df.select(words.alias("_ws"))
    tris = toks.select(
        F.explode(
            F.when(
                F.size("_ws") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("_ws") - 2),
                    lambda i: F.struct(
                        F.element_at("_ws", i).alias("w1"),
                        F.element_at("_ws", i + 1).alias("w2"),
                        F.element_at("_ws", i + 2).alias("w3"),
                    ),
                ),
            ).otherwise(F.array().cast(
                "array<struct<w1:string,w2:string,w3:string>>"
            ))
        ).alias("_t")
    ).select("_t.w1", "_t.w2", "_t.w3")
    c3 = tris.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("tri_count")
    )
    c2 = c3.groupBy("w1", "w2").agg(F.sum("tri_count").alias("ctx_count"))
    vocab = toks.select(F.explode("_ws").alias("_w")).agg(
        F.countDistinct("_w").alias("_v")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("w1", "w2").orderBy(
        F.desc("tri_count"), F.asc("w3")
    )
    return (
        c3.join(c2, ["w1", "w2"])
        .filter(F.col("ctx_count") >= min_context)
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "prob",
            F.round(
                (F.col("tri_count") + F.lit(alpha))
                / (F.col("ctx_count") + F.lit(alpha) * F.col("_v")),
                decimals,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "w1", "w2", "w3", "tri_count", "ctx_count", "prob", "rank"
        )
    )


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    m_bits: int = 1 << 18,
    n_hashes: int = 3,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter train/test decontamination: the scale path for
    when the benchmark's exact shingle-digest set is too large to
    broadcast (`contamination_check`'s shape) — membership is tested
    against a fixed-size Bloom bitset instead: a corpus shingle is
    flagged iff ALL ``n_hashes`` of its hash positions are set by some
    benchmark shingle. False positives are the standard Bloom
    trade-off ((1 - e^(-k·B/m))^k); false negatives are impossible, so
    a clean verdict is trustworthy — exactly the guarantee a
    decontamination gate needs.

    Hashing is engine-portable md5 (position_j = md5(j + '|' +
    shingle) mod m over the first 15 hex chars), so an independent
    engine reproduces the filter — including its false positives —
    bit-for-bit. The bitset is materialized as its ≤ min(m_bits,
    n_hashes·B) distinct set positions and broadcast; at 100 TB you'd
    pack the same positions into an m-bit array rider (32 KiB at the
    default m=2^18), but either representation caps the broadcast at a
    CONSTANT independent of benchmark text size — the property the
    exact digest set lacks. The corpus pays ONE scan: shingle →
    n_hashes positions map-side, broadcast position join, two compact
    hash aggregates.

    Returns (id_col, n_shingles, n_flagged, contaminated).
    """
    from capex_data_pipeline_spark.extensions.dedup import _shingles_expr

    def shingles() -> Column:
        return F.filter(_shingles_expr(text_col, k), lambda s: s != "")

    def positions(s: Column) -> Column:
        return F.transform(
            F.array(*[F.lit(str(j)) for j in range(n_hashes)]),
            lambda j: F.conv(
                F.substring(F.md5(F.concat(j, F.lit("|"), s)), 1, 15),
                16,
                10,
            ).cast("long")
            % m_bits,
        )

    bench_pos = (
        benchmark.select(F.explode(shingles()).alias("_s"))
        .distinct()
        .select(F.explode(positions(F.col("_s"))).alias("_p"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corp = corpus.select(
        F.col(id_col), F.explode_outer(shingles()).alias("_s")
    )
    per_pos = corp.select(
        id_col,
        "_s",
        F.explode_outer(
            F.when(F.col("_s").isNotNull(), positions(F.col("_s")))
        ).alias("_p"),
    )
    per_shingle = (
        per_pos.join(F.broadcast(bench_pos), "_p", "left")
        .groupBy(id_col, "_s")
        .agg(F.sum("_hit").alias("_nh"))
    )
    return (
        per_shingle.groupBy(id_col)
        .agg(
            F.count("_s").alias("n_shingles"),
            F.sum(
                F.when(F.col("_nh") == n_hashes, 1).otherwise(0)
            ).alias("n_flagged"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_flagged",
            (F.col("n_flagged") >= min_overlap).alias("contaminated"),
        )
    )


def term_zipf_stats(
    df: DataFrame,
    text_col: str = "text",
    topk: int = 20,
    decimals: int = 6,
) -> DataFrame:
    """Tokenizer-diagnostic term statistics: the ``topk`` most frequent
    words with their rank, frequency, CUMULATIVE token-coverage share
    (what fraction of all corpus tokens the top-r words absorb — the
    curve that sizes a vocabulary), and the corpus's fitted Zipf slope
    (OLS of log10 freq on log10 rank over the top-k frame; natural
    text sits near -1, synthetic/TEMPLATED corpora flatten — a cheap
    generated-text detector).

    Scale shape: ONE hash aggregate on compact word keys builds the
    vocabulary frame; ranks, the coverage window, and the regression
    all run on the vocab/topk frames (vocabulary-sized, never
    corpus-sized). Total token count rides along as a 1-row broadcast.

    Returns (rank, term, freq, cum_share, zipf_slope) — slope repeated
    per row (single-frame contract-friendly output).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from pyspark.sql.window import Window

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda w: w != ""
    )
    vocab = (
        df.select(F.explode(words).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = vocab.agg(F.sum("freq").alias("_tot"))
    # top-k candidate pick as TakeOrderedAndProject (per-partition heap
    # + driver merge), NOT a global row_number over the full vocabulary
    # — same shape as bm25_topk; rank over the <=topk survivors only
    ranked = (
        vocab.orderBy(F.desc("freq"), F.asc("_w"))
        .limit(topk)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("freq"), F.asc("_w"))
            ),
        )
    )
    cum = F.sum("freq").over(
        Window.orderBy("rank").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    topf = ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        F.col("_w").alias("term"),
        "freq",
        F.round(cum / F.col("_tot"), decimals).alias("cum_share"),
        F.log10(F.col("rank").cast("double")).alias("_lx"),
        F.log10(F.col("freq").cast("double")).alias("_ly"),
    )
    slope = topf.agg(
        F.round(
            F.covar_pop("_ly", "_lx") / F.var_pop("_lx"), decimals
        ).alias("zipf_slope")
    )
    return topf.crossJoin(F.broadcast(slope)).select(
        "rank", "term", "freq", "cum_share", "zipf_slope"
    )


def mixture_schedule(
    df: DataFrame,
    weights: dict[str, float],
    default_weight: float = 0.1,
    steps: int = 100,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "s0",
    decimals: int = 6,
) -> DataFrame:
    """Deterministic training-order interleave (stride scheduling):
    given per-source mixture weights, emit the first ``steps`` docs of
    the global training stream in which source s receives a share ∝
    ``weights[s]`` of every prefix — the data-ORDER half of corpus
    mixing (``mixture_sample`` decides how much of each source
    survives; this decides WHEN each surviving doc is seen, the
    schedule Dolma/olmo-style training configs pin).

    Within a source, docs are ordered by the engine-portable md5
    ``sample_hash`` (a deterministic shuffle); doc k of source s runs
    at virtual time (k - 0.5) / w_s, and the global stream is the
    merge of all sources by virtual time — classic stride scheduling,
    so shares converge to the weights in every prefix, not just in
    expectation.

    Scale shape: the per-source rank is one window on the (source)
    key; the ``steps``-row prefix is a TakeOrdered (no global sort);
    the final step numbering is a window over the already-limited
    ``steps``-row frame. Deterministic, re-derivable, engine-portable.

    Returns (step, source, doc key, vtime).
    """
    if steps < 1:
        raise ValueError(f"steps must be >= 1, got {steps}")
    for s, w in weights.items():
        if w <= 0:
            raise ValueError(f"weight for {s!r} must be > 0, got {w}")
    if default_weight <= 0:
        raise ValueError(f"default_weight must be > 0: {default_weight}")
    from pyspark.sql.window import Window

    gk = F.coalesce(F.col(group_col).cast("string"), F.lit("<null>"))
    w_expr = F.lit(float(default_weight))
    for s, w in sorted(weights.items()):
        w_expr = F.when(gk == s, F.lit(float(w))).otherwise(w_expr)
    rn = F.row_number().over(
        Window.partitionBy(gk).orderBy(
            sample_hash(F.col(key_col), seed).asc(), F.col(key_col).asc()
        )
    )
    timed = df.select(
        gk.alias("source"),
        F.col(key_col),
        ((rn.cast("double") - F.lit(0.5)) / w_expr).alias("_vt"),
    )
    prefix = timed.orderBy(
        F.col("_vt").asc(), F.col("source").asc(), F.col(key_col).asc()
    ).limit(steps)
    step = F.row_number().over(
        Window.orderBy(
            F.col("_vt").asc(), F.col("source").asc(), F.col(key_col).asc()
        )
    )
    return prefix.select(
        step.alias("step"),
        "source",
        key_col,
        F.round("_vt", decimals).alias("vtime"),
    )


def corpus_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-level diff between two corpus snapshots: full outer
    join on the document key comparing normalized-text fingerprints —
    the incremental-pipeline primitive that decides what downstream
    work (re-chunk, re-embed, re-dedup) a new crawl actually requires
    (CDC q103 maintains a table from a changelog; this DERIVES the
    changelog from two materialized versions).

    Returns one row per non-identical document:
    (id_col, status ∈ {added, removed, changed}) — unchanged docs are
    omitted (at 100 TB they are the overwhelming majority; emitting
    them would make the diff as big as the corpus).

    Scale shape: fingerprints are md5 digests computed map-side; the
    single full-outer join shuffles (id, 32-byte digest) pairs only,
    never text.
    """
    from capex_data_pipeline_spark.extensions.dedup import text_fingerprint

    o = old.select(
        F.col(id_col).alias("_id"),
        text_fingerprint(F.col(text_col)).alias("_ofp"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        text_fingerprint(F.col(text_col)).alias("_nfp"),
    )
    joined = o.join(n, "_id", "full_outer")
    return (
        joined.withColumn(
            "status",
            F.when(F.col("_ofp").isNull(), F.lit("added"))
            .when(F.col("_nfp").isNull(), F.lit("removed"))
            .when(F.col("_ofp") != F.col("_nfp"), F.lit("changed")),
        )
        .filter(F.col("status").isNotNull())
        .select(F.col("_id").alias(id_col), "status")
    )


def trigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    decimals: int = 6,
) -> DataFrame:
    """Score every document's perplexity under the corpus's own
    add-α-smoothed trigram language model — the CCNet / KenLM-style
    perplexity filter (documents whose text is unlikely under a
    reference LM are boilerplate, gibberish, or the wrong register):
    per-trigram log-probability ln((c₃+α)/(c₂+α·V)) with counts from
    ``trigram_lm_topk``'s collection pass, aggregated per document as
    the mean negative log-likelihood and its exp (the perplexity).

    Scale shape: the corpus is tokenized ONCE into a persisted
    (id, w1, w2, w3) trigram frame; counts c₃ (and c₂ as its Σ_w3
    rollup) come from ONE hash aggregate over that same frame, so the
    model build adds no second corpus scan. Scoring is two shuffle
    joins on compact word-triple/pair keys (observed trigrams always
    hit — the model was counted from the same corpus, so the join is
    inner, never a smoothing-miss lookup) plus one per-document
    aggregate. V rides the plan as one literal.

    Cross-engine determinism: avg(lp) is rounded to ``decimals``
    before the exp, so both engines exponentiate the same value;
    ``ln``/``exp`` are the same libm crossings q97/q129 already make.

    Returns ``(id_col, n_trigrams, avg_nll, ppl)`` for every document
    with at least one trigram (≥ 3 normalized tokens); shorter
    documents have no defined LM score and are omitted.
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda w: w != ""
    )
    toks = df.select(F.col(id_col), words.alias("_ws"))
    tris = persisted(
        toks.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size("_ws") >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_ws") - 2),
                        lambda i: F.struct(
                            F.element_at("_ws", i).alias("w1"),
                            F.element_at("_ws", i + 1).alias("w2"),
                            F.element_at("_ws", i + 2).alias("w3"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast(
                        "array<struct<w1:string,w2:string,w3:string>>"
                    )
                )
            ).alias("_t"),
        ).select(id_col, "_t.w1", "_t.w2", "_t.w3")
    )
    c3 = tris.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("_c3")
    )
    c2 = c3.groupBy("w1", "w2").agg(F.sum("_c3").alias("_c2"))
    v = (
        toks.select(F.explode("_ws").alias("_w"))
        .agg(F.countDistinct("_w").alias("_v"))
        .collect()[0]["_v"]
    )
    lp = F.ln(
        (F.col("_c3") + F.lit(alpha))
        / (F.col("_c2") + F.lit(alpha) * F.lit(float(v)))
    )
    scored = (
        tris.join(c3, ["w1", "w2", "w3"])
        .join(c2, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            (F.round(-F.avg(lp), decimals) + F.lit(0.0)).alias("avg_nll"),
        )
    )
    return scored.select(
        id_col,
        "n_trigrams",
        "avg_nll",
        (F.round(F.exp("avg_nll"), decimals) + F.lit(0.0)).alias("ppl"),
    )


def phrase_match_counts(
    df: DataFrame,
    phrase: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact consecutive-phrase search: count the occurrences of
    ``phrase`` (a list of normalized words) in every document's token
    stream and report each matching document with its match count and
    the first match's 1-based token position — the positional-query
    primitive under phrase filters, n-gram blocklists, and
    "documents quoting X" corpus carves.

    Scale shape: MAP-ONLY, two tiers. Tier 1 is a NATIVE
    whole-stage-codegen substring prefilter: the normalized text is
    single-space-joined tokens, so space-padded containment of
    ``' w1 w2 ... wk '`` is EXACTLY token-adjacent phrase presence —
    the corpus-wide pass stays JVM string matching, no interpreted
    lambdas. Tier 2 runs the positional higher-order ``filter``
    (candidate start positions × k equality probes) only on the
    matching documents, to produce counts and positions — its
    interpreted-lambda cost (~µs/position, the q97 lesson) is paid on
    matches only, and its expression is materialized ONCE per doc in
    a first select (field extraction in a second select — extracting
    from the expression directly would re-run the filter per output
    column). No posexplode, no postings shuffle, no join. A standing
    inverted positional index only beats this when the same corpus
    serves MANY ad-hoc phrase queries; for pipeline-style single-pass
    filtering the scan is strictly cheaper (the index build itself
    costs a corpus-sized shuffle).

    Returns ``(id_col, n_matches, first_pos)``, matching docs only.
    """
    if not phrase or any(not w for w in phrase):
        raise ValueError(f"phrase must be non-empty words, got {phrase!r}")
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    k = len(phrase)
    needle = " " + " ".join(phrase) + " "
    base = spread_few_splits(df.select(F.col(id_col), F.col(text_col)))
    cand = base.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("_nt")
    ).filter(
        F.concat(F.lit(" "), F.col("_nt"), F.lit(" ")).contains(needle)
    )
    words = F.filter(F.split(F.col("_nt"), " "), lambda w: w != "")

    def _is_match(i: Column) -> Column:
        cond = F.lit(True)
        for j, w in enumerate(phrase):
            cond = cond & (F.element_at("_ws", i + j) == F.lit(w))
        return cond

    starts = F.filter(
        F.sequence(F.lit(1), F.size("_ws") - (k - 1)), _is_match
    )
    # nondeterministic barrier for the same reason as
    # proximity_match_counts: without it the n_matches predicate
    # substitutes the start-position filter into the scan-side
    # Filter (re-evaluated, and below any spread exchange)
    return (
        cand.select(F.col(id_col), words.alias("_ws"))
        .filter(F.size("_ws") >= k)
        .select(
            F.col(id_col),
            starts.alias("_st"),
            F.monotonically_increasing_id().alias("_nd"),
        )
        .select(
            F.col(id_col),
            F.size("_st").alias("n_matches"),
            F.element_at("_st", 1).alias("first_pos"),
            F.col("_nd"),
        )
        .filter(F.col("n_matches") > 0)
        .drop("_nd")
    )


def temperature_resample(
    df: DataFrame,
    temperature: float,
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "s0",
    decimals: int = 6,
) -> DataFrame:
    """Temperature-based mixture resampling: downsample each source so
    the corpus's source distribution moves from its natural shares
    ``s_i`` toward ``s_i^(1/T)`` (normalized) — T=1 keeps the natural
    mix, T→∞ approaches uniform. This is THE standard multilingual /
    multi-source training-mixture flattening rule (mT5, XLM-R, the
    Pile all reweight by exactly this exponent), expressed as
    filtering: per-source keep-rate ``r_i ∝ s_i^(1/T − 1)`` scaled so
    the most-upweighted source keeps everything (pure filtering can
    only downsample; upsampling is epoch repetition, out of scope).

    Scale shape: ONE tiny per-source count aggregate, rates derived on
    that sources-sized frame (1-row total and max broadcasts), then a
    broadcast join back and the deterministic ``sample_hash`` filter —
    the corpus itself pays one scan and zero shuffles. Every rate is
    rounded engine-side to ``decimals`` so an independent engine
    re-derives the exact same keep set. Rows with NULL ``source_col``
    are dropped (no mixture lane to belong to).

    Returns the kept rows with their source's ``rate`` appended.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    expo = 1.0 / float(temperature) - 1.0
    cnt = df.filter(F.col(source_col).isNotNull()).groupBy(source_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    tot = cnt.agg(F.sum("_n").alias("_t"))
    w = cnt.crossJoin(F.broadcast(tot)).select(
        source_col,
        (
            F.round(
                F.pow(F.round(F.col("_n") / F.col("_t"), decimals), expo),
                decimals,
            )
            + F.lit(0.0)
        ).alias("_w"),
    )
    mx = w.agg(F.max("_w").alias("_mw"))
    rates = w.crossJoin(F.broadcast(mx)).select(
        source_col,
        (F.round(F.col("_w") / F.col("_mw"), decimals) + F.lit(0.0)).alias(
            "rate"
        ),
    )
    return df.join(F.broadcast(rates), source_col).filter(
        sample_hash(F.col(key_col), seed) < F.col("rate")
    )


def class_tfidf_topk(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    topk: int = 5,
    decimals: int = 6,
) -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF formula): the terms
    that make each GROUP distinctive — treat every group (source,
    cluster, topic) as one concatenated pseudo-document, weight each
    term by its in-group frequency times ``ln(1 + A / f_t)`` where
    ``f_t`` is the term's corpus-wide frequency and ``A`` the average
    per-group token count, and keep the ``topk`` highest-scoring terms
    per group. The standard "label this cluster / characterize this
    source" diagnostic over a curated corpus.

    Scale shape: ONE explode + hash aggregate on compact
    (group, term) keys builds the per-group counts; corpus-wide term
    frequencies and the A scalar derive from THAT frame (vocab-sized,
    no second corpus scan); one vocab-key join and a per-group top-k
    window finish on frames proportional to the vocabulary, not the
    corpus. Ties break term-ascending; NULL groups are dropped.

    Returns (group_col, term, tf, score, rank).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from pyspark.sql.window import Window

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda w: w != ""
    )
    gt = (
        df.filter(F.col(group_col).isNotNull())
        .select(F.col(group_col), F.explode(words).alias("term"))
        .groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ft = gt.groupBy("term").agg(F.sum("tf").alias("_ft"))
    a = gt.groupBy(group_col).agg(F.sum("tf").alias("_gn")).agg(
        (F.round(F.avg("_gn"), decimals) + F.lit(0.0)).alias("_a")
    )
    scored = (
        gt.join(ft, "term")
        .crossJoin(F.broadcast(a))
        .select(
            group_col,
            "term",
            "tf",
            (
                F.round(
                    F.col("tf")
                    * F.ln(F.lit(1.0) + F.col("_a") / F.col("_ft")),
                    decimals,
                )
                + F.lit(0.0)
            ).alias("score"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= topk
    )


def backoff_perplexity(
    corpus: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff: float = 0.4,
    alpha: float = 0.5,
    decimals: int = 6,
) -> DataFrame:
    """Cross-corpus perplexity with stupid backoff (Brants et al.
    2007): a trigram LM counted on ``train`` (the clean reference
    slice — CCNet uses Wikipedia) scores EVERY document of ``corpus``,
    so unseen n-grams are the norm, not the exception:

        S(w3|w1,w2) = c123/c12             if the trigram was seen
                    = b · S(w3|w2)          else
        S(w3|w2)    = c23/c2               if the bigram was seen
                    = b · S(w3)             else
        S(w3)       = (c3+α)/(N+α·V)        (smoothed unigram — always
                                             positive, OOV included)

    This closes q130's scores-itself caveat (there every trigram hits
    its own counts); here the backoff chain and the OOV floor do real
    work on every out-of-slice document.

    Scale shape: the train slice pays one tokenize pass into trigram/
    bigram/unigram count frames (compact word-key aggregates); the
    corpus pays one tokenize pass into a trigram frame that LEFT-joins
    the three count frames on compact keys, then one per-document
    aggregate. N and V ride the plan as literals. avg_nll is rounded
    before the exp (q130's determinism discipline); the per-trigram
    branch is exact CASE logic, no float comparisons.

    Returns ``(id_col, n_trigrams, n_hit3, avg_nll, ppl)`` for corpus
    documents with ≥ 1 trigram — ``n_hit3`` (trigrams found in the
    train LM) makes the backoff rate auditable per document.
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    def _words(frame: DataFrame, with_id: bool) -> DataFrame:
        ws = F.filter(
            F.split(normalized_text(F.col(text_col)), " "),
            lambda w: w != "",
        )
        cols = ([F.col(id_col)] if with_id else []) + [ws.alias("_ws")]
        return frame.select(*cols)

    def _tris(toks: DataFrame, with_id: bool) -> DataFrame:
        t = toks.select(
            *([id_col] if with_id else []),
            F.explode(
                F.when(
                    F.size("_ws") >= 3,
                    F.transform(
                        F.sequence(F.lit(1), F.size("_ws") - 2),
                        lambda i: F.struct(
                            F.element_at("_ws", i).alias("w1"),
                            F.element_at("_ws", i + 1).alias("w2"),
                            F.element_at("_ws", i + 2).alias("w3"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast(
                        "array<struct<w1:string,w2:string,w3:string>>"
                    )
                )
            ).alias("_t"),
        )
        return t.select(
            *([id_col] if with_id else []), "_t.w1", "_t.w2", "_t.w3"
        )

    ttoks = _words(train, with_id=False)
    ttri = _tris(ttoks, with_id=False)
    c123 = ttri.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("_c123")
    )
    c12 = c123.groupBy("w1", "w2").agg(F.sum("_c123").alias("_c12"))
    uni = ttoks.select(F.explode("_ws").alias("_w"))
    c1 = uni.groupBy("_w").agg(F.count(F.lit(1)).alias("_c1"))
    # bigram counts over the train TOKEN stream (not trigram contexts:
    # the backoff bigram model is its own count space)
    big = ttoks.select(
        F.explode(
            F.when(
                F.size("_ws") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_ws") - 1),
                    lambda i: F.struct(
                        F.element_at("_ws", i).alias("wa"),
                        F.element_at("_ws", i + 1).alias("wb"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<wa:string,wb:string>>")
            )
        ).alias("_b")
    ).select("_b.wa", "_b.wb")
    c23 = big.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("_c23"))
    c2 = c1.select(F.col("_w").alias("wa"), F.col("_c1").alias("_c2"))

    nv = uni.agg(
        F.count(F.lit(1)).alias("_n"), F.countDistinct("_w").alias("_v")
    ).collect()[0]
    n_tok, v = float(nv["_n"]), float(nv["_v"])
    if n_tok == 0:
        raise ValueError("backoff_perplexity: empty train slice")

    ctri = _tris(_words(corpus, with_id=True), with_id=True)
    joined = (
        ctri.join(c123, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(
            c23,
            (F.col("w2") == F.col("wa")) & (F.col("w3") == F.col("wb")),
            "left",
        )
        .drop("wa", "wb")
        .join(
            c2.select(F.col("wa").alias("w2"), "_c2"), ["w2"], "left"
        )
        .join(
            c1.select(F.col("_w").alias("w3"), "_c1"), ["w3"], "left"
        )
    )
    b = float(backoff)
    s1 = (F.coalesce(F.col("_c1"), F.lit(0)) + F.lit(alpha)) / F.lit(
        n_tok + alpha * v
    )
    s2 = F.when(
        F.col("_c23").isNotNull(), F.col("_c23") / F.col("_c2")
    ).otherwise(F.lit(b) * s1)
    s3 = F.when(
        F.col("_c123").isNotNull(), F.col("_c123") / F.col("_c12")
    ).otherwise(F.lit(b) * s2)
    scored = joined.select(
        id_col,
        F.ln(s3).alias("_lp"),
        F.col("_c123").isNotNull().cast("int").alias("_hit3"),
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("_hit3").alias("n_hit3"),
        (F.round(-F.avg("_lp"), decimals) + F.lit(0.0)).alias("avg_nll"),
    )
    return agg.select(
        id_col,
        "n_trigrams",
        "n_hit3",
        "avg_nll",
        (F.round(F.exp("avg_nll"), decimals) + F.lit(0.0)).alias("ppl"),
    )


def word_dropout(
    df: DataFrame,
    p: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "s0",
) -> DataFrame:
    """Deterministic word-dropout augmentation: drop each normalized
    token with probability ``p``, decided by the md5 hash of
    ``(seed, doc id, 1-based position)`` — the denoising-objective /
    robustness augmentation (word dropout in seq2seq denoisers, SDA)
    with the same re-derivability contract as the sampling family:
    same corpus + seed → the same augmented text on any engine, any
    partitioning, any run.

    Scale shape: MAP-ONLY — one indexed higher-order ``filter`` over
    each document's token array plus an ``array_join``; no shuffle,
    no Python. The per-token md5 runs in an interpreted lambda
    (~µs/token, the q131 lesson), so the pass is linear with an
    honest constant — fine for a run-once augmentation pass; it is
    NOT placed on any per-query hot path.

    Returns (id_col, text_aug, n_tokens, n_dropped).
    """
    if not 0.0 <= p < 1.0:
        raise ValueError(f"p must be in [0, 1), got {p}")
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "), lambda w: w != ""
    )

    def _keep(w: Column, i: Column) -> Column:
        u = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(seed),
                        F.col(id_col).cast("string"),
                        (i + 1).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double") / F.lit(float(_HASH_SPACE))
        return u >= F.lit(float(p))

    return (
        df.select(F.col(id_col), words.alias("_ws"))
        .select(F.col(id_col), "_ws", F.filter("_ws", _keep).alias("_kept"))
        .select(
            F.col(id_col),
            F.array_join("_kept", " ").alias("text_aug"),
            F.size("_ws").alias("n_tokens"),
            (F.size("_ws") - F.size("_kept")).alias("n_dropped"),
        )
    )


# =====================================================================
# Unigram-LM (SentencePiece-style) tokenizer training
# =====================================================================


def unigram_best_segmentation(
    word: str, costs: "dict[str, float]", max_piece_len: int = 4
) -> "str | None":
    """Min-cost segmentation of one word under a unigram piece model
    (cost = -ln p, so min cost == max likelihood): forward DP over
    end positions; state = (accumulated cost, '|'-prefixed piece
    path). Ties break on the SMALLER path string (binary compare) —
    the same (cost, path) ordering the q145 oracle's enumerate-all-
    segmentations + min replays, and the two agree exactly: equal
    float costs compose exactly under addition of identical piece
    costs, and two prefixes covering the same characters first differ
    at a '|' vs letter position, which an identical suffix cannot
    flip. Returns None when the word is not coverable (cannot happen
    while all its single chars are in ``costs``)."""
    best: "dict[int, tuple[float, str]]" = {0: (0.0, "")}
    for pos in range(1, len(word) + 1):
        cands = []
        for plen in range(1, min(max_piece_len, pos) + 1):
            prev = best.get(pos - plen)
            if prev is None:
                continue
            cost = costs.get(word[pos - plen : pos])
            if cost is None:
                continue
            cands.append((prev[0] + cost, prev[1] + "|" + word[pos - plen : pos]))
        if cands:
            best[pos] = min(cands)
    state = best.get(len(word))
    return state[1] if state else None


def unigram_train(
    corpus: DataFrame,
    vocab_size: int = 24,
    rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    seed_size: int = 100_000,
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """Unigram-LM tokenizer trainer (the SentencePiece family — Kudo
    2018 — in its deterministic Viterbi-EM form): seed the piece
    vocabulary with every substring of length <= ``max_piece_len``
    over the DISTINCT-word frame (counts frequency-weighted over all
    occurrence positions), then run ``rounds`` hard-EM iterations —
    E-step: min-cost (max-likelihood) segmentation of each distinct
    word under the current piece costs; M-step: re-estimate piece
    probabilities from the frequency-weighted piece counts along
    those best paths (pieces used by no best path drop out, exactly
    as in SentencePiece's EM) — and finally prune to the
    ``vocab_size`` highest-count pieces, ALWAYS retaining single
    characters (the coverage guarantee: every word stays
    segmentable). Returns (rank, piece, count, prob) with prob
    renormalized over the kept vocabulary.

    Scale shape — the bpe_train vocab-frame economics
    (extensions/corpus.py bpe_train): the corpus is tokenized ONCE
    into a distinct-(word, freq) frame and every EM round runs over
    that frame, never the corpus; the seed substring explode is
    native (flatten/transform HOFs) with a TakeOrdered prune to
    ``seed_size`` (plus all single chars) before anything crosses to
    Python; each E-step is ONE Arrow-batched pandas UDF pass over
    distinct words with the piece-cost map in the closure (model
    state is vocab-sized — the k-means-centers pattern, collected
    once per round, ~16 bytes/piece at the SentencePiece-default 1M
    seed); each M-step is one compact-key hash aggregate. Words
    longer than ``max_word_len`` are excluded from training (the
    SentencePiece corpus-filter analog; they are still segmentable by
    the trained model via single-char coverage).

    Engine-portability: piece costs are round(-ln(count/total),
    ``decimals``) — quantized model state, the logreg convention —
    and the q145 oracle replays seed, both EM rounds, the prune, and
    the renormalization in unrolled CTEs (the E-step as a recursive
    enumerate-all-segmentations CTE + min over (cost, path)).
    """
    import math

    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1: {rounds}")
    if max_piece_len < 1 or vocab_size < 1:
        raise ValueError("max_piece_len and vocab_size must be >= 1")

    words = (
        corpus.select(
            F.explode(
                F.filter(
                    F.split(normalized_text(F.col(text_col)), " "),
                    lambda w: w != "",
                )
            ).alias("word")
        )
        .filter(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from capex_data_pipeline_spark.cache import persisted

    words = persisted(words)

    # --- seed: all substrings up to max_piece_len, freq-weighted over
    # occurrence positions, native HOF explode
    subs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.length("word") - 1),
                lambda s: F.transform(
                    F.sequence(F.lit(1), F.lit(max_piece_len)),
                    lambda l: F.when(
                        s + l <= F.length("word"),
                        F.col("word").substr(s + 1, l),
                    ),
                ),
            )
        ),
        lambda x: x.isNotNull(),
    )
    seed_counts = (
        words.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    seed_top = seed_counts.orderBy(
        F.desc("cnt"), F.asc("piece")
    ).limit(seed_size)
    seed_singles = seed_counts.filter(F.length("piece") == 1)
    seed = seed_top.union(seed_singles).dropDuplicates(["piece"])

    def _costs(rows) -> "dict[str, float]":
        total = sum(r["cnt"] for r in rows)
        return {
            r["piece"]: round(-math.log(r["cnt"] / total), decimals)
            for r in rows
        }

    costs = _costs(seed.collect())

    counts = None
    for rnd in range(rounds):
        model, mplen = dict(costs), max_piece_len

        @F.pandas_udf("string")
        def _seg(ws):  # pd.Series -> pd.Series (hints omitted: local scope)
            return ws.map(
                lambda w: unigram_best_segmentation(w, model, mplen)
            )

        counts = (
            words.select(_seg(F.col("word")).alias("path"), "freq")
            .select(
                F.explode(
                    F.split(F.expr("substring(path, 2)"), r"\|")
                ).alias("piece"),
                "freq",
            )
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
        )
        if rnd == rounds - 1:
            # the final counts frame feeds the collect AND the three
            # prune consumers (top / singles / total) — persist so the
            # last E-step UDF pass runs once, not four times
            counts = persisted(counts)
        costs = _costs(counts.collect())

    # --- prune: top vocab_size by (count desc, piece asc), single
    # chars always kept; renormalize over the survivors.  The singles
    # come from the SEED frame (every single char the corpus
    # contains), not the final EM counts: a char always covered by a
    # multi-char piece on every best path drops out of the EM counts,
    # and if that piece then misses the top-vocab_size cut the
    # coverage guarantee would break (unigram_encode would emit <unk>
    # for words seen in training).  Count = EM count when the char
    # survived EM, else its seed count — so outputs are unchanged
    # wherever the bug didn't bite.
    top = counts.orderBy(F.desc("cnt"), F.asc("piece")).limit(vocab_size)
    singles = (
        seed_singles.select("piece", F.col("cnt").alias("_seed_cnt"))
        .join(counts, "piece", "left")
        .select("piece", F.coalesce("cnt", "_seed_cnt").alias("cnt"))
    )
    kept = top.union(singles).dropDuplicates(["piece"])
    total_kept = kept.agg(F.sum("cnt").alias("_tot"))
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    return (
        kept.crossJoin(F.broadcast(total_kept))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "piece",
            F.col("cnt").alias("count"),
            F.round(F.col("cnt") / F.col("_tot"), decimals).alias("prob"),
        )
    )


def unigram_encode(
    corpus: DataFrame,
    pieces: "dict[str, float]",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: "int | None" = None,
    unk: str = "<unk>",
) -> DataFrame:
    """Apply a trained unigram-LM piece model to encode documents —
    the application step beside :func:`unigram_train`, mirroring the
    BPE pair (:func:`bpe_train` / :func:`bpe_encode`). ``pieces``
    maps piece -> cost (-ln probability, quantized — exactly the
    model :func:`unigram_train`'s output induces via
    ``round(-ln(prob), decimals)``); each word encodes to its
    min-cost (max-likelihood) segmentation under the model
    (:func:`unigram_best_segmentation` — Viterbi decode, the
    SentencePiece inference algorithm). Words the model cannot cover
    (a character outside the kept single-char set — impossible for
    the training corpus itself, possible for unseen text) encode to
    the single ``unk`` piece.

    Scale shape — identical to :func:`bpe_encode`'s vocab-frame
    trick: the corpus builds one positional word frame + one distinct
    vocabulary; the Viterbi DP runs in ONE Arrow-batched pandas UDF
    over the VOCAB frame with the model in the closure; encodings
    join back on the compact word key; per-doc assembly is one hash
    aggregate with an in-group sort.

    Returns (id_col, n_pieces, piece_text) — piece_text is the
    space-joined piece stream in word order; empty/NULL docs yield
    (0, '').
    """
    if not pieces:
        raise ValueError("unigram_encode: pieces must be non-empty")
    model = dict(pieces)
    mplen = max_piece_len or max(len(p) for p in model)

    @F.pandas_udf("array<string>")
    def _encode(words):  # pd.Series -> pd.Series (hints omitted: local scope)
        def seg(w):
            path = unigram_best_segmentation(w, model, mplen)
            return path[1:].split("|") if path else [unk]

        return words.map(seg)

    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    toks = corpus.select(
        F.col(id_col).alias("_doc"),
        F.posexplode_outer(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda s: s != "",
            )
        ).alias("_pos", "_w"),
    )
    vocab = (
        toks.filter(F.col("_w").isNotNull())
        .select("_w")
        .distinct()
        .select("_w", _encode(F.col("_w")).alias("_enc"))
    )
    entry = F.when(
        F.col("_w").isNotNull(), F.struct(F.col("_pos"), F.col("_enc"))
    )
    flat = F.flatten(F.transform(F.col("_ordered"), lambda x: x["_enc"]))
    return (
        toks.join(vocab, "_w", "left")
        .groupBy("_doc")
        .agg(F.array_sort(F.collect_list(entry)).alias("_ordered"))
        .select(
            F.col("_doc").alias(id_col),
            F.size(flat).cast("long").alias("n_pieces"),
            F.array_join(flat, " ").alias("piece_text"),
        )
    )


def tokenizer_fertility(
    corpus: DataFrame,
    pieces: "dict[str, float]",
    by: str = "source",
    text_col: str = "text",
    max_piece_len: "int | None" = None,
    decimals: int = 6,
) -> DataFrame:
    """Tokenizer fertility report per group — the eval every LLM data
    team runs on a candidate tokenizer before committing a corpus to
    it: pieces-per-word (fertility — lower is cheaper to train on),
    chars-per-piece (compression), and the <unk> word count (coverage
    holes), per ``by`` group (source, language, ...). ``pieces`` maps
    piece -> cost, exactly :func:`unigram_train`'s output re-expressed
    (the q146 convention); a BPE vocab works through its own encode
    path — this report is about the MODEL, so it takes the model as
    data.

    Scale shape — the vocab-frame economics shared by every encoder
    here: the corpus contributes one (group, word) occurrence frame;
    the Viterbi DP runs ONCE per DISTINCT word in an Arrow-batched
    UDF with the piece-cost map in the closure; per-word piece counts
    join back on the compact word key; the report is one small-group
    aggregate. Uncoverable words count as ONE piece (the unk token),
    mirroring :func:`unigram_encode`.

    Returns (``by``, n_words, n_pieces, fertility, unk_words,
    chars_per_piece).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    if not pieces:
        raise ValueError("tokenizer_fertility: pieces must be non-empty")
    model = dict(pieces)
    mplen = max_piece_len or max(len(p) for p in model)

    @F.pandas_udf("long")
    def _np(words):  # pd.Series -> pd.Series (hints omitted: local scope)
        def f(w):
            p = unigram_best_segmentation(w, model, mplen)
            return -1 if p is None else p.count("|")

        return words.map(f)

    occ = corpus.select(
        F.col(by).alias("_g"),
        F.explode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda w: w != "",
            )
        ).alias("_w"),
    )
    vocab = occ.select("_w").distinct().select("_w", _np(F.col("_w")).alias("_n"))
    per_word = occ.join(vocab, "_w")
    n_pieces = F.sum(F.when(F.col("_n") == -1, 1).otherwise(F.col("_n")))
    return (
        per_word.groupBy(F.col("_g").alias(by))
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            n_pieces.alias("n_pieces"),
            F.sum(F.when(F.col("_n") == -1, 1).otherwise(0))
            .cast("long")
            .alias("unk_words"),
            F.sum(F.length("_w")).alias("_chars"),
        )
        .select(
            by,
            "n_words",
            "n_pieces",
            F.round(
                F.col("n_pieces") / F.col("n_words").cast("double"), decimals
            ).alias("fertility"),
            "unk_words",
            F.round(
                F.col("_chars") / F.col("n_pieces").cast("double"), decimals
            ).alias("chars_per_piece"),
        )
    )


def build_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    topk: int = 200,
) -> DataFrame:
    """Inverted-index (postings) construction — the index-build
    workload behind q95's BM25 and q131's phrase search, materialized
    as the artifact a search system actually stores: per term, the
    doc-sorted postings list with within-doc positions, DELTA-encoded
    on the doc axis (the standard index compression: sorted doc ids
    become small gaps; at 100 TB the gap stream is what you
    varint-pack). The certified output keeps the frame compact — per
    term: document frequency, collection frequency, the encoded
    postings byte length, and an md5 DIGEST of the full encoded
    stream, which pins every doc id, every gap, and every position
    without hauling the postings through the compare.

    Scale shape: one tokenize pass (map-only posexplode), one
    (term, doc) aggregate with an in-group position sort, one
    per-term aggregate whose in-group sort is by doc id (grouped
    sorts, never global — the W1 convention), and a TakeOrdered pick
    of the ``topk`` heaviest terms. Postings lists of degenerate hot
    terms are per-term arrays; a production build would shard a
    term's postings past a size cap — stop-word terms here are
    exactly the heavy rows the topk pick surfaces first.

    Returns (term, df, cf, n_bytes, digest), the ``topk`` terms by
    (df desc, term asc).
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    if topk < 1:
        raise ValueError(f"topk must be >= 1: {topk}")
    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(
            F.filter(
                F.split(normalized_text(F.col(text_col)), " "),
                lambda w: w != "",
            )
        ).alias("_pos", "_term"),
    )
    per_doc = toks.groupBy("_term", "_doc").agg(
        F.count(F.lit(1)).alias("_cf_d"),
        F.array_join(
            F.array_sort(F.collect_list("_pos")), ","
        ).alias("_ps"),
    )
    per_term = per_doc.groupBy("_term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("_cf_d").alias("cf"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_doc"), F.col("_ps")))
        ).alias("_post"),
    )
    encoded = per_term.withColumn(
        "_enc",
        F.expr(
            """
            array_join(
              transform(_post, (p, i) ->
                concat(CAST(p._doc - IF(i = 0, 0, _post[i - 1]._doc)
                            AS STRING),
                       ':', p._ps)),
              ';')
            """
        ),
    )
    return (
        encoded.select(
            F.col("_term").alias("term"),
            "df",
            "cf",
            F.length("_enc").cast("long").alias("n_bytes"),
            F.md5("_enc").alias("digest"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(topk)
    )


def group_priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    group_col: str,
    seed: str = "pr",
) -> DataFrame:
    """:func:`priority_sample` per group: k-row weighted sample
    WITHOUT replacement from every ``group_col`` value (source, lang,
    domain), each with its own threshold tau_g so per-group subset
    sums stay unbiased — the mixture-construction sampler ("2k docs
    per source, longer docs more likely, totals still estimable").

    Same bit-exact md5 priorities as the global form. The global
    TakeOrdered becomes a window top-(k+1) per group that plans as
    WindowGroupLimit (map tasks forward at most k+1 rows per group),
    tau_g comes from one group-key aggregate over that (k+1)-bounded
    frame, and the input is never globally sorted. Groups with at
    most k positive-weight rows keep everything (tau_g = 0,
    est_weight = w).

    Returns (group_col, key_col, weight, priority, est_weight).
    """
    from pyspark.sql.window import Window

    w = F.col(weight_col).cast("double")
    u = (hash_u32(F.col(key_col), seed) + F.lit(1)).cast("double") / F.lit(
        float(_HASH_SPACE)
    )
    scored = df.filter(w.isNotNull() & (w > 0)).select(
        F.col(group_col),
        F.col(key_col),
        w.alias("weight"),
        (w / u).alias("priority"),
    )
    win = Window.partitionBy(group_col).orderBy(
        F.desc("priority"), F.asc(key_col)
    )
    ranked = scored.withColumn("_rn", F.row_number().over(win)).filter(
        F.col("_rn") <= k + 1
    )
    # NULL is a real group here (matching group_exact_quantiles /
    # group_mad_outliers): the tau join must be null-safe, or a
    # NULL-keyed corpus slice silently vanishes from the sample.
    taus = ranked.groupBy(group_col).agg(
        F.max(
            F.when(F.col("_rn") == k + 1, F.col("priority"))
        ).alias("_tau")
    ).withColumnRenamed(group_col, "_tau_grp")
    return (
        ranked.filter(F.col("_rn") <= k)
        .join(taus, F.col(group_col).eqNullSafe(F.col("_tau_grp")))
        .select(
            group_col,
            key_col,
            "weight",
            "priority",
            F.greatest(
                F.col("weight"), F.coalesce(F.col("_tau"), F.lit(0.0))
            ).alias("est_weight"),
        )
    )


def token_budget_allocation(
    df: DataFrame,
    weights: "dict[str, int]",
    total_budget: int,
    group_col: str = "source",
    tokens_col: str = "tokens",
    default_weight: int = 0,
    decimals: int = 6,
) -> DataFrame:
    """Integer token-budget allocation across sources by LARGEST
    REMAINDER (Hamilton's method): each source's quota is
    budget · w_s / Σw, floored; the leftover units go one each to the
    largest fractional remainders (ties to the smaller source name).
    The missing third of the mixture toolkit: ``mixture_sample``
    decides what survives, ``mixture_schedule`` decides when it's
    seen, this decides exactly HOW MANY tokens each source owes a run
    with a fixed budget — allocations sum to the budget EXACTLY (no
    drifting rounded shares), and ``epochs = alloc / available``
    says how many passes over a small source that implies.

    One token-sum aggregate over the data; the allocation itself is a
    driver walk over the group-sized frame (the q181/q193
    histogram-walk convention — the group domain is metadata).
    Weights are INTEGERS, so every quota is a rational with
    denominator Σw: floors and remainder comparisons are exact, and
    the oracle reproduces the allocation bit-for-bit.

    Returns (group_col, available_tokens, weight, quota_raw,
    alloc_tokens, epochs) with sum(alloc_tokens) == total_budget.
    """
    import math

    if total_budget < 0:
        raise ValueError("token_budget_allocation: negative budget")
    for name, wt in weights.items():
        if int(wt) < 0:
            raise ValueError(f"negative weight for {name!r}")
    g = sorted(
        df.groupBy(group_col)
        .agg(F.sum(tokens_col).cast("long").alias("_avail"))
        .collect(),
        key=lambda r: (r[group_col] is not None, r[group_col]),
    )
    wsum = sum(
        int(weights.get(r[group_col], default_weight)) for r in g
    )
    rows = []
    for r in g:
        wt = int(weights.get(r[group_col], default_weight))
        quota = (float(total_budget) * wt / wsum) if wsum else 0.0
        base = int(math.floor(quota))
        rows.append(
            [r[group_col], int(r["_avail"] or 0), wt, quota, base,
             quota - base]
        )
    leftover = total_budget - sum(r[4] for r in rows) if wsum else 0
    # A NULL group name must stay orderable against str names in the
    # largest-remainder tie-break (None < any string, matching the
    # aggregate sort above).
    for r in sorted(
        rows, key=lambda r: (-r[5], r[0] is not None, r[0] or "")
    )[:leftover]:
        r[4] += 1
    spark = df.sparkSession
    schema = (
        df.select(group_col).schema
        .add("available_tokens", "long").add("weight", "long")
        .add("quota_raw", "double").add("alloc_tokens", "long")
        .add("epochs", "double")
    )
    return spark.createDataFrame(
        [
            (
                grp, avail, wt, round(quota, decimals), alloc,
                round(alloc / avail, decimals) if avail else None,
            )
            for grp, avail, wt, quota, alloc, _rem in rows
        ],
        schema,
    )


def kfold_target_encoding(
    df: DataFrame,
    key_col: str,
    cat_col: str,
    target: Column,
    k: int = 5,
    cents: int = 2,
    seed: str = "te",
    decimals: int = 6,
) -> DataFrame:
    """Leakage-free K-fold target encoding — the feature-prep staple:
    each (category, fold) cell gets the category's mean target
    computed from the OTHER k-1 folds only, so the encoded feature a
    fold's training rows see never contains their own labels (the
    target-leakage failure mode naive mean encoding ships). Folds are
    the deterministic md5 row-hash (``hash_u32(key) % k`` — replayable
    on any engine, stable across runs); when a (category, fold) has
    no out-of-fold rows, the cell falls back to the GLOBAL
    out-of-fold mean for that fold (prior), never NULL.

    Exactness: the target is quantized to ``cents`` decimals and
    summed as BIGINT, so out-of-fold means are a ratio of exact
    integers — bit-identical cross-engine (the q175/q197 convention).
    One hash aggregate on the compact (category, fold) key, one on
    (category), one on (fold); everything after is
    category-domain-sized. NULL categories are a category (sentinel
    semantics, like every encoder here); NULL keys/targets excluded.

    Returns (category, fold, n_in_fold, oof_mean).
    """
    if k < 2:
        raise ValueError(f"kfold_target_encoding: k must be >= 2: {k}")
    scale = 10 ** cents
    y = F.round(target.cast("double") * F.lit(scale)).cast("long")
    base = df.select(
        F.coalesce(F.col(cat_col).cast("string"), F.lit("<null>")).alias(
            "_cat"
        ),
        (hash_u32(F.col(key_col), seed) % k).cast("int").alias("_fold"),
        y.alias("_y"),
    ).filter(F.col("_y").isNotNull() & F.col(key_col).isNotNull())
    cell = base.groupBy("_cat", "_fold").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_s")
    )
    cat_tot = cell.groupBy("_cat").agg(
        F.sum("_n").alias("_cn"), F.sum("_s").alias("_cs")
    )
    fold_tot = cell.groupBy("_fold").agg(
        F.sum("_n").alias("_fn"), F.sum("_s").alias("_fs")
    )
    all_tot = cell.agg(
        F.sum("_n").alias("_an"), F.sum("_s").alias("_as")
    )
    # full (category x fold) grid so folds with no in-fold rows still
    # get their encoding (they need it most: all their category rows
    # are out-of-fold)
    spark = df.sparkSession
    folds = spark.createDataFrame([(i,) for i in range(k)], "_fold int")
    grid = cat_tot.select("_cat").crossJoin(F.broadcast(folds))
    oof_n = F.col("_cn") - F.coalesce(F.col("_n"), F.lit(0))
    oof_s = F.col("_cs") - F.coalesce(F.col("_s"), F.lit(0))
    prior_n = F.col("_an") - F.col("_fn")
    prior_s = F.col("_as") - F.col("_fs")
    return (
        grid.join(cell, ["_cat", "_fold"], "left")
        .join(cat_tot, "_cat")
        .join(F.broadcast(fold_tot), "_fold")
        .crossJoin(F.broadcast(all_tot))
        .select(
            F.col("_cat").alias("category"),
            F.col("_fold").alias("fold"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias(
                "n_in_fold"
            ),
            F.round(
                F.when(
                    oof_n > 0, oof_s / oof_n.cast("double")
                ).otherwise(
                    prior_s / F.nullif(prior_n.cast("double"), F.lit(0.0))
                )
                / F.lit(float(scale)),
                decimals,
            ).alias("oof_mean"),
        )
    )


def dedup_adjusted_size(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """Dedup-adjusted corpus size per source — the number that matters
    when sizing a training mixture: raw token counts OVERSTATE a
    source exactly by its duplication, so each document's tokens are
    down-weighted by its exact-duplicate cluster size (md5 text
    fingerprint, the q30 convention — a doc appearing 5 times
    contributes its tokens once, spread as 1/5 per copy, so the
    per-source effective sizes still sum to the global deduped
    total even when copies straddle sources). Whitespace token
    counting via ``textstats.whitespace_token_count`` (the q42
    convention, same regex the oracle replays).

    One fingerprint aggregate + one join back + one group aggregate —
    never a self-join. Returns (group_col, n_docs, raw_tokens,
    effective_tokens, dup_ratio) with dup_ratio = raw/effective
    (1.0 = no duplication).
    """
    from capex_data_pipeline_spark.extensions.textstats import (
        whitespace_token_count,
    )

    toks = whitespace_token_count(F.col(text_col)).cast("long")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
        toks.alias("_tk"),
    )
    sizes = base.groupBy("_fp").agg(F.count(F.lit(1)).alias("_csz"))
    return (
        base.join(sizes, "_fp")
        .groupBy(F.col("_g").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tk").alias("raw_tokens"),
            F.round(
                F.sum(F.col("_tk") / F.col("_csz").cast("double")), decimals
            ).alias("effective_tokens"),
            F.round(
                F.sum("_tk")
                / F.nullif(
                    F.sum(F.col("_tk") / F.col("_csz").cast("double")),
                    F.lit(0.0),
                ),
                decimals,
            ).alias("dup_ratio"),
        )
    )


def stratified_split_exact(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    weights: "dict[str, int] | None" = None,
    seed: str = "sp",
) -> DataFrame:
    """Stratified train/val/test split with EXACT per-stratum counts —
    what :func:`stratified_hash_sample`'s independent Bernoulli
    decisions cannot give: every stratum's split sizes hit the
    largest-remainder (Hamilton) allocation of its row count over the
    integer ``weights`` EXACTLY (allocations sum to n per stratum, no
    binomial jitter), while membership stays deterministic — rows
    rank within their stratum by the md5 sampling hash (ties by key)
    and the rank cuts at the allocated thresholds. Adding a row moves
    at most the boundary rows of its own stratum.

    Scale shape: ONE stratum-partitioned rank window (never global),
    plus a strata-domain-sized driver walk for the allocation (the
    q195 largest-remainder machinery — strata are a report dimension,
    bounded; a loud guard refuses > 100k strata) broadcast back as
    thresholds. Tie-break for the leftover units: (remainder DESC,
    split name ASC) — replayed verbatim by the oracle.

    Returns (key_col, stratum_col, split). NULL strata form their own
    stratum (kept, not dropped).
    """
    from pyspark.sql.window import Window

    weights = weights or {"train": 8, "val": 1, "test": 1}
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError(
            f"stratified_split_exact: weights must be positive: {weights}"
        )
    # cumulative cut order = the dict's insertion order, so
    # {'train': 8, 'val': 1, 'test': 1} cuts train first — a
    # caller-meaningful, deterministic order
    order = list(weights)
    total_w = sum(weights.values())
    counts = (
        df.groupBy(F.col(stratum_col).alias("_s"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    if len(counts) > 100_000:
        raise ValueError(
            f"stratified_split_exact: {len(counts)} strata exceeds the "
            "100k driver-walk bound — stratify on a coarser dimension"
        )
    rows = []
    for r in counts:
        n = int(r["_n"])
        base = {sp: n * w // total_w for sp, w in weights.items()}
        rem = {sp: n * w % total_w for sp, w in weights.items()}
        leftover = n - sum(base.values())
        for sp in sorted(weights, key=lambda k: (-rem[k], k))[:leftover]:
            base[sp] += 1
        cums, cum = [], 0
        for sp in order:
            cum += base[sp]
            cums.append(cum)
        rows.append((r["_s"], *cums))
    spark = df.sparkSession
    thr = spark.createDataFrame(
        rows,
        ", ".join(
            ["_s " + dict(df.dtypes)[stratum_col]]
            + [f"_c{i} long" for i in range(len(order))]
        ),
    )
    h = hash_u32(F.col(key_col), seed)
    w = Window.partitionBy("_s").orderBy(h.asc(), F.col(key_col).asc())
    ranked = df.select(
        F.col(key_col), F.col(stratum_col).alias("_s")
    ).withColumn("_rk", F.row_number().over(w))
    split = None
    for i, sp in enumerate(order):
        cond = F.col("_rk") <= F.col(f"_c{i}")
        split = (
            F.when(cond, F.lit(sp))
            if split is None
            else split.when(cond, F.lit(sp))
        )
    return ranked.join(thr, ranked["_s"].eqNullSafe(thr["_s"])).select(
        F.col(key_col),
        ranked["_s"].alias(stratum_col),
        split.alias("split"),
    )


def proximity_match_counts(
    df: DataFrame,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Proximity search — documents where ``term_a`` and ``term_b``
    occur within ``window`` token positions (the NEAR/k operator of
    every retrieval engine; q131's phrase search is the window=1,
    ordered special case). Scale shape mirrors q131: MAP-ONLY, two
    tiers — a native space-padded containment prefilter keeps the
    corpus-wide pass in whole-stage codegen, then the positional
    higher-order functions (per-term position lists × the pair
    window probe) run only on documents containing BOTH terms; the
    per-doc pair work is bounded by in-document term frequencies. No
    posexplode, no postings shuffle, no join.

    Returns (id_col, n_pairs, min_dist) for documents with at least
    one qualifying pair; min_dist is the closest |pos_a − pos_b|.
    """
    if not term_a or not term_b or term_a == term_b:
        raise ValueError(
            f"proximity_match_counts: need two distinct non-empty "
            f"terms, got {term_a!r}, {term_b!r}"
        )
    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    from pyspark.sql import types as T

    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    # a few-file corpus (testdata sf0.1 is ONE single-row-group file)
    # would run the whole normalize+filter chain on one core; the
    # round-robin spread of the (id, text) projection restores
    # parallelism (21.9 s -> ~2 s at sf0.1, docs/SCALE.md r13) and is
    # a no-op on many-file inputs.
    base = spread_few_splits(df.select(F.col(id_col), F.col(text_col)))
    cand = base.select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("_nt")
    ).filter(
        F.concat(F.lit(" "), F.col("_nt"), F.lit(" ")).contains(
            f" {term_a} "
        )
        & F.concat(F.lit(" "), F.col("_nt"), F.lit(" ")).contains(
            f" {term_b} "
        )
    )
    # tier 2 — Arrow-vectorized positional probe (guide §4.2). The
    # previous shape ran the position lists + pair window as Catalyst
    # higher-order functions, which execute INTERPRETED (one lambda
    # invocation per token per term — the measured ~11 s warm residual
    # at sf0.1 was this tax, docs/SCALE.md "q246 anatomy"). Only the
    # containment-prefilter SURVIVORS cross the Python boundary (both
    # terms present — candidate-sized, never corpus-sized), tokenize
    # via C-level str.split, and numpy does the position/pair math per
    # batch. The candidate frame is round-robin-spread first so the
    # probe parallelizes even when the prefilter output lands on few
    # tasks — the exchange carries candidates only, which is exactly
    # the "shuffle the lightweight proxy" rule (guide §8). The old
    # nondeterministic pushdown barrier is obsolete: the qualifying
    # filter now lives inside the opaque probe, so there is no
    # n_pairs predicate for Catalyst to substitute into the scan.
    ta, tb, win = str(term_a), str(term_b), int(window)
    name = id_col

    def _probe(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, n_out, d_out = [], [], []
            for doc_id, nt in zip(pdf[name].tolist(), pdf["_nt"].tolist()):
                toks = np.array(
                    [w for w in nt.split(" ") if w != ""], dtype=object
                )
                pa = np.flatnonzero(toks == ta) + 1
                pb = np.flatnonzero(toks == tb) + 1
                if len(pa) == 0 or len(pb) == 0:
                    continue
                diff = np.abs(pa[:, None] - pb[None, :])
                n_pairs = int((diff <= win).sum())
                if n_pairs == 0:
                    continue
                ids.append(doc_id)
                n_out.append(n_pairs)
                d_out.append(int(diff.min()))
            if ids:
                yield pd.DataFrame(
                    {name: ids, "n_pairs": n_out, "min_dist": d_out}
                )

    out_schema = T.StructType(
        [
            cand.schema[name],
            T.StructField("n_pairs", T.LongType()),
            T.StructField("min_dist", T.LongType()),
        ]
    )
    return cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).mapInPandas(_probe, schema=out_schema)


# ------------------------------------------- positional inverted index


def build_positional_index(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    path: "str | None" = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Build a positional inverted index over a corpus: one posting
    row per (term, document) carrying the SORTED 1-based token
    positions of that term, written as a parquet table BUCKETED on
    ``term`` — the amortized shape behind every search engine.
    :func:`proximity_match_counts` (q246) and
    :func:`phrase_match_counts` (q131) are the correct ONE-SHOT
    plans (a single corpus scan, no index); this is the correct
    REPEATED-QUERY plan: the corpus-sized tokenize+posexplode
    shuffle is paid once at build time, and each later NEAR/phrase
    query reads only the queried terms' postings — bucket-pruned to
    1/n_buckets of the index, never the corpus (VERDICT r12 task 1).

    Scale shape: tokenization and position numbering are map-side
    (posexplode of the normalized token array); the single shuffle
    is the (term, doc) groupBy that assembles position lists, and
    the bucketed write pre-hashes postings by term so query-time
    term lookups stream from their buckets with no Exchange.
    Positions are 1-based to match the scan operators' output
    arithmetic exactly. The per-posting position list is bounded by
    in-document term frequency — postings rows stay compact; raw
    text never enters the index.

    ``mode='append'`` is INDEX MAINTENANCE: tokenize/posexplode the
    new batch only and append its postings into the existing bucketed
    table — valid because posting rows are per (term, document) and a
    daily batch carries NEW doc ids, so old and new postings are
    disjoint and every term lookup still prunes to its bucket. The
    daily indexing bill is the batch, never the corpus (the
    q198/q231/q252 persist-and-fold economics applied to retrieval).
    Appending an ALREADY-INDEXED doc id would duplicate its postings
    — deduplicate upstream (q30's contract).

    Returns the read-back (term, doc_id, positions) frame.
    """
    from capex_data_pipeline_spark.extensions.dedup import normalized_text
    from capex_data_pipeline_spark.sources.bucketed import write_bucketed

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda w: w != "",
    )
    postings = (
        df.select(F.col(id_col), words.alias("_ws"))
        .select(
            F.col(id_col),
            F.posexplode(F.col("_ws")).alias("_p0", "term"),
        )
        .groupBy("term", id_col)
        .agg(
            F.array_sort(
                F.collect_list((F.col("_p0") + 1).cast("long"))
            ).alias("positions")
        )
    )
    write_bucketed(
        postings,
        table,
        ["term"],
        n_buckets=n_buckets,
        sort_cols=["term"],
        path=path,
        mode=mode,
    )
    return df.sparkSession.table(table)


def proximity_from_index(
    spark: SparkSession,
    index_table: str,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Indexed NEAR/k search: the same (id_col, n_pairs, min_dist)
    result as :func:`proximity_match_counts` — documents where
    ``term_a`` and ``term_b`` occur within ``window`` positions —
    computed from the PERSISTED positional index instead of a corpus
    scan. Two bucket-pruned term lookups (each reads the one bucket
    its term hashes to) join on the document id; the pair-window
    probe then runs the identical higher-order arithmetic on the two
    position lists. Per-query cost is O(postings of the two terms),
    not O(corpus) — the amortized win the one-shot scan operator's
    docstring promises.
    """
    if not term_a or not term_b or term_a == term_b:
        raise ValueError(
            f"proximity_from_index: need two distinct non-empty "
            f"terms, got {term_a!r}, {term_b!r}"
        )
    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    idx = spark.table(index_table)
    pa = idx.filter(F.col("term") == term_a).select(
        F.col(id_col), F.col("positions").alias("_pa")
    )
    pb = idx.filter(F.col("term") == term_b).select(
        F.col(id_col), F.col("positions").alias("_pb")
    )
    j = pa.join(pb, id_col)
    n_pairs = F.aggregate(
        F.col("_pa"),
        F.lit(0),
        lambda acc, p: acc
        + F.size(
            F.filter(
                F.col("_pb"), lambda q: F.abs(q - p) <= F.lit(window)
            )
        ),
    )
    min_dist = F.array_min(
        F.transform(
            F.col("_pa"),
            lambda p: F.array_min(
                F.transform(F.col("_pb"), lambda q: F.abs(p - q))
            ),
        )
    )
    return (
        j.select(
            F.col(id_col),
            n_pairs.cast("long").alias("n_pairs"),
            min_dist.cast("long").alias("min_dist"),
        )
        .filter(F.col("n_pairs") > 0)
    )


def phrase_from_index(
    spark: SparkSession,
    index_table: str,
    phrase: "list[str]",
    id_col: str = "doc_id",
) -> DataFrame:
    """Indexed exact-phrase search: the same (id_col, n_matches,
    first_pos) result as :func:`phrase_match_counts` computed from
    the positional index — a k-way postings join on the document id
    (every side bucket-pruned to its term), then one higher-order
    filter keeps the first term's positions ``p`` where term ``j``
    has position ``p + j`` for all following terms. Matches the scan
    operator's 1-based first_pos and per-document occurrence count
    exactly; per-query cost is the k terms' postings, not the
    corpus."""
    if not phrase or any(not w for w in phrase):
        raise ValueError(f"phrase must be non-empty words, got {phrase!r}")
    if len(phrase) < 2:
        raise ValueError(
            "phrase_from_index: need >= 2 words (single-term lookup "
            "is a plain postings read)"
        )
    idx = spark.table(index_table)

    def _postings(term: str, tag: str) -> DataFrame:
        return idx.filter(F.col("term") == term).select(
            F.col(id_col), F.col("positions").alias(tag)
        )

    j = _postings(phrase[0], "_p0")
    for i, w in enumerate(phrase[1:], start=1):
        j = j.join(_postings(w, f"_p{i}"), id_col)

    def _is_start(p: Column) -> Column:
        cond = F.lit(True)
        for i in range(1, len(phrase)):
            cond = cond & F.array_contains(F.col(f"_p{i}"), p + i)
        return cond

    starts = F.filter(F.col("_p0"), _is_start)
    return (
        j.select(F.col(id_col), starts.alias("_st"))
        .select(
            F.col(id_col),
            F.size("_st").alias("n_matches"),
            F.element_at("_st", 1).alias("first_pos"),
        )
        .filter(F.col("n_matches") > 0)
    )
