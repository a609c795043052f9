"""Deduplication operators over a document corpus.

Five tiers, cheap to expensive (all shuffle only on compact keys —
fingerprints, band hashes — never on full documents):

- exact:      md5 of normalized text, hash-aggregate            (1 shuffle)
- minhash:    word-shingle MinHash signatures + LSH band join   (2 shuffles)
- simhash:    60-bit token simhash; pairs via segment-split LSH (pigeonhole)
- ngram:      exact Jaccard re-rank over MinHash-LSH candidates
- embedding:  cosine near-dups via banded SRP-LSH + exact re-rank

No dedup path contains an all-pairs join: every candidate generator is
an equi-join on a compact LSH key (band hash, sketch segment, SRP
bucket), so cost scales with true collision counts, not block sizes.

MinHash per Broder (1997): P[min-hash collision] = Jaccard similarity;
banding (LSH) makes the candidate-pair probability an S-curve around the
threshold. Signatures here are md5(seed || shingle) minima compared as
fixed-width hex strings — order-isomorphic to comparing the 128-bit
integers, and reproducible in any engine with md5.

At 100 TB: the signature computation is a projection (scales linearly,
no shuffle); the only shuffle moves (band_hash, doc_id) pairs — a few
dozen bytes per document. Bucket skew (a degenerate band shared by
millions of docs) is handled by AQE skew-join splitting; extreme cases
should cap bucket size upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from capex_data_pipeline_spark.cache import persisted
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4
DEFAULT_SHINGLE_K = 3


def normalized_text(col: Column) -> Column:
    """Dedup normalization: lowercase, strip non-alphanumerics to
    spaces, collapse runs, trim."""
    c = F.lower(F.coalesce(col.cast("string"), F.lit("")))
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    return F.trim(c)


def text_fingerprint(col: Column) -> Column:
    """Exact-dup fingerprint: md5 of normalized text."""
    return F.md5(normalized_text(col))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per fingerprint. One hash aggregate;
    group keys are 32-byte digests, not documents."""
    return (
        df.withColumn("_fp", text_fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumnRenamed("_fp", "fingerprint")
    )


def _shingles_expr(text_col: str, k: int) -> Column:
    """transform(sequence(1, n-k+1), i -> words[i..i+k-1]) over the
    normalized word array; distinct."""
    words = f"split(trim(regexp_replace(lower(coalesce(cast({text_col} as string), '')), '[^a-z0-9]+', ' ')), ' ')"
    return F.expr(
        f"""
        array_distinct(
          CASE WHEN size({words}) < {k}
               THEN array(array_join({words}, ' '))
               ELSE transform(
                 sequence(1, size({words}) - {k} + 1),
                 i -> array_join(slice({words}, i, {k}), ' '))
          END)
        """
    )


def minhash_signature(
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = DEFAULT_SHINGLE_K,
) -> Column:
    """Array of ``num_hashes`` MinHash components; component i is the
    lexicographic minimum of md5(i || '|' || shingle) over the doc's
    shingles (hex strings compare like the underlying 128-bit ints)."""
    shingles = _shingles_expr(text_col, k)

    def seeded(i: int):
        # NB: a plain `lambda s, i=i:` would arrive at F.transform as a
        # TWO-argument lambda, which Spark binds as (element, index) —
        # the seed would silently become the array index.
        prefix = f"{i}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    comps = [F.array_min(F.transform(shingles, seeded(i))) for i in range(num_hashes)]
    return F.array(*comps)


def banding_for_threshold(num_hashes: int, threshold: float) -> int:
    """Pick the band count whose LSH S-curve midpoint ``(1/b)^(1/r)``
    (with ``r = num_hashes / b``) sits closest to ``threshold``, among
    divisors of ``num_hashes``. Midpoint ≈ threshold is the standard
    operating point: pairs well above the threshold are caught with
    probability → 1, pairs well below are rarely candidates. On a
    near-tie, prefer the midpoint BELOW the threshold (more bands /
    fewer rows per band) — recall at the threshold beats candidate
    parsimony for dedup."""
    options = []
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        midpoint = (1.0 / b) ** (1.0 / r)
        options.append((abs(midpoint - threshold), midpoint > threshold, b))
    return min(options)[2]


def _cap_buckets(
    frame: DataFrame,
    keys: list[str],
    max_bucket_size: int,
    stats_out: dict | None = None,
) -> DataFrame:
    """Exclude rows of buckets larger than ``max_bucket_size``: one
    aggregation on the compact bucket keys + a semi join. The capped
    frame is persisted — it feeds BOTH sides of the candidate
    self-join, and without the persist each side would recompute the
    projection AND the cap aggregation (HOF lambdas defeat
    ReuseExchange; see the signature-frame persists).

    No silent caps: pass ``stats_out={}`` and the call eagerly counts
    what the cap dropped — ``excluded_buckets`` / ``excluded_rows`` are
    written into the dict and a warning is logged when nonzero, so an
    invisible recall trade can't masquerade as full coverage. The count
    reuses the same bucket-size aggregation the cap needs anyway (the
    sizes frame is persisted for the second consumer); ``stats_out=None``
    (default) keeps the path fully lazy."""
    sizes = frame.groupBy(*keys).count()
    if stats_out is not None:
        sizes = persisted(sizes)
        row = (
            sizes.filter(F.col("count") > max_bucket_size)
            .agg(
                F.count(F.lit(1)).alias("nb"),
                F.coalesce(F.sum("count"), F.lit(0)).alias("nr"),
            )
            .collect()[0]
        )
        stats_out["excluded_buckets"] = int(row["nb"])
        stats_out["excluded_rows"] = int(row["nr"])
        if row["nb"]:
            import logging

            logging.getLogger(__name__).warning(
                "max_bucket_size=%d excluded %d bucket(s) / %d row(s) "
                "from candidate generation (keys=%s) — an explicit "
                "recall trade, not full coverage",
                max_bucket_size,
                row["nb"],
                row["nr"],
                keys,
            )
    ok = (
        sizes.filter(F.col("count") <= max_bucket_size)
        .drop("count")
    )
    return persisted(frame.join(ok, keys, "left_semi"))


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int | None = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """LSH-banded candidate generation + signature-estimated Jaccard.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and estimate ≥
    threshold. Only (band_hash, id, signature) tuples ever shuffle.

    Recall model: a pair with true Jaccard s becomes a candidate with
    probability ``1-(1-s^r)^b`` — near the S-curve midpoint
    ``(1/b)^(1/r)`` roughly half of pairs are surfaced, well above it
    almost all. Pass ``bands=None`` to derive the banding from
    ``threshold``; an explicit ``bands`` must divide ``num_hashes``
    (leftover signature components would otherwise be silently unused).

    ``max_bucket_size`` is the 100 TB armor against degenerate buckets
    (e.g. millions of empty/boilerplate docs sharing a band hash): a
    bucket of n docs emits ~n²/2 candidate pairs, and while AQE splits
    the *join*, nothing shrinks that output volume. With a cap, buckets
    larger than ``max_bucket_size`` are excluded from candidate
    generation — an explicit recall trade (such pairs usually surface
    via several other bands; truly degenerate buckets are near-dup
    spam anyway). Off (None) by default so small-corpus results are
    exhaustive and oracle-exact. Pass ``cap_stats={}`` to receive the
    excluded bucket/row counts (no-silent-caps; see ``_cap_buckets``).
    """
    if bands is None:
        bands = banding_for_threshold(num_hashes, threshold)
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands

    def seeded(i: int):
        prefix = f"{i}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    # Shingle once into a column, then derive all hash components from it
    # (inlining the shingle expression per component would re-split the
    # text num_hashes times). Repartition first: the signature projection
    # is CPU-bound, and small corpora arrive as a single parquet split —
    # spread it across the cluster before the heavy md5 work.
    # Persisted: the band self-join consumes this twice, and Spark can't
    # share the subplan across the two sides (higher-order-function
    # lambda variables defeat plan canonicalization, so ReuseExchange
    # never fires) — without the persist the shingling + num_hashes
    # md5-min passes (the dominant cost) run TWICE over the corpus.
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "id")
        .withColumn("_sh", _shingles_expr("_t", k))
        .select(
            "id",
            F.array(
                *[
                    F.array_min(F.transform(F.col("_sh"), seeded(i)))
                    for i in range(num_hashes)
                ]
            ).alias("sig"),
        )
        .transform(persisted)
    )
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                "|",
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))

    if max_bucket_size is not None:
        banded = _cap_buckets(banded, ["band", "bhash"], max_bucket_size, cap_stats)

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    return pairs.select(
        "id_a", "id_b", F.round(est, 4).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)


def simhash60(text_col: str = "text") -> Column:
    """60-bit SimHash (Charikar 2002) over normalized word tokens.

    Token hash = first 15 hex chars of md5 (60 bits — BIGINT-safe in
    every engine). Each bit position votes +1/-1 per token; the sketch
    sets bits with a positive sum. Pure higher-order functions: one
    projection, no shuffle, no UDF.
    """
    words = f"split(trim(regexp_replace(lower(coalesce(cast({text_col} as string), '')), '[^a-z0-9]+', ' ')), ' ')"
    return F.expr(
        f"""
        aggregate(
          sequence(0, 59),
          cast(0 as bigint),
          (acc, bit) -> acc + IF(
            aggregate(
              transform({words}, w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)),
              0,
              (s, h) -> s + IF((h div shiftleft(cast(1 as bigint), bit)) % 2 = 1, 1, -1)
            ) > 0,
            shiftleft(cast(1 as bigint), bit),
            cast(0 as bigint))
        )
        """
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    block_col: str | None = None,
    include_sketches: bool = False,
    max_bucket_size: int | None = None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ max_hamming, via the
    standard segment-split LSH (the Manku/Jain/Sarma simhash-dedup
    scheme): the 60-bit sketch splits into ``max_hamming + 1`` segments;
    by pigeonhole, any pair within distance ``max_hamming`` agrees
    EXACTLY on at least one segment, so candidate generation is an
    equi-join on (segment index, segment value) — no quadratic scan
    anywhere, and the shuffle carries only (id, sketch, segment).
    Optional ``block_col`` adds a same-block constraint on top;
    ``include_sketches`` keeps both 60-bit sketches on the output rows.
    ``max_bucket_size``: same degenerate-bucket armor as
    ``minhash_near_dups`` — segment buckets above the cap are excluded
    from candidate generation. Off by default. Pass ``cap_stats={}`` to receive the
    excluded bucket/row counts (no-silent-caps; see ``_cap_buckets``).
    """
    blk = F.col(block_col) if block_col else F.lit("all")
    # persisted: the pigeonhole self-join consumes this twice and HOF
    # lambdas defeat ReuseExchange — without it the simhash aggregate
    # (60 bit-votes per token) runs twice over the corpus
    s = (
        df.select(
            F.col(id_col).alias("id"),
            blk.alias("blk"),
            F.col(text_col).alias("_t"),
        )
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "id")
        .select("id", "blk", simhash60("_t").alias("sh"))
        .transform(persisted)
    )
    return _pigeonhole_pairs(
        s,
        n_bits=60,
        max_hamming=max_hamming,
        include_sketches=include_sketches,
        sketch_names=("simhash_a", "simhash_b"),
        max_bucket_size=max_bucket_size,
        cap_stats=cap_stats,
    )


def _pigeonhole_pairs(
    s: DataFrame,
    n_bits: int,
    max_hamming: int,
    include_sketches: bool = False,
    sketch_names: "tuple[str, str]" = ("hash_a", "hash_b"),
    max_bucket_size: int | None = None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Shared segment-split (pigeonhole) candidate join over an
    ``(id, blk, sh)`` frame of ``n_bits``-bit sketches: the sketch
    splits into ``max_hamming + 1`` segments, any pair within hamming
    distance ``max_hamming`` agrees exactly on >= 1 segment, candidates
    are an equi-join on (block, segment index, segment value). Used by
    text simhash (:func:`simhash_near_dups`, 60-bit) and perceptual
    image hashes (:func:`hamming_near_dups`, up to 64-bit — segment
    extraction uses the LOGICAL shift, so two's-complement 64-bit
    hashes work; for non-negative <=60-bit sketches it is identical to
    the arithmetic shift the simhash path always used)."""
    n_seg = max_hamming + 1
    width = -(-n_bits // n_seg)  # ceil(n_bits / n_seg)
    if width >= 64:
        # only reachable as max_hamming=0 with 64-bit hashes: the mask
        # (1 << 64) - 1 would overflow LongType at plan build.  The
        # single segment IS the whole sketch — join on sh directly.
        seg_structs = [
            F.struct(F.lit(0).alias("seg_i"), F.col("sh").alias("seg_v"))
        ]
    else:
        mask = (1 << width) - 1
        seg_structs = [
            F.struct(
                F.lit(i).alias("seg_i"),
                F.shiftrightunsigned(F.col("sh"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("seg_v"),
            )
            for i in range(n_seg)
        ]
    segs = s.select(
        "id",
        "blk",
        "sh",
        F.explode(F.array(*seg_structs)).alias("sg"),
    ).select("id", "blk", "sh", F.col("sg.seg_i").alias("seg_i"), F.col("sg.seg_v").alias("seg_v"))
    if max_bucket_size is not None:
        segs = _cap_buckets(segs, ["blk", "seg_i", "seg_v"], max_bucket_size, cap_stats)
    a, b = segs.alias("a"), segs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.seg_i") == F.col("b.seg_i"))
            & (F.col("a.seg_v") == F.col("b.seg_v"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *(
                [
                    F.col("a.sh").alias(sketch_names[0]),
                    F.col("b.sh").alias(sketch_names[1]),
                ]
                if include_sketches
                else []
            ),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_near_dups(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    n_bits: int = 64,
    max_hamming: int = 3,
    block_col: str | None = None,
    include_sketches: bool = False,
    max_bucket_size: int | None = None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs over a PRECOMPUTED ``n_bits``-bit hash
    column (perceptual image hashes — dHash/aHash from
    ``multimodal.image_hashes`` — or any other hamming-space sketch):
    the same segment-split pigeonhole candidate join as
    :func:`simhash_near_dups`, without the text sketching front half.
    Returns (id_a, id_b, hamming) pairs with hamming <= max_hamming;
    equi-join on compact (segment, value) keys — never all-pairs, so
    a 10^10-image corpus shuffles only (id, 8-byte hash, segment).
    ``max_bucket_size``/``cap_stats``: the standard degenerate-bucket
    armor (a solid-color-image bucket at web scale is the hot key)."""
    blk = F.col(block_col) if block_col else F.lit("all")
    s = df.select(
        F.col(id_col).alias("id"),
        blk.alias("blk"),
        F.col(hash_col).cast("long").alias("sh"),
    ).transform(persisted)
    return _pigeonhole_pairs(
        s,
        n_bits=n_bits,
        max_hamming=max_hamming,
        include_sketches=include_sketches,
        max_bucket_size=max_bucket_size,
        cap_stats=cap_stats,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    k: int = DEFAULT_SHINGLE_K,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int | None = None,
    max_bucket_size: int | None = None,
    cap_stats: dict | None = None,
    measure: str = "jaccard",
) -> DataFrame:
    """Word-k-gram Jaccard: EXACT scoring over MinHash-LSH candidates.

    ``measure`` selects the exact score computed on candidate pairs:
    ``'jaccard'`` (|A∩B|/|A∪B|, the near-dup default) or
    ``'containment'`` (|A∩B|/min(|A|,|B|) — 1.0 when the smaller
    document's shingles are fully inside the larger: trimmed
    re-posts, quote-with-commentary, header-stripped copies that
    Jaccard under-scores because the union is large). NOTE the recall
    contract is unchanged: candidates still come from the
    Jaccard-tuned LSH S-curve, so an extreme small-inside-huge pair
    with high containment but near-zero Jaccard is unlikely to be
    CANDIDATED at all — for that regime use the span-level machinery
    (``duplicated_spans``), which finds shared substrings regardless
    of document size ratio. The output score column is named after
    the measure.
    ``max_bucket_size``: same degenerate-bucket armor as
    ``minhash_near_dups``, applied to the band buckets. Off by default. Pass ``cap_stats={}`` to receive the
    excluded bucket/row counts (no-silent-caps; see ``_cap_buckets``).

    A standalone explode-join on (block, shingle) goes quadratic on
    frequent shingles inside a big block; here candidates come from the
    banded MinHash join (compact keys, S-curve selectivity around the
    threshold) and only candidate pairs pay the exact set intersection
    — both shingle arrays sit in one row, so the Jaccard is a single
    JVM ``array_intersect`` with no further shuffle fan-out. Optional
    ``block_col`` adds a same-block constraint to the candidates.

    EXACT applies to the SCORE, not pair coverage: a pair with true
    Jaccard s is surfaced with probability ``1-(1-s^r)^b`` (r rows per
    band, b bands). By default the banding is derived from ``threshold``
    so the S-curve midpoint ``(1/b)^(1/r)`` lands at the threshold —
    near-threshold pairs are caught ~half the time, pairs well above it
    almost always. Callers needing "ALL pairs ≥ threshold" must either
    run the exact explode-join themselves or push the midpoint well
    below their threshold via explicit ``bands``/``num_hashes``.
    """
    if bands is None:
        bands = banding_for_threshold(num_hashes, threshold)
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    blk = F.col(block_col) if block_col else F.lit("all")

    def seeded(i: int):
        prefix = f"{i}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    # Persisted: consumed by the banded candidate join AND both exact
    # re-rank sides; HOF lambda variables defeat plan canonicalization
    # (no ReuseExchange), so each consumer would otherwise re-shingle
    # the whole corpus.
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            blk.alias("blk"),
            F.col(text_col).alias("_t"),
        )
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "id")
        .select("id", "blk", _shingles_expr("_t", k).alias("sh"))
        .transform(persisted)
    )
    # the band join itself shuffles only (id, blk, band, bhash) — compact
    # keys; the shingle arrays move once more, and only for candidates
    banded = sh.select(
        "id",
        "blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                F.array(
                                    *[
                                        F.array_min(
                                            F.transform(F.col("sh"), seeded(i))
                                        )
                                        for i in range(
                                            b * rows_per_band, (b + 1) * rows_per_band
                                        )
                                    ]
                                ),
                                "|",
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "id", "blk", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash")
    ).transform(persisted)  # compact; self-joined below

    if max_bucket_size is not None:
        banded = _cap_buckets(banded, ["blk", "band", "bhash"], max_bucket_size, cap_stats)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    if measure == "jaccard":
        denom = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    elif measure == "containment":
        denom = F.least(F.size("sh_a"), F.size("sh_b"))
    else:
        raise ValueError(
            f"measure must be 'jaccard' or 'containment', got {measure!r}"
        )
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / denom.cast("double"), 4).alias(measure),
        )
        .filter(F.col(measure) >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    assume_symmetric: bool = False,
    emit_degree: bool = False,
) -> DataFrame:
    """Group near-dup PAIRS into connected components and pick keepers —
    the step a dedup pipeline needs between candidate pairs and actual
    row removal (pairs alone over-delete: a~b and b~c must collapse to
    ONE cluster {a,b,c}, not two independent decisions).

    Algorithm: min-label propagation (the standard distributed
    connected-components loop — each node's label becomes the min of
    its own and its neighbors', iterated to fixpoint; converges in
    ``diameter(G)`` rounds, so near-dup clusters — dense/star-shaped by
    construction — finish in a handful). Each round is one equi-join +
    one hash aggregate on compact (id, label) pairs; the driver-side
    loop-with-convergence-check is the standard shape for iterative
    algorithms on Spark (GraphX's Pregel does the same internally).
    Labels get a plan boundary per round: iterative lineage otherwise
    grows the logical plan linearly and re-analysis quadratically
    (same lesson as the q93 plan boundary); :func:`cache.plan_boundary`
    decides how each cut is made.

    Returns one row per document (``corpus`` supplies the full id set so
    singletons appear; omit it to cluster only paired docs):
    (id_col, cluster_id = min doc id in component, cluster_size,
    is_keeper = doc is its cluster's min PRESENT member — so when
    ``corpus`` is a subset of the paired ids (pairs generated before a
    filter), every emitted cluster still has exactly one keeper rather
    than silently none). Raises after ``max_iter`` rounds without
    convergence — an unconverged labeling can split a component, which
    silently over-keeps; no silent caps.

    ``assume_symmetric=True`` declares the input ALREADY a distinct
    symmetric edge list that the caller has materialized (plan
    boundary / persist): the symmetrize-union-distinct AND its eager
    cut are skipped, so a caller that also needs the edge frame for
    its own aggregates (the q170 degree fuse) materializes the
    expensive pair producer exactly once instead of twice.
    """
    from pyspark.sql.window import Window

    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    def _cut(df, label):
        return _boundary(df, eager=True, label=label)

    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    if assume_symmetric:
        edges = e
    else:
        edges = _cut(
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct(),
            "cc-edges",
        )
    # ── one-time STAR CONTRACTION before the loop (the large-star idea
    # of Kiveris et al. 2014, "Connected Components in MapReduce and
    # Beyond" — public algorithm): map every node to h(u) = min(u,
    # min-neighbor) in ONE aggregate over the edge frame, then re-key
    # the edges through h. Near-dup graphs are DENSE (q170 at sf0.1:
    # 14.2M symmetric edges over ~5k nodes), so one contraction
    # collapses most of each component and the min-label loop below
    # iterates over a contracted edge set orders of magnitude smaller
    # — the loop's per-round full-edge aggregate (the measured cost,
    # ~2 s × rounds at sf0.1) is paid ONCE here instead of per round
    # (measured 10.1 → ~4 s end-to-end). Contraction preserves
    # components, and the component's global-min id m has h(m) = m,
    # so min-labels over the contracted graph are exactly the
    # original cluster ids.
    # ``emit_degree``: the symmetric-degree count rides the SAME
    # aggregate (same shuffle, one more buffer) — callers that need
    # per-node degree (the q170 dup summary) stop paying a second
    # full-edge aggregation pass + a node-sized join for it.
    h_aggs = [F.least(F.col("u"), F.min("v")).alias("h")]
    if emit_degree:
        h_aggs.append(F.count(F.lit(1)).alias("_deg"))
    h = _cut(
        edges.groupBy("u").agg(*h_aggs),
        "cc-contract",
    )
    # the mapping frame is NODE-sized while edges are PAIR-sized; the
    # eager cut keeps its size estimate, so the planner broadcasts it
    # (re-key map-only) while it fits autoBroadcastJoinThreshold and
    # keeps the shuffle join past that — no count, no hint
    e2 = _cut(
        edges.join(h.select("u", F.col("h").alias("_hu")), "u")
        .join(h.select(F.col("u").alias("v"), F.col("h").alias("_hv")), "v")
        .select(F.col("_hu").alias("u"), F.col("_hv").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "cc-edges-contracted",
    )
    labels = _cut(
        e2.select("u").distinct().withColumn("lbl", F.col("u")),
        "cc-labels",
    )
    for _ in range(max_iter):
        nbr = e2.join(
            labels.select(F.col("u").alias("v"), "lbl"), "v"
        ).select("u", "lbl")
        # convergence check fused into the round (same move as
        # graph.connected_components): each node's old label rides
        # through the union+aggregate (labels holds exactly one row per
        # node, so min(_old) skipping the neighbor rows' NULLs recovers
        # it) and `changed` is a filter-count over the freshly cut frame
        # instead of a second new × old join per round.
        new = _cut(
            labels.withColumn("_old", F.col("lbl"))
            .unionByName(nbr, allowMissingColumns=True)
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"), F.min("_old").alias("_old")),
            "cc-labels",
        )
        changed = new.filter(F.col("lbl") != F.col("_old")).count()
        labels = new.select("u", "lbl")
        if changed == 0:
            break
    else:
        raise ValueError(
            f"dedup_clusters: no fixpoint after max_iter={max_iter} rounds "
            "(component diameter exceeds the bound); raise max_iter"
        )
    # expand back: lbl(u) = lbl2(h(u)); contracted roots absent from
    # the (possibly empty) e2 label frame keep h(u) itself
    labels = h.join(
        labels.select(F.col("u").alias("h"), "lbl"), "h", "left"
    ).select(
        "u",
        F.coalesce("lbl", F.col("h")).alias("lbl"),
        *(["_deg"] if emit_degree else []),
    )

    base = (
        corpus.select(F.col(id_col).alias("u"))
        if corpus is not None
        else edges.select("u").distinct()
    )
    out = base.join(labels, "u", "left").select(
        F.col("u").alias(id_col),
        F.coalesce("lbl", F.col("u")).alias("cluster_id"),
        *(
            [F.coalesce("_deg", F.lit(0)).cast("long").alias("dup_degree")]
            if emit_degree
            else []
        ),
    )
    w = Window.partitionBy("cluster_id")
    return out.select(
        id_col,
        *(["dup_degree"] if emit_degree else []),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        # min over PRESENT members, not == cluster_id: if corpus lacks
        # the component's min-id doc, the cluster must still elect one
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_keeper"),
    )


def srp_plane_ints(band: int, bit: int, dim: int) -> list[int]:
    """Deterministic hyperplane for banded SRP: component j is
    md5(band|bit|j) truncated to 48 bits and centered — an integer that
    is EXACT in a double, so any engine deriving the same md5 computes
    bit-identical dot-product signs (the plane's norm is irrelevant to
    the sign)."""
    import hashlib

    return [
        int(hashlib.md5(f"{band}|{bit}|{j}".encode()).hexdigest()[:12], 16) - (1 << 47)
        for j in range(dim)
    ]


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    dim: int = 64,
    bands: int = 16,
    bits_per_band: int = 12,
    max_bucket_size: int | None = None,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Cosine near-duplicates via banded sign-random-projection LSH +
    exact re-rank (the same candidate scheme ``similarity.srp_lsh_topk``
    uses): a pair is a candidate when ALL ``bits_per_band`` sign bits of
    some band agree, then candidates are scored with the exact cosine.

    An all-pairs-within-block join is quadratic in the block size; here
    the bucket join's collision probability for a non-dup pair is
    ~2^-bits_per_band per band, and recall at cosine c is
    1-(1-p^bits)^bands with p = 1 - arccos(c)/pi (defaults: ~99% at
    0.95). Buckets shuffle as compact (band, int) keys; vectors move
    only for candidate pairs.

    ``max_bucket_size``: same 100 TB degenerate-bucket armor as
    ``minhash_near_dups`` (e.g. millions of zero/constant vectors
    landing in one bucket emit ~n²/2 candidates); buckets above the cap
    are excluded from candidate generation. Off by default. Pass ``cap_stats={}`` to receive the
    excluded bucket/row counts (no-silent-caps; see ``_cap_buckets``).
    """
    from capex_data_pipeline_spark.extensions.similarity import cosine

    # Fail LOUDLY on a dim mismatch: zip_with pads the shorter side with
    # nulls, the dot product goes NULL, every sign bit reads 0, and every
    # vector lands in bucket 0 of every band — the candidate join would
    # silently degrade to the exact all-pairs blowup this design removes,
    # while still returning plausible-looking rows.
    checked_v = F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"embedding_near_dups: dim={dim} but {vec_col} has length "
                ),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )
    e = df.select(
        F.col(id_col).alias("id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("blk"),
        checked_v.alias("v"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, "id")

    def bucket_expr(band: int) -> F.Column:
        # integer bucket = sum of sign bits; plane components embedded as
        # exact double literals (parsed once — no per-literal py4j calls)
        terms = []
        for bit in range(bits_per_band):
            comps = ", ".join(
                f"{c}D" for c in srp_plane_ints(band, bit, dim)
            )
            dot = (
                f"aggregate(zip_with(v, array({comps}), (x, y) -> x * y),"
                f" 0D, (acc, x) -> acc + x)"
            )
            terms.append(f"IF({dot} > 0, {1 << bit}, 0)")
        return F.expr("(" + " + ".join(terms) + ")")

    buckets = e.select(
        "id",
        "blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        bucket_expr(band).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "id", "blk", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    ).transform(persisted)
    # persisted: the bucket projection (bits_per_band x bands dot
    # products per row) is the dominant cost and the self-join below
    # would compute it twice (HOF lambdas defeat ReuseExchange); the
    # cached frame is compact ints

    if max_bucket_size is not None:
        buckets = _cap_buckets(buckets, ["blk", "band", "bucket"], max_bucket_size, cap_stats)

    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _banded_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    k: int,
    persist: bool = False,
) -> DataFrame:
    """(id, sig, band, bhash) rows — the signature + banding projection
    shared by the self-join and incremental near-dup paths.  Same math
    as ``minhash_near_dups`` (md5-seeded shingle minima, per-band md5
    of the signature slice).  ``persist`` only when the caller consumes
    the frame more than once (the self-join case)."""
    rows_per_band = num_hashes // bands

    def seeded(i: int):
        prefix = f"{i}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "id")
        .withColumn("_sh", _shingles_expr("_t", k))
        .select(
            "id",
            F.array(
                *[
                    F.array_min(F.transform(F.col("_sh"), seeded(i)))
                    for i in range(num_hashes)
                ]
            ).alias("sig"),
        )
    )
    if persist:
        sig = persisted(sig)
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1, rows_per_band
                                ),
                                "|",
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "id", "sig", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash")
    )


def minhash_near_dups_incremental(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int | None = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    cap_stats: dict | None = None,
    index_is_banded: bool = False,
) -> DataFrame:
    """Incremental near-dedup: find near-duplicates of a NEW batch
    against an EXISTING corpus index — the daily-crawl shape, where
    re-self-joining the whole corpus per increment would redo ~all the
    work for a sliver of new pairs.

    Candidates come from a BIPARTITE band join (new × index) instead of
    the self-join: cost scales with the new batch's bucket collisions,
    not the index size, and the index side's (band, bhash, sig) rows
    are exactly what ``_banded_minhash`` computes — in a real pipeline
    they are computed once at ingest and stored as the persistent
    index; re-deriving them here from the index corpus keeps the
    operator closed-form (and the oracle exact).  Same signature math
    and S-curve recall as ``minhash_near_dups``.

    Returns (new_id, index_id, est_jaccard) with estimate ≥ threshold.
    New-vs-new duplicates are NOT reported (run ``minhash_near_dups``
    on the batch for those); an id in both frames never pairs with
    itself.  ``max_bucket_size`` caps INDEX-side buckets (degenerate
    buckets live in the accumulated index; ``cap_stats`` reports drops,
    no-silent-caps).

    ``index_is_banded=True`` declares ``index_docs`` to already BE the
    banded index frame (id, band, bhash, sig) — pass
    ``spark.table()`` over a :func:`build_neardup_index` bucketed
    table and every probe batch joins WITHOUT re-shuffling (or
    re-deriving) the index side: the bucketed scan is already
    hash-partitioned on the band key, so only the (small) new batch
    pays an Exchange. That is the steady-state daily-crawl economics;
    the default closed-form re-derivation stays for one-shot use and
    for the q75 oracle.
    """
    if bands is None:
        bands = banding_for_threshold(num_hashes, threshold)
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")

    nb = _banded_minhash(new_docs, text_col, id_col, num_hashes, bands, k)
    if index_is_banded:
        # index_docs IS the stored banded index (id, band, bhash, sig) —
        # e.g. spark.table() over build_neardup_index's bucketed table,
        # whose scan arrives hash-partitioned on the band key so the
        # probe join needs NO index-side Exchange (pinned in
        # tests/test_bucketed.py)
        missing = {"id", "band", "bhash", "sig"} - set(index_docs.columns)
        if missing:
            raise ValueError(
                f"index_is_banded=True but index frame lacks {sorted(missing)}"
            )
        ib = index_docs
    else:
        ib = _banded_minhash(index_docs, text_col, id_col, num_hashes, bands, k)
    if max_bucket_size is not None:
        ib = _cap_buckets(ib, ["band", "bhash"], max_bucket_size, cap_stats)

    pairs = (
        nb.alias("n")
        .join(
            ib.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bhash") == F.col("i.bhash"))
            & (F.col("n.id") != F.col("i.id")),
        )
        .select(
            F.col("n.id").alias("new_id"),
            F.col("i.id").alias("index_id"),
            F.col("n.sig").alias("sig_a"),
            F.col("i.sig").alias("sig_b"),
        )
        .dropDuplicates(["new_id", "index_id"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    return pairs.select(
        "new_id", "index_id", F.round(est, 4).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)


def build_neardup_index(
    index_docs: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
    n_buckets: int = 32,
    path: str | None = None,
) -> DataFrame:
    """Persist the banded-minhash index as a parquet table BUCKETED
    (and per-bucket sorted) on the band keys, and return the read-back
    frame. This is the storage layout the incremental near-dedup path
    (q75) wants at 100 TB: the index's ONE shuffle onto (band, bhash)
    is paid at write time, after which every daily probe batch joins
    against a scan that is already hash-partitioned on the join key —
    zero index-side Exchange per increment, however many increments
    run (pinned in tests/test_bucketed.py). Size ``n_buckets`` like
    shuffle partitions: one bucket ~ one executor-memory unit of index
    rows at target scale. Pass the returned frame (or
    ``spark.table(table)`` in a later session) to
    :func:`minhash_near_dups_incremental` with ``index_is_banded=True``;
    ``num_hashes``/``bands``/``k`` must match the probe call's.
    """
    from capex_data_pipeline_spark.sources.sinks import write_bucketed_table

    ib = _banded_minhash(index_docs, text_col, id_col, num_hashes, bands, k)
    write_bucketed_table(
        ib,
        table,
        n_buckets,
        ["band", "bhash"],
        sort_cols=["band", "bhash"],
        path=path,
    )
    return index_docs.sparkSession.table(table)


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_text: bool = True,
) -> DataFrame:
    """Substring-level duplicated-span detection — the suffix-array
    modality of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", public), re-expressed in the engine's
    compact-key shingle shape instead of a monolithic suffix array:

    1. every document emits its POSITIONAL word ``k``-shingles (unlike
       ``_shingles_expr`` these are not distinct — position matters),
       fingerprinted to a 32-hex md5 so nothing wider than
       (id, pos, digest) ever shuffles;
    2. one hash aggregate finds shingles present in ≥ ``min_docs``
       DISTINCT documents (cross-document duplication — within-doc
       repetition alone does not qualify);
    3. per document, maximal runs of consecutive duplicated shingle
       positions merge into spans via ONE keyed window
       (gaps-and-islands: ``pos - row_number()`` is constant within a
       run) — a maximal duplicated span of length L ≥ k has all its
       L-k+1 shingles duplicated, so it surfaces as one island.

    ``k`` is therefore the minimum duplicated-span length in tokens
    (Lee et al. use 50; the default here is test-sized). Approximation
    vs a true suffix array: adjacent shingles duplicated against
    DIFFERENT partner documents chain into one reported span — the
    standard recall-safe over-merge of the shingle formulation.

    Tokens are :func:`normalized_text` words, so span offsets index
    the normalized token stream (0-based). Returns one row per
    maximal span: (id_col, span_start, span_len[, span_text]);
    ``with_text=False`` skips the second document scan that slices
    the span text back out of the token arrays and instead carries
    ``_span_fp`` — an md5 over the island's ordered shingle digests,
    a corpus-scan-free content identity (equal iff the span text is
    equal, md5 collisions aside).

    Scale shape: the positional-shingle frame is corpus-token-sized
    but every row is compact; the duplicated-shingle set is found by
    one digest-keyed aggregate and applied with a semi join; the
    islands window shuffles ONLY duplicated positions (tiny unless
    the corpus is pathologically duplicated). No pairwise joins
    anywhere — the cross-doc evidence is the aggregate, never an
    all-pairs comparison.
    """
    if k < 2:
        raise ValueError(f"duplicated_spans: k={k} must be >= 2")
    if min_docs < 2:
        raise ValueError(
            f"duplicated_spans: min_docs={min_docs} must be >= 2 "
            "(1 would mark every position of every document)"
        )
    from pyspark.sql.window import Window

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda s: s != "",
    )
    toks = docs.select(F.col(id_col).alias("_id"), words.alias("_tk"))
    sh = (
        toks.filter(F.size("_tk") >= k)
        .select(
            "_id",
            F.explode(
                F.sequence(F.lit(0), F.size("_tk") - k)
            ).alias("pos"),
            "_tk",
        )
        .select(
            "_id",
            "pos",
            F.md5(
                F.array_join(F.slice("_tk", F.col("pos") + 1, k), " ")
            ).alias("_h"),
        )
    )
    dup = (
        sh.groupBy("_h")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    d = sh.join(dup, "_h", "left_semi")
    isl = d.withColumn(
        "_isl",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("_id").orderBy("pos")
        ),
    )
    # span_fp: md5 over the island's ordered shingle digests — a
    # content identity computable WITHOUT re-reading the corpus (two
    # spans share every shingle hash at matching offsets iff their
    # text is identical, md5 collisions aside). remove_duplicated_spans
    # elects keepers on it, saving the span-text slice scan.
    spans = isl.groupBy("_id", "_isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k) - F.min("pos")).alias("span_len"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "_h"))
                    ),
                    lambda s: s["_h"],
                ),
                "|",
            )
        ).alias("_span_fp"),
    )
    if not with_text:
        return spans.select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_len").cast("long"),
            "_span_fp",
        )
    return (
        spans.join(toks, "_id")
        .select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_len").cast("long"),
            F.array_join(
                F.slice(
                    "_tk", F.col("span_start") + 1, F.col("span_len")
                ),
                " ",
            ).alias("span_text"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    protect_kept: bool = False,
) -> DataFrame:
    """The removal half of the Lee et al. span-dedup modality: keep
    exactly ONE occurrence of every duplicated span (the canonical
    keeper = lowest (doc id, span_start) among occurrences of that
    exact span text) and cut every other occurrence out of its
    document's normalized token stream. :func:`duplicated_spans`
    finds; this fixes.

    Per-document spans are MAXIMAL islands of duplicated shingle
    START positions, so within a doc no two spans share a shingle
    start — cuts therefore compose by simple position filtering on
    token index. Note the islands are disjoint in shingle starts,
    NOT necessarily in token ranges: two islands whose start
    positions are separated by a gap of 1..k-1 overlap in their last/
    first k-1 tokens, so cutting a non-canonical span can remove
    tokens that also belong to a kept canonical occurrence nearby
    (eroding up to k-1 of its edge tokens). The engine and the q108
    oracle implement identical semantics here — the "keep exactly ONE
    occurrence" contract is exact for spans ≥ k tokens apart and
    edge-approximate for near-adjacent ones. ``protect_kept=True``
    opts into the STRONGER contract (the merge-overlapping-islands
    semantics): every cut range is trimmed against the token ranges
    of the SAME document's canonical (kept) spans, so a kept
    occurrence always survives byte-intact — at the price of leaving
    up to k-1 duplicated edge tokens per near-adjacent cut in the
    text (the reverse trade of the default; pick per pipeline). The
    cleaned text is the normalized token stream minus cut spans —
    span dedup operates on normalized tokens by construction, so the
    output stays in that space (one more reason the normalization is
    the engine-wide :func:`normalized_text`).

    Scale shape: the spans frame (duplicated-span-sized, tiny vs the
    corpus) gets one keeper window keyed on the span's shingle-digest
    fingerprint (``_span_fp`` — content identity WITHOUT the
    span-text slice scan, so the corpus is read exactly TWICE: the
    shingle pass and the final cut join); the cut list aggregates per
    doc and joins the token frame on the doc id — ONE corpus-keyed
    join — and the cut itself is a map-side higher-order filter over
    each doc's token array (cut lists are per-doc small). Docs
    without cuts pass through unchanged via the left join.

    Returns one row per input document: (id_col, cleaned_text,
    n_removed_tokens) — empty/NULL docs yield ('', 0).
    """
    spans = duplicated_spans(
        docs,
        k=k,
        min_docs=min_docs,
        text_col=text_col,
        id_col=id_col,
        with_text=False,
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("_span_fp").orderBy(
        F.asc(id_col), F.asc("span_start")
    )
    ranked = spans.withColumn("_rk", F.row_number().over(w))
    if protect_kept:
        # two consumers (cut list + keep list) of the expensive
        # shingle-pass-derived frame — persist so it runs once
        ranked = persisted(ranked)

    def _ranges(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy(id_col).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("span_start").alias("s"),
                        F.col("span_len").alias("l"),
                    )
                )
            ).alias(name)
        )

    cuts = _ranges(ranked.filter(F.col("_rk") > 1), "_cuts")
    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda s: s != "",
    )
    toks = docs.select(F.col(id_col), words.alias("_tk"))

    def _covered(ranges: Column, s: Column) -> Column:
        return F.exists(
            ranges,
            lambda c: (s["i"] >= c["s"]) & (s["i"] < c["s"] + c["l"]),
        )

    _empty_ranges = F.array().cast("array<struct<s:bigint,l:bigint>>")
    cuts_or_empty = F.coalesce(F.col("_cuts"), _empty_ranges)
    indexed = F.transform(
        F.col("_tk"), lambda x, i: F.struct(x.alias("t"), i.alias("i"))
    )
    if protect_kept:
        keeps_or_empty = F.coalesce(F.col("_keeps"), _empty_ranges)
        kept = F.filter(
            indexed,
            lambda s: ~_covered(cuts_or_empty, s)
            | _covered(keeps_or_empty, s),
        )
        toks = toks.join(
            _ranges(ranked.filter(F.col("_rk") == 1), "_keeps"),
            id_col,
            "left",
        )
    else:
        kept = F.filter(indexed, lambda s: ~_covered(cuts_or_empty, s))
    return (
        toks.join(cuts, id_col, "left")
        .select(
            id_col,
            F.array_join(
                F.transform(kept, lambda s: s["t"]), " "
            ).alias("cleaned_text"),
            (F.size("_tk") - F.size(kept))
            .cast("long")
            .alias("n_removed_tokens"),
        )
    )


def repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_text: bool = True,
) -> DataFrame:
    """WITHIN-document repeated-span detection — the self-repetition
    half of the Lee et al. modality (:func:`duplicated_spans` is the
    cross-document half; a suffix array surfaces both): maximal runs
    of word ``k``-shingles that occur at least ``min_occurrences``
    times inside the SAME document. This localizes what
    ``cleaning.repetition_metrics`` only scores — the positions of
    boilerplate loops, stuttering generations, and copy-paste runs.

    Scale shape: the positional-shingle frame gets its per-(doc,
    shingle) occurrence count from ONE window on the compact (id,
    digest) key — no join-back at all — and the islands window then
    shuffles only self-repeated positions. Map-only otherwise; same
    over-merge caveat as the cross-doc operator (adjacent positions
    repeated via different shingles chain into one span).

    Returns one row per maximal span: (id_col, span_start, span_len
    [, span_text]) over the normalized token stream, 0-based.
    """
    if k < 2:
        raise ValueError(f"repeated_spans: k={k} must be >= 2")
    if min_occurrences < 2:
        raise ValueError(
            f"repeated_spans: min_occurrences={min_occurrences} must be "
            ">= 2 (1 would mark every position)"
        )
    from pyspark.sql.window import Window

    words = F.filter(
        F.split(normalized_text(F.col(text_col)), " "),
        lambda s: s != "",
    )
    toks = docs.select(F.col(id_col).alias("_id"), words.alias("_tk"))
    sh = (
        toks.filter(F.size("_tk") >= k)
        .select(
            "_id",
            F.explode(
                F.sequence(F.lit(0), F.size("_tk") - k)
            ).alias("pos"),
            "_tk",
        )
        .select(
            "_id",
            "pos",
            F.md5(
                F.array_join(F.slice("_tk", F.col("pos") + 1, k), " ")
            ).alias("_h"),
        )
    )
    d = sh.withColumn(
        "_cnt",
        F.count(F.lit(1)).over(Window.partitionBy("_id", "_h")),
    ).filter(F.col("_cnt") >= min_occurrences)
    isl = d.withColumn(
        "_isl",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("_id").orderBy("pos")),
    )
    spans = isl.groupBy("_id", "_isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k) - F.min("pos")).alias("span_len"),
    )
    if not with_text:
        return spans.select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_len").cast("long"),
        )
    return spans.join(toks, "_id").select(
        F.col("_id").alias(id_col),
        F.col("span_start").cast("long"),
        F.col("span_len").cast("long"),
        F.array_join(
            F.slice("_tk", F.col("span_start") + 1, F.col("span_len")),
            " ",
        ).alias("span_text"),
    )


def cluster_canonical(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Elect the best-quality CANONICAL document per near-dup cluster —
    the selection step that turns clustering (``dedup_clusters``) into
    an actual curation decision: instead of "keep the min id"
    (arbitrary), keep the duplicate a quality signal prefers (highest
    language-model score, entropy, length — whatever ``quality``
    carries), the policy web-corpus pipelines apply when near-dup
    groups mix a clean original with mangled re-crawls.

    Election is deterministic: max ``score_col`` wins, NULL scores
    sort last, ties break to the smallest ``id_col``. Scale shape: one
    equi-join on the id key to attach scores (left join — docs missing
    a score still compete, after every scored doc), then ONE window
    over ``cluster_col`` (single shuffle on the cluster key; cluster
    sizes are near-dup groups, naturally small — a degenerate giant
    cluster is the capped-LSH pathology handled upstream).

    Returns one row per cluster:
    ``(cluster_col, canonical_doc_id, cluster_size, canonical_score)``.
    """
    from pyspark.sql.window import Window

    scored = clusters.select(id_col, cluster_col).join(
        quality.select(
            F.col(id_col), F.col(score_col).alias("_score")
        ),
        id_col,
        "left",
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.col("_score").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.select(
            cluster_col,
            F.col(id_col),
            F.col("_score"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy(cluster_col))
            .alias("cluster_size"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            cluster_col,
            F.col(id_col).alias("canonical_doc_id"),
            "cluster_size",
            F.col("_score").alias("canonical_score"),
        )
    )


def cluster_safe_split(
    docs: DataFrame,
    splits: "list[tuple[str, float]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    seed: str = "s0",
) -> DataFrame:
    """Near-dup-safe train/val/test assignment — the PREVENTION
    counterpart of the q104 leakage AUDIT: split decisions hash the
    NEAR-DUP CLUSTER id (MinHash-LSH pairs closed into connected
    components, :func:`dedup_clusters`), so no near-duplicate pair
    can straddle the train/test boundary BY CONSTRUCTION — the
    contamination a plain group/source-hash split misses whenever a
    near-dup crosses groups (mirrors, syndication, re-posts: exactly
    the duplicates a web corpus has).

    Composition of proven parts: q31's banded candidate join → q38's
    min-label clustering (O(diameter) compact-key rounds) → the
    engine-portable md5 ``assign_split`` keyed on the cluster id
    (map-only once the cluster frame exists). Singleton docs are
    their own cluster, so coverage is total.

    Returns (id_col, cluster_id, split) — one row per input doc.
    """
    from capex_data_pipeline_spark.extensions.corpus import assign_split

    pairs = minhash_near_dups(
        docs,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    clusters = dedup_clusters(pairs, corpus=docs, id_col=id_col).select(
        id_col, "cluster_id"
    )
    return assign_split(
        clusters, group_col="cluster_id", splits=splits, seed=seed
    ).select(id_col, "cluster_id", "split")


def source_overlap_minhash(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = DEFAULT_SHINGLE_K,
    decimals: int = 6,
) -> DataFrame:
    """Dataset-pair overlap audit via per-SOURCE MinHash signatures:
    estimated Jaccard similarity of the shingle SETS of every source
    pair — "how much of dump A is inside dump B", the audit a corpus
    curator runs across crawl snapshots / vendor drops before
    deciding what to dedup against what (doc-level near-dup, q31,
    answers a different question: WHICH documents collide).

    Scale shape: the signature is an ALGEBRAIC aggregate — per
    (source, seed) min of md5(seed|shingle) over the source's
    distinct shingles, map-side partial min, sources × num_hashes
    cells total — so the estimate costs one scan regardless of corpus
    size and signatures from different days merge by min. The exact
    Jaccard rides along from the distinct (source, shingle) frame
    (the shuffle the sketch avoids at 100 TB — drop it there; the
    estimate's error is bounded by 1/sqrt(num_hashes)).

    Returns (source_a, source_b, n_a, n_b, exact_jaccard,
    est_jaccard, abs_error) for every source pair, source_a <
    source_b; zero-overlap pairs report 0.0, not absence.
    """
    from capex_data_pipeline_spark.cache import persisted

    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: {num_hashes}")
    sh = persisted(
        docs.select(
            F.col(source_col).alias("_src"),
            F.explode(_shingles_expr(text_col, k)).alias("_s"),
        )
        .filter(F.col("_s") != "")
        .distinct()
    )
    seeds = F.array(*[F.lit(str(j)) for j in range(num_hashes)])
    sig = (
        sh.select("_src", F.explode(seeds).alias("_j"), "_s")
        .select(
            "_src",
            "_j",
            F.md5(F.concat(F.col("_j"), F.lit("|"), F.col("_s"))).alias("_h"),
        )
        .groupBy("_src", "_j")
        .agg(F.min("_h").alias("_mh"))
    )
    est = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a._j") == F.col("b._j"))
            & (F.col("a._src") < F.col("b._src")),
        )
        .groupBy(
            F.col("a._src").alias("source_a"),
            F.col("b._src").alias("source_b"),
        )
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("a._mh") == F.col("b._mh"), 1).otherwise(0)
                )
                / F.lit(float(num_hashes)),
                decimals,
            ).alias("est_jaccard")
        )
    )
    sizes = sh.groupBy("_src").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x._s") == F.col("y._s"))
            & (F.col("x._src") < F.col("y._src")),
        )
        .groupBy(
            F.col("x._src").alias("source_a"),
            F.col("y._src").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    exact = F.round(
        F.coalesce(F.col("_i"), F.lit(0))
        / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("_i"), F.lit(0))).cast(
            "double"
        ),
        decimals,
    )
    return (
        est.join(
            sizes.select(F.col("_src").alias("source_a"), F.col("n").alias("n_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("_src").alias("source_b"), F.col("n").alias("n_b")),
            "source_b",
        )
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            exact.alias("exact_jaccard"),
            "est_jaccard",
            F.round(F.abs(F.col("est_jaccard") - exact), decimals).alias(
                "abs_error"
            ),
        )
    )


def _ppjoin_ordered(
    docs: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Tokenize + rarest-first ordering + prefix length for the PPJoin
    family: returns a persisted (id, ts, _plen) frame where ``ts`` is
    the doc's distinct tokens sorted by ascending global document
    frequency (ties by token) and ``_plen`` is the prefix length
    ``n - ceil(t·n) + 1``.

    ``ts`` carries 64-bit TOKEN IDS (``xxhash64``), not the token
    strings, whenever the hash is PROVEN injective on this corpus's
    vocabulary (one vocab-sized aggregate: distinct tokens ==
    distinct hashes certifies a bijection, so every downstream
    equi-join and ``array_intersect`` over ids is value-identical to
    operating on the strings — and 3-4× cheaper per pair: 8-byte
    long compares instead of string hashing across the ~10M-pair
    verify stage, and the candidate explode shuffles fixed 8-byte
    keys). On a hash collision (probability ~|vocab|²/2⁶⁴) it falls
    back LOUDLY to the string path — same results, old cost; exact
    either way."""
    import warnings

    from capex_data_pipeline_spark.cache import persisted

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(normalized_text(F.col(text_col)), " "),
                    lambda w: w != "",
                )
            )
        ).alias("ts"),
    ).filter(F.size("ts") > 0)
    freq = persisted(
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    chk = freq.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.xxhash64("tok")).alias("nh"),
    ).first()
    use_ids = int(chk["n"]) == int(chk["nh"])
    if not use_ids:
        warnings.warn(
            "_ppjoin_ordered: xxhash64 collision on this vocabulary "
            f"({chk['n']} tokens, {chk['nh']} distinct hashes) — "
            "falling back to string token keys (correct, slower)",
            stacklevel=2,
        )
    # rarest-first ordering: sort structs (df, tok) ascending, then a
    # prefix of length n - ceil(t*n) + 1; sets with Jaccard >= t must
    # share a prefix token under ANY consistent global order. The id
    # struct carries (df, tok, tid): (df, tok) is unique per doc, so
    # appending tid never alters the sort order, and the codegen'd
    # per-row hash column avoids an interpreted per-element HOF hash.
    tok_struct = (
        F.struct(F.col("df"), F.col("tok"), F.xxhash64("tok").alias("tid"))
        if use_ids
        else F.struct(F.col("df"), F.col("tok"))
    )
    return persisted(
        toks.select("id", F.explode("ts").alias("tok"))
        .join(freq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(tok_struct)),
                lambda s: s["tid"] if use_ids else s["tok"],
            ).alias("ts")
        )
        .withColumn(
            # prefix length n - ceil(t·n) + 1; the 1e-9 guards the
            # IEEE product overshooting an exact integer (5 × 0.6 =
            # 3.0000000000000004 → ceil 4 would SHORTEN the prefix and
            # break completeness — a longer prefix is always safe,
            # a shorter one silently drops qualifying pairs)
            "_plen",
            F.size("ts")
            - F.ceil(
                F.size("ts") * F.lit(float(threshold)) - F.lit(1e-9)
            ).cast("int")
            + 1,
        )
    )


def _ppjoin_candidates(
    ordered: DataFrame,
    threshold: float,
    positional: bool = True,
) -> DataFrame:
    """Candidate pairs for the PPJoin prefix filter, optionally with
    the length + positional filters (the "+P" of Xiao et al. 2008)
    and the aggregated suffix-bound filter (PPJoin+'s idea in
    aggregate form — see the inline comment). Returns ONE row per
    candidate pair: (id_a, id_b, _cnt, _pa, _pb), where ``_cnt`` is
    the matched-prefix-token count and ``_pa``/``_pb`` the 0-based
    positions of the last matched prefix token — the verify stage's
    inputs for suffix-only intersection.

    Both per-token filters are sound PER MATCHED TOKEN, so the pair
    aggregate keeps every qualifying pair (a pair survives if ANY
    shared prefix token passes):

    - length: Jaccard <= min(n_a,n_b)/max(n_a,n_b), so a qualifying
      pair needs min >= t·max.
    - positional: Jaccard >= t  ⇔  overlap >= α = ⌈t·(n_a+n_b)/(1+t)⌉.
      For a shared token at 1-based positions (i, j) of the two
      rarest-first orderings, common tokens ordered BEFORE it number
      at most min(i-1, j-1) (a common token sorts before position i
      in BOTH lists under the shared total order), and common tokens
      at-or-after it number at most 1 + min(n_a-i, n_b-j); so
      overlap <= min(i-1,j-1) + 1 + min(n_a-i, n_b-j). If that upper
      bound is < α for a given shared token, the token cannot witness
      a qualifying pair. Both ceil guards carry the 1e-9 IEEE-overshoot
      protection (loosening is safe, tightening drops pairs).
    """
    pre = ordered.select(
        "id",
        F.size("ts").alias("n"),
        F.posexplode(F.slice("ts", 1, F.col("_plen"))).alias("p", "tok"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    cond = (F.col("a.tok") == F.col("b.tok")) & (
        F.col("a.id") < F.col("b.id")
    )
    na, nb = F.col("a.n"), F.col("b.n")
    if positional:
        # length filter: min(n) >= t*max(n) (1e-9-guarded downward) —
        # PAIR-level (the same truth for every matched token of a
        # pair), so it stays in the join condition
        cond = cond & (
            F.least(na, nb).cast("double")
            >= F.greatest(na, nb) * F.lit(float(threshold)) - F.lit(1e-9)
        )
    pa, pb = F.col("a.p"), F.col("b.p")  # 0-based: i-1 = pa
    alpha = F.ceil(
        (na + nb) * F.lit(float(threshold) / (1.0 + float(threshold)))
        - F.lit(1e-9)
    )
    if positional:
        # positional filter: overlap upper bound at this token >= alpha.
        # PER-token — evaluated as a flag (not a join condition) so the
        # pair aggregate below still sees EVERY matched prefix token:
        # the _cnt/_pa/_pb triple it produces is what lets the verify
        # stage intersect suffixes only (see jaccard_similarity_join);
        # a token-level filter here would silently undercount _cnt.
        # The pair survives iff ANY matched token passes — exactly the
        # pre-r14 candidate set.
        ok = (
            F.least(pa, pb)
            + F.lit(1)
            + F.least(na - pa - F.lit(1), nb - pb - F.lit(1))
            >= alpha
        )
    else:
        ok = F.lit(True)
    # ONE row per pair (same shuffle key as the old dropDuplicates,
    # map-side partials collapse identically) carrying the PPJoin
    # verify-stage inputs: _cnt = matched-prefix-token count, _pa/_pb =
    # 0-based positions of the LAST matched prefix token (under the
    # shared rarest-first total order, matched tokens have co-monotone
    # positions, so max(_pa) and max(_pb) name the SAME token).
    agg = (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            na.alias("_na"),
            nb.alias("_nb"),
            pa.alias("_pa"),
            pb.alias("_pb"),
            ok.alias("_ok"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.max("_pa").alias("_pa"),
            F.max("_pb").alias("_pb"),
            F.max("_na").alias("_na"),
            F.max("_nb").alias("_nb"),
            F.max("_ok").alias("_any_ok"),
        )
        .filter(F.col("_any_ok"))
    )
    if positional:
        # aggregated suffix-bound filter (the PPJoin+ idea in
        # aggregate form): every shared token ranks either <= the last
        # matched prefix token (all such are matched — they sit inside
        # BOTH prefixes — so there are exactly _cnt of them) or after
        # it in both orderings (at most min(remaining suffix lengths)
        # of them), hence overlap <= _cnt + min(n_a-_pa-1, n_b-_pb-1).
        # Pairs whose bound cannot reach alpha are dropped BEFORE the
        # verify stage fetches their token arrays (guide §2: cut data
        # before shuffling it). Strictly prunes non-qualifying pairs —
        # qualifying pairs always satisfy the bound, so recall is
        # untouched.
        av = F.ceil(
            (F.col("_na") + F.col("_nb"))
            * F.lit(float(threshold) / (1.0 + float(threshold)))
            - F.lit(1e-9)
        )
        agg = agg.filter(
            F.col("_cnt")
            + F.least(
                F.col("_na") - F.col("_pa") - F.lit(1),
                F.col("_nb") - F.col("_pb") - F.lit(1),
            )
            >= av
        )
    return agg.select("id_a", "id_b", "_cnt", "_pa", "_pb")


def jaccard_similarity_join(
    docs: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 6,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin family — Xiao, Wang, Lin & Yu, WWW 2008/TODS 2011, public
    algorithm): every pair of documents whose distinct-word-set
    Jaccard is >= ``threshold``, with NO recall loss — the exact
    sibling of the MinHash-LSH family (q31 trades recall for cost via
    the S-curve; this operator's candidate set PROVABLY contains
    every qualifying pair). The filter: order each doc's tokens by
    ascending global frequency (rarest first, ties by token), take
    the first ``n - ceil(t·n) + 1`` tokens as the prefix; two sets
    with Jaccard >= t MUST share a prefix token, so candidates are an
    equi-join on prefix tokens only. On top of the prefix filter sit
    the LENGTH filter (min size >= t·max size) and the POSITIONAL
    filter (per-token overlap upper bound >= ⌈t(n_a+n_b)/(1+t)⌉ —
    see :func:`_ppjoin_candidates` for the soundness argument), both
    exact-preserving. On a x50-duplicated sf0.01 corpus (5.4k docs,
    near-dup clones of identical length) they cut candidates 9.9%
    (11.9M -> 10.8M); length-diverse corpora prune harder.

    Scale shape: candidate cost scales with prefix-token collisions —
    and prefixes hold each doc's RAREST tokens, so hot tokens (stop
    words) are systematically excluded from the join key; the
    verify step re-joins the two token arrays and computes the exact
    intersection/union natively (array_intersect — no Python). The
    global frequency frame is vocab-sized; everything else shuffles
    compact (token, id) pairs. The oracle certifies completeness
    directly: it enumerates candidates from ANY shared token (a
    strictly larger candidate set) and must produce the same pairs.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    to ``decimals``; empty-token docs never pair.
    """
    ordered = _ppjoin_ordered(docs, threshold, text_col, id_col)
    cands = _ppjoin_candidates(ordered, threshold)
    sets = ordered.select("id", "ts")
    # |intersection| = _cnt + |intersect of the SUFFIXES past the last
    # matched prefix token| EXACTLY: every shared token ordered at or
    # before that token lies inside both prefixes (positions are
    # co-monotone under the shared total order) and is therefore one of
    # the _cnt matched rows the candidate aggregate counted; every
    # shared token after it sits strictly past _pa/_pb in both arrays.
    # So the per-pair hash build only covers the array TAILS (~60% of
    # the tokens at t=0.6, less for near-duplicates whose prefixes
    # overlap deeply) instead of the full arrays — guide §1.2 per-task
    # work, same value bit-for-bit.
    # |union| = n_a + n_b − |intersection| EXACTLY (both arrays are
    # distinct by construction) — two cached sizes and a subtraction
    # instead of a second per-pair hash build.
    suff_a = F.slice("_ta", F.col("_pa") + F.lit(2), F.size("_ta"))
    suff_b = F.slice("_tb", F.col("_pb") + F.lit(2), F.size("_tb"))
    inter = F.col("_cnt") + F.size(F.array_intersect(suff_a, suff_b))
    return (
        cands.join(sets.select(F.col("id").alias("id_a"), F.col("ts").alias("_ta")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("ts").alias("_tb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter
                / (F.size("_ta") + F.size("_tb") - inter).cast("double"),
                decimals,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_dup_summary(
    docs: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Compact CERTIFIED form of the exact set-similarity join: one
    row per document instead of one per qualifying pair. At 100 TB
    the pair set of :func:`jaccard_similarity_join` is output-bound
    on template-heavy corpora (7.1M pairs at sf0.1 already); what a
    dedup pipeline actually consumes downstream is per-document — how
    duplicated is this doc (``dup_degree`` = number of qualifying
    partners) and which component does it belong to (``cluster_id``/
    ``cluster_size``/``is_keeper`` via the same min-label-propagation
    machinery as :func:`dedup_clusters`). The pair frame still exists
    as an intermediate, but it is aggregated engine-side down to
    |docs| rows — nothing pair-shaped is ever materialized to the
    caller, which is the difference between shipping O(dups²) and
    O(docs) off the cluster.

    Returns (id_col, dup_degree, cluster_id, cluster_size, is_keeper);
    docs with no qualifying partner appear with dup_degree=0 and a
    singleton cluster.
    """
    from capex_data_pipeline_spark.cache import plan_boundary

    pairs = jaccard_similarity_join(
        docs, threshold=threshold, text_col=text_col, id_col=id_col
    ).select("id_a", "id_b")
    # symmetrize map-side (explode, ONE pass — a union of two selects
    # would embed the PPJoin subplan twice) and cut eagerly: the
    # expensive pair producer materializes exactly ONCE, and the
    # degree aggregate AND the clustering's contraction both stream
    # from this frame (pre-fuse: a tracked persist of the pairs PLUS
    # a second symmetrized materialization inside dedup_clusters —
    # the r12 double-materialization finding). id_a < id_b, so the
    # two orientations are disjoint and the result is distinct by
    # construction.
    edges = plan_boundary(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("u"), F.col("id_b").alias("v")
                    ),
                    F.struct(
                        F.col("id_b").alias("u"), F.col("id_a").alias("v")
                    ),
                )
            ).alias("_e")
        ).select("_e.u", "_e.v"),
        eager=True,
        label="ppjoin-edges",
    )
    # dup_degree (= symmetric edge count per doc) rides the clustering's
    # own contraction aggregate (emit_degree) — the standalone
    # edges.groupBy(u).count() was a SECOND full aggregation pass over
    # the 14.2M-row pair frame plus a node-sized join, whose shuffle
    # key (u) is identical to the contraction's.
    return dedup_clusters(
        edges,
        corpus=docs,
        id_col=id_col,
        id_a="u",
        id_b="v",
        assume_symmetric=True,
        emit_degree=True,
    ).select(
        id_col,
        "dup_degree",
        "cluster_id",
        "cluster_size",
        "is_keeper",
    )


def golden_record(
    df: DataFrame,
    cluster_col: str,
    mode_cols: "list[str]" = (),
    max_cols: "list[str]" = (),
    min_cols: "list[str]" = (),
) -> DataFrame:
    """Field-level SURVIVORSHIP: merge each duplicate cluster into one
    golden record — per field, the value that survives under its rule
    (``mode``: most frequent, NULL a value like any other, ties to the
    smallest value string; ``max``/``min``: the extreme). The step
    after clustering that :func:`cluster_canonical` does NOT do: the
    canonical election keeps ONE member row; survivorship builds a
    BETTER row than any member (the freshest price from one source,
    the most attested name from another) — the entity-resolution
    merge every MDM / catalog pipeline ends with.

    Scale shape: ALL mode fields are elected in ONE pass — the table
    melts into compact (cluster, field, value-string) triples (the
    q178 ``_stats_melt`` shape), one count aggregate + one
    (cluster, field)-partitioned WindowGroupLimit election covers
    every field, and one pivot over the field METADATA domain turns
    the winners back into columns — so a 30-field survivorship costs
    the same two shuffles as a 3-field one, not 30 joins (r10's
    per-field loop; measured 1.03 s for 3 fields vs 1.27 s for 12 on
    a 5k-row clustered frame).
    One further aggregate covers all max/min fields, and one
    cluster-keyed join assembles the golden row. Never a per-cluster
    collect. Mode fields return as strings (values cross a
    CASE-insensitive union of field types; callers cast back).

    Returns one row per cluster: (cluster_col, n_members,
    <f>_max..., <f>_min..., <f>_mode...).
    """
    from pyspark.sql.window import Window

    if not (list(mode_cols) or list(max_cols) or list(min_cols)):
        raise ValueError("golden_record: no survivorship fields given")
    base = df.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        *[F.max(c).alias(f"{c}_max") for c in max_cols],
        *[F.min(c).alias(f"{c}_min") for c in min_cols],
    )
    if not list(mode_cols):
        return base
    melted = df.select(
        F.col(cluster_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("_f"),
                        F.coalesce(
                            F.col(c).cast("string"), F.lit("<null>")
                        ).alias("_v"),
                    )
                    for c in mode_cols
                ]
            )
        ).alias("_m"),
    ).select(
        cluster_col,
        F.col("_m._f").alias("_f"),
        F.col("_m._v").alias("_v"),
    )
    w = Window.partitionBy(cluster_col, "_f").orderBy(
        F.desc("_n"), F.asc("_v")
    )
    winners = (
        melted.groupBy(cluster_col, "_f", "_v")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    # pivot over the explicit field list: the pivot domain is operator
    # metadata, no discovery pass over the data
    modes = winners.groupBy(cluster_col).pivot(
        "_f", list(mode_cols)
    ).agg(F.first("_v"))
    for c in mode_cols:
        modes = modes.withColumnRenamed(c, f"{c}_mode")
    return base.join(modes, cluster_col)


def minhash_cross_dups(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int | None = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
    threshold: float = 0.5,
    broadcast_bench: bool = True,
) -> DataFrame:
    """FUZZY decontamination: MinHash-LSH between TWO frames — every
    corpus document whose signature shares a band with a benchmark
    document, with the signature-estimated Jaccard. The near-dup
    generalization of q47's exact-shingle contamination check: a
    benchmark question paraphrased, truncated, or reformatted still
    collides in band space, where exact shingle membership misses it.

    Same signature/banding math as :func:`minhash_near_dups` (so the
    oracle replays one shared definition), but the join is
    corpus-banded x BENCHMARK-banded: the benchmark side is
    eval-sized, so with ``broadcast_bench`` its banded frame
    broadcasts and the corpus NEVER SHUFFLES — the flag is applied
    map-side in one pass, the same plan shape as q47's broadcast
    shingle set. Returns (corpus id, bench id, est_jaccard >=
    threshold), distinct per pair.
    """
    if bands is None:
        bands = banding_for_threshold(num_hashes, threshold)
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    rows_per_band = num_hashes // bands
    bench_text_col = bench_text_col or text_col
    bench_id_col = bench_id_col or id_col

    def _banded(df: DataFrame, tcol: str, icol: str, tag: str) -> DataFrame:
        def seeded(i: int):
            prefix = f"{i}|"
            return lambda s: F.md5(F.concat(F.lit(prefix), s))

        sig = (
            df.select(F.col(icol).alias(f"{tag}id"), F.col(tcol).alias("_t"))
            .withColumn("_sh", _shingles_expr("_t", k))
            .select(
                f"{tag}id",
                F.array(
                    *[
                        F.array_min(F.transform(F.col("_sh"), seeded(i)))
                        for i in range(num_hashes)
                    ]
                ).alias(f"{tag}sig"),
            )
        )
        return sig.select(
            f"{tag}id",
            f"{tag}sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.array_join(
                                    F.slice(
                                        F.col(f"{tag}sig"),
                                        b * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                    "|",
                                )
                            ).alias("bhash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select(
            f"{tag}id", f"{tag}sig",
            F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"),
        )

    c = _banded(corpus, text_col, id_col, "c_")
    b = _banded(bench, bench_text_col, bench_id_col, "b_")
    if broadcast_bench:
        b = F.broadcast(b)
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("c_sig"), F.col("b_sig"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        c.join(b, ["band", "bhash"])
        .select("c_id", "b_id", "c_sig", "b_sig")
        .dropDuplicates(["c_id", "b_id"])
        .select(
            F.col("c_id").alias(id_col),
            F.col("b_id").alias(f"bench_{bench_id_col}"),
            F.round(est, 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def lsh_banding_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = DEFAULT_SHINGLE_K,
    threshold: float = 0.5,
    sample_fraction: float = 1.0,
    sample_seed: str = "ba",
    decimals: int = 6,
) -> DataFrame:
    """MEASURED banding audit for the MinHash-LSH family: for every
    legal (bands, rows-per-band) split of the signature, what recall
    does banded candidate generation ACTUALLY achieve on this
    corpus's true near-dup pairs, vs the S-curve prediction
    1-(1-J^r)^b the parameter choice was made from? q31/q33/q38 pick
    a banding and state the recall model; this operator closes the
    loop — the audit a curator runs before trusting a threshold on a
    NEW corpus, because the S-curve is exact per pair but the
    portfolio recall depends on where this corpus's pair-Jaccard mass
    actually sits.

    Ground truth: ALL pairs with exact shingle-Jaccard >= threshold,
    from the any-shared-shingle inverted-index join (complete for any
    threshold > 0 — the same argument the q161 oracle uses). Band
    collisions are then decided PAIR-LOCALLY from the two signatures
    (a slice-equality EXISTS — no per-config LSH joins), so the whole
    audit costs one candidate join + |configs| aggregates over the
    persisted pair frame. The shared-shingle join is output-bound on
    template-heavy corpora; a 100 TB deployment runs this audit on a
    ``hash_sample`` slice — the estimator is a mean, so a uniform
    pair sample is unbiased.

    ``sample_fraction`` applies the engine-portable md5
    ``hash_sample`` to DOCUMENTS before anything else: uniform doc
    sampling induces uniform pair sampling (each pair survives with
    probability f²), so every recall column stays an unbiased
    estimate while the output-bound ground-truth join shrinks ~f² —
    this, not the full join, is the 100 TB deployment mode, and the
    q196 oracle replays the same hash predicate so the sampled audit
    is still value-exact.

    Determinism: predicted per-pair probabilities pass through pow()
    (engines may differ in the last ulp), so they are quantized to
    integer micropoints and summed as BIGINTs (the q191 convention)
    before the single final divide.

    Returns one row per config: (bands, rows_per_band, n_pairs,
    n_collided, recall_measured, recall_predicted, curve_midpoint).
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.extensions.corpus import hash_sample

    def seeded(i: int):
        prefix = f"{i}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    if sample_fraction < 1.0:
        df = hash_sample(df, sample_fraction, id_col, seed=sample_seed)
    # persisted: three consumers (the shingle explode and both pair-side
    # joins) would otherwise each re-pay the shingling + num_hashes
    # md5-min passes — the dominant cost (same lesson as
    # minhash_near_dups' signature persist)
    base = persisted(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .withColumn("_sh", _shingles_expr("_t", k))
        .select(
            "id",
            "_sh",
            F.array(
                *[
                    F.array_min(F.transform(F.col("_sh"), seeded(i)))
                    for i in range(num_hashes)
                ]
            ).alias("sig"),
        )
    )
    sh = base.select("id", F.explode("_sh").alias("_s"))
    cand = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a._s") == F.col("b._s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("ida"), F.col("b.id").alias("idb")
        )
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    union = F.size(F.col("sha")) + F.size(F.col("shb")) - inter
    pairs = persisted(
        cand.join(
            base.select(
                F.col("id").alias("ida"),
                F.col("_sh").alias("sha"),
                F.col("sig").alias("siga"),
            ),
            "ida",
        )
        .join(
            base.select(
                F.col("id").alias("idb"),
                F.col("_sh").alias("shb"),
                F.col("sig").alias("sigb"),
            ),
            "idb",
        )
        .select(
            "ida", "idb", "siga", "sigb",
            (inter.cast("double") / union.cast("double")).alias("j"),
        )
        .filter(F.col("j") >= F.lit(float(threshold)))
    )
    configs = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    out = None
    for b, r in configs:
        collide = F.exists(
            F.sequence(F.lit(0), F.lit(b - 1)),
            lambda bb: F.slice(F.col("siga"), bb * r + 1, r)
            == F.slice(F.col("sigb"), bb * r + 1, r),
        )
        pred6 = F.round(
            (
                F.lit(1.0)
                - F.pow(F.lit(1.0) - F.pow(F.col("j"), F.lit(r)), F.lit(b))
            )
            * F.lit(1000000.0)
        ).cast("long")
        row = pairs.agg(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(collide.cast("long")).alias("n_collided"),
            F.round(
                F.sum(collide.cast("long"))
                / F.count(F.lit(1)).cast("double"),
                decimals,
            ).alias("recall_measured"),
            F.round(
                F.sum(pred6) / (F.count(F.lit(1)) * F.lit(1000000.0)),
                decimals,
            ).alias("recall_predicted"),
            F.round(
                F.pow(F.lit(1.0 / b), F.lit(1.0 / r)), decimals
            ).alias("curve_midpoint"),
        )
        out = row if out is None else out.unionByName(row)
    return out
