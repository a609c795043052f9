"""Fuzzy string matching (entity resolution): similarity join between
two string columns by character-trigram Jaccard — "which rows of A
refer to the same thing as rows of B" when keys don't exist and
spellings drift.

Scale shape — two collapses, both lossless:

1. NEVER the all-pairs similarity matrix: candidate pairs come from
   an equi-join ON THE TRIGRAM (compact key), and each candidate is
   verified exactly from the two gram arrays.
2. NEVER row-level gram work: every frame up to the final expansion
   is keyed on the DISTINCT NORMALIZED NAME (the vocab-frame trick —
   the same move as the BPE operators). Real entity columns repeat
   massively (the sf0.1 part table holds 20,000 rows but 64 distinct
   names; a 100 TB orders table holds billions of rows but
   ~entity-count names), and Jaccard depends only on the name — so
   gram explode, candidate generation, and verification all run over
   distinct names, and rows only reappear in the final name-keyed
   joins. Measured on q18 at sf0.1 this replaced a 356M-row gram
   join + 107M-group aggregate with name-level frames of at most a
   few thousand rows (260 s → ~2 s).

Stop-grams ("the", "ing") dominate candidate generation when name
cardinality is genuinely high; ``max_gram_freq`` prunes grams
occurring in more than that many ROWS of either side — the documented
recall trade (a pair whose EVERY shared gram is ubiquitous is below
any useful threshold anyway; same reasoning as the LSH bucket caps in
dedup.py). Verification always uses the full gram arrays, so
surviving pairs keep their exact Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_trigrams(col: Column) -> Column:
    """Distinct character 3-grams of the normalized (lowercase,
    alnum-collapsed) string; strings shorter than 3 chars yield the
    whole string as one gram (so they can still match exactly)."""
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    s = normalized_text(col)
    return F.when(F.length(s) < 3, F.array(s)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(s) - 2),
                lambda i: s.substr(i, F.lit(3)),
            )
        )
    )


def _rows_and_names(df: DataFrame, id_col: str, text_col: str):
    """Split a side into its row→name mapping and its DISTINCT-name
    frame (name, row count, gram array, gram count). Every expensive
    stage downstream runs on the names frame only."""
    from capex_data_pipeline_spark.extensions.dedup import normalized_text

    rows = df.select(
        F.col(id_col).alias("_id"),
        normalized_text(F.col(text_col)).alias("_nm"),
    )
    names = (
        rows.groupBy("_nm")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        # normalization is idempotent, so grams of the name == grams
        # of the original strings that collapsed into it
        .withColumn("_gs", char_trigrams(F.col("_nm")))
        .withColumn("_ng", F.size("_gs"))
    )
    return rows, names


def _name_pairs(
    l_names: DataFrame,
    r_names: DataFrame,
    threshold: float,
    max_gram_freq: int | None,
) -> DataFrame:
    """Qualifying DISTINCT-name pairs (_lnm, _rnm, jaccard >= t):
    gram equi-join for candidates, exact verify from the two gram
    arrays. Self-pairs (same name both sides) are produced like any
    other — callers exclude rows, not names."""
    lg = l_names.select(
        F.col("_nm").alias("_lnm"), F.col("_cnt").alias("_lcnt"),
        F.explode("_gs").alias("_g"),
    )
    rg = r_names.select(
        F.col("_nm").alias("_rnm"), F.col("_cnt").alias("_rcnt"),
        F.explode("_gs").alias("_g"),
    )
    if max_gram_freq is not None:
        # row-frequency semantics: Σ row-count over names carrying the
        # gram — identical to the pre-vocab-frame per-row counts
        hot = (
            lg.groupBy("_g").agg(F.sum("_lcnt").alias("_c1"))
            .join(
                rg.groupBy("_g").agg(F.sum("_rcnt").alias("_c2")),
                "_g",
                "outer",
            )
            .filter(
                (F.coalesce(F.col("_c1"), F.lit(0)) > max_gram_freq)
                | (F.coalesce(F.col("_c2"), F.lit(0)) > max_gram_freq)
            )
            .select("_g")
        )
        lg = lg.join(hot, "_g", "left_anti")
        rg = rg.join(hot, "_g", "left_anti")
    cand = (
        lg.select("_lnm", "_g")
        .join(rg.select("_rnm", "_g"), "_g")
        .select("_lnm", "_rnm")
        .distinct()
    )
    inter = F.size(F.array_intersect("_lgs", "_rgs"))
    jac = inter / (F.col("_lng") + F.col("_rng") - inter)
    return (
        cand.join(
            l_names.select(
                F.col("_nm").alias("_lnm"),
                F.col("_gs").alias("_lgs"),
                F.col("_ng").alias("_lng"),
            ),
            "_lnm",
        )
        .join(
            r_names.select(
                F.col("_nm").alias("_rnm"),
                F.col("_gs").alias("_rgs"),
                F.col("_ng").alias("_rng"),
            ),
            "_rnm",
        )
        .select(
            "_lnm",
            "_rnm",
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    threshold: float = 0.6,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Trigram-Jaccard similarity join.  Returns
    ``(left_id, right_id, jaccard)`` for pairs with
    ``jaccard >= threshold``.

    ``max_gram_freq`` (optional) drops trigrams occurring in more than
    that many rows of EITHER side from candidate generation — the
    stop-gram prune that bounds hot-key blowup; verification uses the
    full gram arrays, so surviving pairs keep exact Jaccard and only
    pairs whose every shared gram is ubiquitous are lost.

    All gram work runs over DISTINCT normalized names (see module
    docstring); the output expansion joins rows back on the name key,
    so the result is row-pair-sized only because the answer is.
    """
    l_rows, l_names = _rows_and_names(left, left_id, left_col)
    r_rows, r_names = _rows_and_names(right, right_id, right_col)
    pairs = _name_pairs(l_names, r_names, threshold, max_gram_freq)
    return (
        l_rows.select(F.col("_id").alias("_l_id"), F.col("_nm").alias("_lnm"))
        .join(pairs, "_lnm")
        .join(
            r_rows.select(
                F.col("_id").alias("_r_id"), F.col("_nm").alias("_rnm")
            ),
            "_rnm",
        )
        .select(
            F.col("_l_id").alias(left_id),
            F.col("_r_id").alias(right_id),
            "jaccard",
        )
    )


def fuzzy_self_best_match(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Each row's BEST fuzzy match among the OTHER rows of the same
    frame — the entity-canonicalization query (q18) — computed
    WITHOUT ever materializing row pairs.

    Winner definition (identical to ranking all pairs): among rows
    ``p2 != p1`` with ``jaccard(p1, p2) >= threshold``, take the
    highest Jaccard, ties to the smallest ``p2``. Rows with no
    qualifying match are absent from the output.

    Why row pairs are unnecessary: Jaccard depends only on the names,
    and within one name the candidate ordering is fixed (equal j, id
    ascending) — so each name's two smallest row ids dominate every
    other row of that name, and the global top-2 candidate entries
    per LEFT NAME (over names' (j, r1/r2) entries) contain the
    winner for every row: a row can collide with at most one entry
    (itself), so entry 1 or entry 2 is its answer. One row scan for
    the name map, one WindowGroupLimit for per-name min-2 ids, tiny
    name-level frames, and a final name-keyed join back to rows.

    Returns ``(id_col, best_id, jaccard)``.
    """
    rows, names = _rows_and_names(df, id_col, text_col)
    pairs = _name_pairs(names, names, threshold, max_gram_freq)

    from pyspark.sql.window import Window

    # per-name min-2 row ids (WindowGroupLimit pushes the rank into
    # the shuffle — never a full sort of the corpus)
    w = Window.partitionBy("_nm").orderBy(F.asc("_id"))
    top2 = rows.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= 2
    )
    stats = top2.groupBy("_nm").agg(
        F.min(F.when(F.col("_rn") == 1, F.col("_id"))).alias("_r1"),
        F.min(F.when(F.col("_rn") == 2, F.col("_id"))).alias("_r2"),
    )
    # candidate entries per left name: each right name contributes its
    # min-2 ids at that pair's jaccard
    entries = (
        pairs.join(stats.withColumnRenamed("_nm", "_rnm"), "_rnm")
        .select(
            "_lnm",
            "jaccard",
            F.explode(F.array("_r1", "_r2")).alias("_cand"),
        )
        .filter(F.col("_cand").isNotNull())
    )
    w2 = Window.partitionBy("_lnm").orderBy(
        F.desc("jaccard"), F.asc("_cand")
    )
    best2 = (
        entries.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= 2)
        .groupBy("_lnm")
        .agg(
            F.min(F.when(F.col("_rn") == 1, F.col("_cand"))).alias("_w1"),
            F.min(F.when(F.col("_rn") == 1, F.col("jaccard"))).alias("_j1"),
            F.min(F.when(F.col("_rn") == 2, F.col("_cand"))).alias("_w2"),
            F.min(F.when(F.col("_rn") == 2, F.col("jaccard"))).alias("_j2"),
        )
    )
    self_hit = F.col("_w1") == F.col("_id")
    return (
        rows.join(best2, rows["_nm"] == best2["_lnm"])
        .select(
            F.col("_id").alias(id_col),
            F.when(self_hit, F.col("_w2"))
            .otherwise(F.col("_w1"))
            .alias("best_id"),
            F.when(self_hit, F.col("_j2"))
            .otherwise(F.col("_j1"))
            .alias("jaccard"),
        )
        .filter(F.col("best_id").isNotNull())
    )


def editdist_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int = 3,
    q: int = 2,
) -> DataFrame:
    """Edit-distance similarity self-join: all row pairs whose
    ``str_col`` values are within Levenshtein distance ``k`` —
    the fuzzy-title / near-identical-prefix matcher that complements
    the set-semantics joins (q161 Jaccard/PPJoin, q18 trigram): edit
    distance sees character ORDER, so transposed words and small typos
    that keep the token multiset identical still rank as distance > 0.

    Returns (<id_col>_a, <id_col>_b, dist) with _a < _b, dist <= k.
    ``str_col`` is used as given — normalize (lower/substr) upstream.

    Scale shape (Ed-Join, Xiao et al. ICDE 2008, re-derived on
    DataFrame ops — never the all-pairs matrix the oracle runs):

    1. Vocab-frame economics: everything expensive runs on the
       DISTINCT-string frame (module docstring); rows reappear only
       in the final string-keyed joins.
    2. Prefix filtering on POSITIONAL q-grams: one edit destroys at
       most q of a string's q-grams, so k edits destroy at most k*q —
       of any fixed q*k+1 grams of one side, one SURVIVES into the
       other (position shifted by at most k). Each string therefore
       indexes only its q*k+1 globally-RAREST grams (frequency
       ascending, gram/pos tie-break); candidates come from the
       prefix-gram equi-join with |pos diff| <= k and
       |len diff| <= k. Survival needs only ONE side to own a full
       q*k+1 prefix, so mixed short/long pairs ride this path too.
    3. Strings too short for a full prefix (len <= q*(k+1)-1, i.e.
       fewer than q*k+1 grams, including gram-less len < q) pair
       among THEMSELVES via a (k+1)-wide length-bucket equi-join — a
       bounded-domain frame (distinct strings of bounded length), no
       broadcast assumption, no driver action.
    4. Every candidate is verified with the exact JVM
       ``levenshtein``. Semantics are CODEPOINT-based end to end
       (``length``, the q-gram positions, and the distance all count
       codepoints — accents, CJK, and astral-plane emoji are one unit
       each), certified against a Python reference implementation in
       ``tests/test_extensions.py::
       test_editdist_join_unicode_codepoint_semantics``. The DuckDB
       oracle's levenshtein is byte-based, so the q179 registry entry
       pins an all-ASCII corpus; the unicode unit test covers what
       the oracle can't.

    Completeness is CERTIFIED, not asserted: the q179 oracle computes
    the length-banded all-pairs join, so pair-set equality proves the
    prefix + short-bucket candidates lost nothing.
    """
    from pyspark.sql.window import Window

    if q < 2 or k < 1:
        raise ValueError("editdist_join requires q >= 2 and k >= 1")

    rows = df.select(
        F.col(id_col).alias("_id"), F.col(str_col).alias("_s")
    ).filter(F.col("_s").isNotNull())
    names = (
        rows.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_len", F.length("_s"))
    )
    vpairs = _editdist_verified_pairs(names, k, q)

    # -- expand distinct-string pairs back to row pairs
    ra = rows.select(F.col("_id").alias("_ia"), F.col("_s").alias("_s1"))
    rb = rows.select(F.col("_id").alias("_ib"), F.col("_s").alias("_s2"))
    cross = vpairs.join(ra, "_s1").join(rb, "_s2")
    same = (
        rows.alias("x")
        .join(
            rows.alias("y"),
            (F.col("x._s") == F.col("y._s"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("_ia"),
            F.col("y._id").alias("_ib"),
            F.lit(0).alias("_d"),
        )
    )
    out_a, out_b = f"{id_col}_a", f"{id_col}_b"
    return (
        cross.select(
            F.least("_ia", "_ib").alias(out_a),
            F.greatest("_ia", "_ib").alias(out_b),
            F.col("_d").cast("int").alias("dist"),
        )
        .unionByName(
            same.select(
                F.col("_ia").alias(out_a),
                F.col("_ib").alias(out_b),
                F.col("_d").cast("int").alias("dist"),
            )
        )
    )


def _editdist_candidates(names: DataFrame, k: int, q: int) -> DataFrame:
    """Candidate distinct-string pairs (_s1 < _s2) from the Ed-Join
    prefix filter + the short-string length-bucket path — everything
    before the exact verify. Split out so the candidate count the
    filter admits can be measured against the all-pairs matrix it
    avoids (sf0.1, 4,756 distinct 40-char heads: 1.89M candidates vs
    11.3M banded all-pairs).

    ``names``: one row per distinct string with ``_s`` and ``_len``."""
    from pyspark.sql.window import Window

    prefix_len = q * k + 1
    short_max = q * (k + 1) - 1  # fewer than prefix_len grams

    # -- positional q-grams of every string that has any (len >= q)
    grams = names.filter(F.col("_len") >= q).select(
        "_s",
        "_len",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_len") - q + 1),
                lambda i: F.col("_s").substr(i, F.lit(q)),
            )
        ).alias("_p0", "_g"),
    ).withColumn("_p", F.col("_p0") + 1).drop("_p0")

    # -- global rarity order; per-string prefix = q*k+1 rarest grams
    freq = grams.groupBy("_g").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy("_s").orderBy(
        F.asc("_f"), F.asc("_g"), F.asc("_p")
    )
    prefix = (
        grams.join(freq, "_g")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select("_s", "_len", "_g", "_p")
    )

    a, b = prefix.alias("a"), prefix.alias("b")
    cand_long = (
        a.join(
            b,
            (F.col("a._g") == F.col("b._g"))
            & (F.col("a._s") < F.col("b._s"))
            & (F.abs(F.col("a._p") - F.col("b._p")) <= k)
            & (F.abs(F.col("a._len") - F.col("b._len")) <= k),
        )
        .select(F.col("a._s").alias("_s1"), F.col("b._s").alias("_s2"))
    )

    # -- short strings (< q*k+1 grams): length-bucket equi-join.
    # Buckets are (k+1) wide, so |len diff| <= k implies bucket
    # distance <= 1; the left side fans out to {b-1, b, b+1}.
    shorts = names.filter(F.col("_len") <= short_max).select(
        "_s", "_len", (F.floor(F.col("_len") / (k + 1))).alias("_b")
    )
    sl = shorts.select(
        F.col("_s").alias("_s1"),
        F.col("_len").alias("_l1"),
        F.explode(
            F.array(F.col("_b") - 1, F.col("_b"), F.col("_b") + 1)
        ).alias("_b"),
    )
    sr = shorts.select(
        F.col("_s").alias("_s2"), F.col("_len").alias("_l2"), "_b"
    )
    cand_short = (
        sl.join(
            sr,
            (sl["_b"] == sr["_b"])
            & (F.col("_s1") < F.col("_s2"))
            & (F.abs(F.col("_l1") - F.col("_l2")) <= k),
        )
        .select("_s1", "_s2")
    )

    return cand_long.unionByName(cand_short).distinct()


def _editdist_verified_pairs(names: DataFrame, k: int, q: int) -> DataFrame:
    """Distinct-string pairs within edit distance k: candidates from
    :func:`_editdist_candidates`, each verified with the exact JVM
    ``levenshtein``.

    Two measured details: the
    candidate frame is persisted so Catalyst cannot push the verify
    filter BELOW the dedup aggregate (unpersisted, the levenshtein
    re-evaluates per pre-distinct join row — up to prefix_len² times
    per pair — 87 s -> ~10 s on the 120-char head shape); and the
    verify uses the 3-arg BANDED levenshtein (O(k·n) cells and early
    abandon instead of the full n·m table; returns -1 past the
    threshold, and the exact distance — which the band guarantees —
    when within it)."""
    from capex_data_pipeline_spark.cache import persisted

    cand = persisted(_editdist_candidates(names, k, q))
    return cand.withColumn(
        "_d", F.levenshtein(F.col("_s1"), F.col("_s2"), k)
    ).filter(F.col("_d") >= 0)
