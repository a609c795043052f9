"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query
  set against the corpus; one pass, dot products in JVM higher-order
  functions, top-k per query via WindowGroupLimit. The right baseline
  and the correctness oracle for any ANN variant.
- ``srp_lsh_topk``: approximate top-k via sign-random-projection LSH
  (Charikar 2002): deterministic md5-derived hyperplanes, Hamming-
  bucketed candidates, exact re-rank inside buckets. The scale path —
  the corpus shuffles once on compact bucket keys; probing multiple
  bands trades recall for cost.

At 100 TB / billions of vectors the brute-force path is a full scan per
query batch (fine for offline eval); the LSH path is the online one.
"""

from __future__ import annotations

import hashlib

import pandas as pd  # noqa: F401 — pandas_udf type-hint resolution

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for every query vector.

    Returns (query_id, neighbor_id, cosine, rank); self-matches are
    excluded; ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j is md5(seed|j)
    truncated to 48 bits and centered — an INTEGER that is exact in a
    double, so any engine deriving the same md5 computes bit-identical
    dot-product signs. (A unit normalization would not change any sign
    mathematically, but pre-divided float components round differently
    across engines; sign-LSH only consumes the sign, so the magnitude
    is irrelevant and exactness wins.)"""
    return [
        float(int(hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:12], 16) - (1 << 47))
        for j in range(dim)
    ]


# Constant vectors (hyperplanes, IVF centers) enter plans as SQL-string
# double literals — ONE expr parse JVM-side — instead of per-component
# F.lit() columns: a 16-center × 64-dim quantizer would otherwise cost
# thousands of py4j round-trips at plan-build time (measured ~4 s of
# driver latency per ANN query). repr(float) round-trips exactly, so
# the parsed doubles are bit-identical to the F.lit path. Same trick as
# dedup.embedding_near_dups.bucket_expr.


def _arr_sql(vals: list[float]) -> str:
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")"


def _dot_sql(vec_name: str, arr_sql: str) -> str:
    return (
        f"aggregate(zip_with({vec_name}, {arr_sql}, (x, y) -> x * y),"
        f" 0D, (acc, x) -> acc + x)"
    )


def _norm_sql(expr: str) -> str:
    return f"sqrt(aggregate({expr}, 0D, (acc, x) -> acc + x * x))"


def srp_signature(vec_name: str, planes: list[list[float]]) -> Column:
    """Bit b = sign(v · plane_b): an integer bucket id. ``vec_name`` is
    the array column's name (the planes embed as parsed SQL literals)."""
    terms = " + ".join(
        f"IF({_dot_sql(vec_name, _arr_sql(p))} > 0, {1 << b}, 0)"
        for b, p in enumerate(planes)
    )
    return F.expr(f"cast(({terms}) as bigint)")


def _neg_cosine_cells(vec_name: str, centers: list[list[float]]) -> Column:
    """Array of (negcos, cell) structs — array_sort gives similarity
    descending with cell-index tie-break, matching the oracle's
    row_number ORDER BY s DESC, cell ASC. ``vec_name`` is the array
    column's name; centers embed as parsed SQL literals, and each
    center's norm — a compile-time constant — is computed driver-side
    and embedded as a literal too (Python's sequential sum of squares
    performs the identical IEEE op sequence as the SQL aggregate, so
    the double is bit-identical and the oracle still hash-matches),
    saving one 64-element aggregate per center per row."""
    import math

    cells = ", ".join(
        "named_struct('negcos', -({dot} / ({nv} * {nc!r}D)), 'cell', {i})".format(
            dot=_dot_sql(vec_name, _arr_sql(c)),
            nv=_norm_sql(vec_name),
            nc=math.sqrt(sum(x * x for x in c)),
            i=i,
        )
        for i, c in enumerate(centers)
    )
    return F.expr(f"array({cells})")


def _arrow_topcells(centers: "list[list[float]]", nprobe: int):
    """Vectorized coarse-quantizer probe: a Pandas UDF mapping a batch
    of vectors to their ``nprobe`` nearest cells by cosine — ONE numpy
    matmul per Arrow batch against the row-normalized center matrix
    (row norms don't change the argmax, so vectors aren't normalized).

    This is the scale path of the IVF quantizer: at sqrt(N) cells the
    per-vector cost is O(sqrt(N)·d) no matter how it's computed, but a
    BLAS matmul over a 10k-row Arrow batch runs ~2 orders of magnitude
    faster than the same dots as Catalyst aggregate-fold expressions
    (and the plan stays small — the center matrix lives in the UDF
    closure, shipped once per executor, not as 10^5 plan literals).

    Ties (exact-equal similarity) break toward the LOWER cell index on
    both this path (stable argsort over negated sims) and the expr path
    (array_sort struct tie-break), matching the oracle convention.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)
    Cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).T  # (d, n_cells)
    npb = min(nprobe, C.shape[0])

    @F.pandas_udf("array<int>")
    def topcells(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy()).astype(np.float64)  # (batch, d)
        sims = M @ Cn  # (batch, n_cells)
        if npb == 1:
            idx = sims.argmax(axis=1)[:, None]
        else:
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
        return pd.Series(list(idx.astype("int32")))

    return topcells


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: "int | None" = None,
    centers_mode: str = "sample",
    assign: str = "arrow",
    seed: int = 42,
    materialize: bool = True,
) -> "tuple[DataFrame, list[list[float]]]":
    """Build an IVF index over ``corpus``: pick the coarse-quantizer
    centers, assign every vector to its nearest cell, persist the
    assignment. Returns ``(assigned, centers)`` — feed both to
    :func:`ivf_query`, reusing one build across MANY query batches
    (the economics that make IVF beat brute force: the O(N·n_cells·d)
    assignment is paid once, then each query scans ~nprobe/n_cells of
    the corpus instead of all of it).

    ``n_cells=None`` sizes the index honestly: ceil(sqrt(N)) cells
    (the standard IVF operating point — cell scan cost and probe cost
    balance at sqrt(N)), never below 16. A FIXED small cell count does
    NOT scale: at 400k vectors, 16 cells means every probe scans 1/16
    of the corpus and IVF measured SLOWER than brute force
    (docs/SCALE.md, round 7); sqrt-sizing is the fix.

    ``assign='arrow'`` (default) runs the assignment as a batched
    numpy matmul (see :func:`_arrow_topcells`); ``'expr'`` uses the
    closed-form Catalyst expression path (engine-portable, oracle-
    exact — right for cross-engine checks, wrong above ~100 cells
    where the literal plan and fold cost blow up).
    """
    import math

    if n_cells is None:
        n_cells = max(16, int(math.ceil(math.sqrt(corpus.count()))))
    if assign == "expr":
        assigned, centers = assign_cells(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            centers_mode=centers_mode,
            seed=seed,
        )
    elif assign == "arrow":
        _, centers = _ivf_centers(
            corpus, id_col, vec_col, n_cells, centers_mode, seed
        )
        assigned = corpus.withColumn(
            "cell",
            F.element_at(
                _arrow_topcells(centers, 1)(
                    F.col(vec_col).cast("array<double>")
                ),
                1,
            ),
        )
    else:
        raise ValueError(f"unknown assign mode: {assign!r}")
    from capex_data_pipeline_spark.cache import persisted

    assigned = persisted(assigned)
    if materialize:
        assigned.count()
    return assigned, centers


def _ivf_centers(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    centers_mode: str,
    seed: int,
) -> "tuple[None, list[list[float]]]":
    """Center pick only (no assignment) — shared by the arrow build
    path; same semantics as :func:`assign_cells`'s two modes."""
    if centers_mode == "sample":
        rows = (
            corpus.select(id_col, vec_col)
            .withColumn("_h", F.md5(F.col(id_col).cast("string")))
            .orderBy("_h", id_col)
            .limit(n_cells)
            .collect()
        )
        return None, [list(map(float, r[vec_col])) for r in rows]
    if centers_mode == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        corpus_v = corpus.withColumn(
            "features", array_to_vector(F.col(vec_col).cast("array<double>"))
        )
        km = KMeans(k=n_cells, seed=seed, maxIter=10)
        model = km.fit(corpus_v.select("features"))
        return None, [list(map(float, c)) for c in model.clusterCenters()]
    raise ValueError(f"unknown centers_mode: {centers_mode!r}")


def ivf_query(
    assigned: DataFrame,
    centers: "list[list[float]]",
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe: str = "arrow",
) -> DataFrame:
    """Query an IVF index built by :func:`ivf_build`: each query probes
    its ``nprobe`` nearest cells and re-ranks exactly (cosine) inside
    them. Only ~nprobe/n_cells of the corpus is scanned per query; the
    candidate join is an equi-join on the tiny int cell key with the
    query batch broadcast. Returns (query_id, neighbor_id, cosine,
    rank) — same contract as :func:`cosine_topk`.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    if probe == "arrow":
        probes = _arrow_topcells(centers, nprobe)(F.col("qv"))
    elif probe == "expr":
        probes = F.transform(
            F.slice(
                F.array_sort(_neg_cosine_cells("qv", centers)),
                1,
                min(nprobe, len(centers)),
            ),
            lambda s: s["cell"],
        )
    else:
        raise ValueError(f"unknown probe mode: {probe!r}")
    q = q.withColumn("cell", F.explode(probes))
    cand = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        "cell",
    ).join(F.broadcast(q), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # each corpus vector lives in exactly one cell and a query's nprobe
    # cells are distinct -> no (query, neighbor) dup, no dedup needed
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 3,
    seed: int = 42,
    centers_mode: str = "kmeans",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: a coarse
    quantizer partitions the corpus into cells; each query probes its
    ``nprobe`` nearest cells and re-ranks exactly inside them.

    ``centers_mode``:

    - ``"kmeans"`` (default): centers from a k-means fit — the
      FAISS-style quantizer; centers are model state, so results are
      reproducible only within one engine.
    - ``"sample"``: centers are the ``n_cells`` corpus vectors that sort
      first by ``md5(id)`` (a deterministic uniform sample — the
      k-means++-style "centers from data" init without the iterations).
      Slightly worse cell balance than k-means, but every stage
      (center pick, cosine cell assignment, probe, re-rank) is
      closed-form over the data, so an independent SQL engine can
      re-derive the full result — this is what gives q37 a value-exact
      DuckDB oracle.

    The index build is one fit/sample over the corpus plus one
    assignment pass; at query time only the probed cells scan — with
    n_cells ∝ sqrt(N) and nprobe fixed, query cost is ~nprobe/n_cells of
    the corpus. Recall rises with nprobe (nprobe = n_cells ≡ exact).
    The cell id is a tiny int: the candidate join shuffles compact keys,
    and cell skew is AQE's standard skew-join case.
    """
    corpus_c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    )
    assigned, centers = assign_cells(
        corpus_c,
        id_col="neighbor_id",
        vec_col="nv",
        n_cells=n_cells,
        centers_mode=centers_mode,
        seed=seed,
    )

    # query → nprobe nearest centers (tiny driver-side constant set,
    # compiled into an array-sort expression)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(_neg_cosine_cells("qv", centers)), 1, nprobe
                ),
                lambda s: s["cell"],
            )
        ),
    )

    cand = assigned.join(F.broadcast(q), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # no dedup needed: each corpus vector lives in exactly ONE cell and
    # a query's nprobe cells are distinct, so a (query, neighbor) pair
    # occurs at most once (srp_lsh_topk, with multiple tables, differs)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _lut_expr(
    vec_name: str, centers: list[list[float]], decimals: int = 6
) -> Column:
    """Per-code squared-distance lookup array for ADC: entry ``c`` =
    round(||v - centers[c]||², decimals), ordered by code index. Same
    fold discipline as :func:`_sqdist_cells` (zip_with + 0D-seeded
    aggregate, round before use), so an oracle replays it exactly."""
    cells = ", ".join(
        "round(aggregate(zip_with({v}, {c}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, x) -> acc + x), {d})".format(
            v=vec_name, c=_arr_sql(c), d=decimals
        )
        for c in centers
    )
    return F.expr(f"array({cells})")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 3,
    n_subspaces: int = 4,
    k_codes: int = 4,
    rounds: int = 2,
    rerank: int = 20,
    seed: int = 42,
    decimals: int = 6,
) -> DataFrame:
    """IVF-PQ composition (Jégou et al. 2011 — the shape every large
    embedding store actually serves): the IVF coarse quantizer
    (q37's sample-mode cells) prunes the corpus to ``nprobe`` cells
    per query, PQ asymmetric distance (q121's codebooks) ranks the
    survivors from per-query lookup tables, and only the top
    ``rerank`` shortlist pays exact cosine for the final top-``k``.

    Division of labor at 100 TB: IVF cuts the SCAN (≈ nprobe/n_cells
    of the corpus per query), PQ cuts the BYTES (each candidate costs
    n_subspaces code-int lookups against a per-query LUT of
    n_subspaces × k_codes rounded doubles — no vector arithmetic in
    the candidate pass), and the exact re-rank caps the recall loss
    to what the shortlist missed. Vectors are PQ-encoded RAW (no
    residual subtraction — FAISS's IVFPQ-without-residual variant),
    which keeps every stage closed-form over the data: sample
    centers, md5-seeded Lloyd codebooks, rounded LUTs, deterministic
    tie-breaks — an independent SQL engine re-derives the entire
    pipeline value-exact (the q37/q121 property, composed).

    Plan shape: codebook fits are tiny driver-side models; corpus
    pays ONE assignment+encode pass (map-only against plan-literal
    centers); the candidate join is assigned ⋈ broadcast(probes) on
    the tiny cell int; the shortlist window prunes map-side
    (WindowGroupLimit); the exact re-rank joins the corpus against
    TWO broadcast frames (shortlist, query vectors) — no shuffle
    anywhere except the shortlist's compact (query, neighbor, adc)
    rows.

    Returns (query_id, neighbor_id, cosine, rank) with rank <= k —
    directly comparable to :func:`ivf_topk` / exact cosine on q147's
    recall judge.
    """
    from capex_data_pipeline_spark.cache import persisted

    if rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    pts = persisted(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("nv"),
        ).filter(F.col("nv").isNotNull() & (F.size("nv") > 0))
    )
    d_row = pts.agg(F.min(F.size("nv")).alias("d")).collect()
    if not d_row or d_row[0]["d"] is None:
        raise ValueError("ivfpq_topk: no non-empty vectors")
    d = int(d_row[0]["d"])
    if d % n_subspaces != 0:
        raise ValueError(f"dim {d} not divisible into {n_subspaces} subspaces")
    dsub = d // n_subspaces
    pts = pts.filter(F.size("nv") == d)

    # IVF: sample-mode coarse quantizer (closed-form, oracle-replayable)
    assigned, centers = assign_cells(
        pts,
        id_col="neighbor_id",
        vec_col="nv",
        n_cells=n_cells,
        centers_mode="sample",
        seed=seed,
    )

    # PQ: one Lloyd codebook per subspace over sliced views of pts —
    # fitted CONCURRENTLY from driver threads (guide §2.6): each fit
    # is a chain of tiny collect-driven jobs and the per-subspace
    # chains are fully independent, so overlapping them fills the
    # cluster during each round's single-aggregate tail (measured:
    # the 4 sequential fits were ~2.3 s of q172's 3.5 s build).
    # ex.map preserves subspace order; results are unchanged. The
    # threads inherit the caller's job group, description and tags.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    @inheritable_thread_target(pts.sparkSession)
    def _fit_subspace(s: int) -> "list[list[float]]":
        return _lloyd_fit(
            pts.select(
                F.col("neighbor_id"),
                F.slice("nv", s * dsub + 1, dsub).alias("_v"),
            ),
            k_codes,
            rounds,
            id_col="neighbor_id",
            decimals=decimals,
        )

    with ThreadPoolExecutor(max_workers=min(4, n_subspaces)) as ex:
        codebooks = list(ex.map(_fit_subspace, range(n_subspaces)))

    # encode: cell + per-subspace codes in ONE map-only pass
    enc = assigned.select(
        "neighbor_id",
        "cell",
        *[
            F.slice("nv", s * dsub + 1, dsub).alias(f"_v{s}")
            for s in range(n_subspaces)
        ],
    )
    enc = enc.select(
        "neighbor_id",
        "cell",
        *[
            F.array_sort(_sqdist_cells(f"_v{s}", codebooks[s], decimals))[0][
                "cluster"
            ].alias(f"_c{s}")
            for s in range(n_subspaces)
        ],
    )

    # queries: nprobe cells + per-query ADC lookup tables
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).filter(F.size("qv") == d)
    for s in range(n_subspaces):
        q = q.withColumn(f"_qs{s}", F.slice("qv", s * dsub + 1, dsub))
    q = q.select(
        "query_id",
        "qv",
        *[
            _lut_expr(f"_qs{s}", codebooks[s], decimals).alias(f"_lut{s}")
            for s in range(n_subspaces)
        ],
    )
    probes = q.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(_neg_cosine_cells("qv", centers)), 1, nprobe
                ),
                lambda s: s["cell"],
            )
        ),
    ).drop("qv")

    cand = enc.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            sum(
                F.element_at(F.col(f"_lut{s}"), F.col(f"_c{s}") + 1)
                for s in range(n_subspaces)
            ),
            decimals,
        ).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    shortlist = (
        adc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rerank)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank of the tiny shortlist: corpus ⋈ broadcast(shortlist)
    # ⋈ broadcast(query vectors)
    ex = (
        pts.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return ex.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing an exact
    LSH bucket with the query in any of ``n_tables`` independent tables,
    re-ranked by exact cosine.

    Recall rises with tables/probes; the shuffle key is (table, bucket)
    — a few bytes per vector regardless of dimensionality.
    """
    tables = [
        [_hyperplane(t * 1000 + b, dim) for b in range(n_bits)] for t in range(n_tables)
    ]

    def bucketed(df: DataFrame, idname: str) -> DataFrame:
        out = df.select(
            F.col(id_col).alias(idname), F.col(vec_col).alias(f"{idname}_v")
        )
        buckets = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    srp_signature(f"{idname}_v", tables[t]).alias("bucket"),
                )
                for t in range(n_tables)
            ]
        )
        return out.select(
            idname, f"{idname}_v", F.explode(buckets).alias("bk")
        ).select(
            idname,
            f"{idname}_v",
            F.col("bk.tbl").alias("tbl"),
            F.col("bk.bucket").alias("bucket"),
        )

    cb = bucketed(corpus, "neighbor_id")
    qb = bucketed(queries, "query_id")
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("query_id_v"), F.col("neighbor_id_v")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

def assign_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    centers_mode: str = "sample",
    seed: int = 42,
) -> "tuple[DataFrame, list[list[float]]]":
    """Coarse quantization: assign every vector to its nearest-of-
    ``n_cells`` center by cosine, returning ``(corpus + 'cell' column,
    centers)``.  The shared front half of IVF search (:func:`ivf_topk`)
    and cluster-balanced sampling (:func:`cluster_sample`).

    ``centers_mode='sample'`` picks the ``n_cells`` corpus vectors
    sorting first by ``md5(id)`` — a deterministic uniform sample, so
    the whole assignment is closed-form re-derivable by an independent
    engine; ``'kmeans'`` fits the FAISS-style quantizer (better balance,
    model state).  Either way the centers become plan literals: the
    assignment pass is map-only, no shuffle.
    """
    if centers_mode == "sample":
        # tiny driver collect (n_cells rows) — the centers become plan
        # literals, exactly like the k-means branch's model centers
        rows = (
            corpus.select(id_col, vec_col)
            .withColumn("_h", F.md5(F.col(id_col).cast("string")))
            .orderBy("_h", id_col)
            .limit(n_cells)
            .collect()
        )
        centers = [list(map(float, r[vec_col])) for r in rows]
        assigned = corpus.withColumn(
            "cell",
            F.array_sort(_neg_cosine_cells(vec_col, centers))[0]["cell"],
        )
    elif centers_mode == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        corpus_v = corpus.withColumn("features", array_to_vector(F.col(vec_col)))
        km = KMeans(k=n_cells, seed=seed, maxIter=10)
        model = km.fit(corpus_v.select("features"))
        centers = [list(map(float, c)) for c in model.clusterCenters()]
        assigned = model.transform(corpus_v).select(
            *corpus.columns, F.col("prediction").alias("cell")
        )
    else:
        raise ValueError(f"unknown centers_mode: {centers_mode!r}")
    return assigned, centers


def cluster_sample(
    corpus: DataFrame,
    n_per_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    centers_mode: str = "sample",
    seed: int = 42,
    hash_seed: str = "s0",
) -> DataFrame:
    """Diversity (cluster-balanced) sampling: quantize the embedding
    space into ``n_cells`` and keep exactly ``n_per_cell`` vectors per
    cell, ranked by the engine-portable md5 sampling hash — the SSL-
    style curation pass that flattens dense regions of embedding space
    instead of sampling them proportionally.  Composition: one map-only
    cell assignment (:func:`assign_cells`, centers as plan literals) +
    one WindowGroupLimit per-cell rank (:func:`corpus.group_sample`) —
    a single shuffle on the tiny cell key.

    Returns ``(id, cell)`` rows of the kept sample.
    """
    from capex_data_pipeline_spark.extensions.corpus import group_sample

    assigned, _ = assign_cells(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        centers_mode=centers_mode,
        seed=seed,
    )
    return group_sample(
        assigned.select(id_col, "cell"),
        n=n_per_cell,
        group_col="cell",
        key_col=id_col,
        seed=hash_seed,
    )


def group_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Element-wise mean vector per group — the centroid primitive
    behind class prototypes, topic vectors, per-source embedding
    drift, and k-means-style assignment (the IVF quantizer here uses
    the same math internally; this exposes it as a public operator).

    Scale shape: ``posexplode`` to (group, dim, value) rows — compact
    keys, one hash aggregate computing the per-dimension mean with
    map-side partial aggregation (the naive ``collect_list``-of-vectors
    per group caps at executor memory on hot groups; this never
    materializes a group's vectors together) — then one
    vocabulary-sized regroup reassembles each centroid as a
    dim-ordered array. Two shuffles on (group, dim)-bounded
    cardinality however many input rows there are.

    Means are rounded to ``decimals`` for engine-stable values, with
    the repo's ``+ 0.0`` collapse of IEEE -0.0 (a zero-centered
    dimension averaging to a tiny negative rounds to -0.0 on one
    engine and +0.0 on the other). NULL and EMPTY vectors are skipped
    (``n_vectors`` counts contributing vectors, assuming the uniform
    dimensionality an embedding column has by contract); groups whose
    vectors are all NULL/empty produce no row.
    Returns (group_col, n_vectors, centroid).
    """
    exploded = embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).select(
        F.col(group_col),
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"),
    )
    per_dim = exploded.groupBy(group_col, "_dim").agg(
        (F.round(F.avg("_v"), decimals) + F.lit(0.0)).alias("_m"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        per_dim.groupBy(group_col)
        .agg(
            F.max("_n").alias("n_vectors"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_dim"), F.col("_m")))
                ),
                lambda s: s["_m"],
            ).alias("centroid"),
        )
    )


def _sqdist_cells(
    vec_name: str, centers: list[list[float]], decimals: int = 6
) -> Column:
    """Array of (dist, cluster) structs over plan-literal centers —
    ``array_sort`` gives nearest-first with cluster-index tie-break,
    matching an oracle's ``row_number ORDER BY dist, cluster``.

    The squared-Euclidean fold runs in index order (``zip_with`` +
    sequential ``aggregate`` seeded with ``0D`` — IEEE ``0 + x == x``,
    so the op sequence is bit-identical to DuckDB's
    ``list_reduce(list_transform(...))`` first-element-seeded fold),
    and ``round(…, decimals)`` is applied BEFORE the argmin on both
    engines, so near-ties resolve by the shared cluster-index
    tie-break rather than last-ulp summation noise."""
    cells = ", ".join(
        "named_struct('dist', round(aggregate(zip_with({v}, {c},"
        " (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x),"
        " {d}), 'cluster', {i})".format(
            v=vec_name, c=_arr_sql(c), d=decimals, i=i
        )
        for i, c in enumerate(centers)
    )
    return F.expr(f"array({cells})")


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    rounds: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Engine-portable Lloyd's k-means: deterministic init (the ``k``
    vectors sorting first by ``md5(id)`` — the same closed-form sample
    :func:`assign_cells` uses), then ``rounds`` full Lloyd iterations
    (nearest-center assignment by squared Euclidean distance, then
    per-cluster per-dimension means as the new centers), returning the
    final assignment ``(id_col, cluster, dist)`` under the centers
    after the last update.

    Unlike ``pyspark.ml.clustering.KMeans`` (random init, model
    state), every stage here is closed-form over the data, so an
    independent SQL engine can re-derive the full result value-exact —
    the same property that gives IVF search (q37) its oracle. The
    cross-engine determinism levers: distances round to ``decimals``
    BEFORE the argmin (cluster-index tie-break), centroid means round
    to ``decimals`` with the repo's ``+ 0.0`` IEEE -0.0 collapse, and
    the rounded centers feed forward, so per-round rounding re-anchors
    both engines instead of letting ulp noise compound.

    Scale shape: the model state (k × dim doubles) lives driver-side
    and is compiled into each round's plan as literals — the k-means
    scale model every distributed implementation uses (MLlib, FAISS) —
    so per round the data pays ONE map-only assignment pass plus ONE
    hash aggregate on (cluster, dim) keys (k·dim cells, map-side
    partial aggregation; never a collect_list of member vectors). The
    input projection is persisted once and reused by every round's
    job. Empty clusters keep their previous center (deterministic, and
    what sample-init k-means implementations conventionally do).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    from capex_data_pipeline_spark.cache import persisted

    pts = persisted(
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        ).filter(F.col("_v").isNotNull() & (F.size("_v") > 0))
    )
    centers = _lloyd_fit(pts, k, rounds, id_col=id_col, decimals=decimals)
    best = F.array_sort(_sqdist_cells("_v", centers, decimals))[0]
    return pts.withColumn("_best", best).select(
        F.col(id_col),
        F.col("_best")["cluster"].alias("cluster"),
        F.col("_best")["dist"].alias("dist"),
    )


def _lloyd_fit(
    pts: DataFrame,
    k: int,
    rounds: int,
    id_col: str = "vec_id",
    decimals: int = 6,
) -> list[list[float]]:
    """Fit Lloyd's k-means on a pre-projected ``(id_col, _v)`` frame
    and return the final centers (the driver-side model). Extracted
    from ``kmeans_lloyd`` so product quantization can fit one codebook
    per subspace against sliced views of ONE persisted input.

    Init: the ``k`` vectors sorting first by ``md5(id)`` — closed-form
    and engine-replayable. Per round: map-only assignment against
    plan-literal centers + one (cluster, dim) aggregate; k·dim rows of
    driver traffic. Empty clusters keep their previous center.
    """
    rows = (
        pts.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"k={k} but only {len(rows)} non-empty vectors to seed from"
        )
    centers = [list(map(float, r["_v"])) for r in rows]

    for _ in range(rounds):
        assigned = pts.withColumn(
            "cluster",
            F.array_sort(_sqdist_cells("_v", centers, decimals))[0][
                "cluster"
            ],
        )
        per_dim = (
            assigned.select("cluster", F.posexplode("_v").alias("_dim", "_x"))
            .groupBy("cluster", "_dim")
            .agg((F.round(F.avg("_x"), decimals) + F.lit(0.0)).alias("_m"))
        )
        # k*dim rows (the model) — the only driver traffic per round
        got: dict[int, dict[int, float]] = {}
        for r in per_dim.collect():
            got.setdefault(r["cluster"], {})[r["_dim"]] = r["_m"]
        centers = [
            [got[i][d] for d in range(len(centers[i]))]
            if i in got
            else centers[i]
            for i in range(k)
        ]
    return centers


def pq_ann_topk(
    df: DataFrame,
    n_subspaces: int = 4,
    k_codes: int = 4,
    rounds: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011 shape): split each
    vector into ``n_subspaces`` contiguous subvectors, fit one
    ``k_codes``-center Lloyd codebook per subspace (via `_lloyd_fit`
    over sliced views of ONE persisted projection), encode every
    vector as its per-subspace nearest-center code, and rank against a
    deterministic probe (the lowest-``id_col`` vector) by asymmetric
    distance (ADC): the probe-to-center distance of each row's code,
    summed across subspaces.

    Why this is THE memory-bound ANN shape at 100 TB: each vector
    compresses to n_subspaces small ints (8 bytes here vs 512 for raw
    d=64 doubles), the ADC lookup table is n_subspaces × k_codes plan
    literals (constant-folded JVM-side — zero per-row distance
    arithmetic in the scan), and the encode+score pass is MAP-ONLY
    over the persisted projection followed by a TakeOrdered — no
    shuffle at all after the tiny codebook fits. Recall loss vs exact
    search is the PQ trade-off; q34 (brute-force cosine) is the exact
    baseline, q36/q37 the LSH/IVF alternatives.

    All model values are engine-rounded (the `kmeans_lloyd`
    convention), so an independent SQL engine re-derives codebooks,
    codes, LUT, and the final ranking value-exact.

    Returns the ``topk`` rows ``(id_col, codes, adc_dist)`` nearest
    the probe (total order: adc_dist, then id).
    """
    if n_subspaces < 1:
        raise ValueError(f"n_subspaces must be >= 1, got {n_subspaces}")
    from capex_data_pipeline_spark.cache import persisted

    pts = persisted(
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        ).filter(F.col("_v").isNotNull() & (F.size("_v") > 0))
    )
    d_row = pts.agg(F.min(F.size("_v")).alias("d")).collect()
    if not d_row or d_row[0]["d"] is None:
        raise ValueError("pq_ann_topk: no non-empty vectors")
    d = int(d_row[0]["d"])
    if d % n_subspaces != 0:
        raise ValueError(
            f"dim {d} not divisible into {n_subspaces} subspaces"
        )
    dsub = d // n_subspaces
    pts = pts.filter(F.size("_v") == d)

    # deterministic probe: the lowest-id vector (1-row driver traffic)
    q = list(
        map(
            float,
            pts.orderBy(id_col).limit(1).collect()[0]["_v"],
        )
    )

    codebooks = [
        _lloyd_fit(
            pts.select(
                F.col(id_col),
                F.slice("_v", s * dsub + 1, dsub).alias("_v"),
            ),
            k_codes,
            rounds,
            id_col=id_col,
            decimals=decimals,
        )
        for s in range(n_subspaces)
    ]

    # single map-only encode + ADC pass: codes from row slices, probe
    # distances from the constant-folded (subspace, code) LUT
    enc = pts.select(
        F.col(id_col),
        *[
            F.slice("_v", s * dsub + 1, dsub).alias(f"_v{s}")
            for s in range(n_subspaces)
        ],
    )
    codes = [
        F.array_sort(_sqdist_cells(f"_v{s}", codebooks[s], decimals))[0][
            "cluster"
        ]
        for s in range(n_subspaces)
    ]
    luts = [
        F.expr(
            "array("
            + ", ".join(
                "round(aggregate(zip_with({q}, {c}, (x, y) ->"
                " (x - y) * (x - y)), 0D, (acc, x) -> acc + x),"
                " {dec})".format(
                    q=_arr_sql(q[s * dsub : (s + 1) * dsub]),
                    c=_arr_sql(c),
                    dec=decimals,
                )
                for c in codebooks[s]
            )
            + ")"
        )
        for s in range(n_subspaces)
    ]
    dist_terms = [
        F.element_at(luts[s], codes[s] + 1) for s in range(n_subspaces)
    ]
    total = dist_terms[0]
    for t in dist_terms[1:]:
        total = total + t
    return (
        enc.select(
            F.col(id_col),
            F.array(*codes).alias("codes"),
            F.round(total, decimals).alias("adc_dist"),
        )
        .orderBy("adc_dist", id_col)
        .limit(topk)
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    vector, the ``k`` most-similar corpus vectors with a DIFFERENT
    label — the examples a bi-encoder most confuses, which is exactly
    what dense-retrieval / embedding training pipelines (DPR, ANCE,
    Contriever-style) mine between epochs.

    Same scale shape as :func:`cosine_topk` (the query batch
    broadcasts, the corpus pays one scored scan, per-query top-k via
    WindowGroupLimit) with the label-inequality predicate folded into
    the broadcast join, so same-label candidates are dropped BEFORE
    the window. Rows with a NULL label on either side yield no pairs
    (the inequality is SQL-unknown) — unlabeled data can't be mined
    for negatives. Ties break by neighbor id.

    Returns (query_id, neighbor_id, neighbor_label, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("_ql"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("_ql") != F.col("neighbor_label")),
    ).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    k: int = 60,
    topk: int = 10,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N per-query
    rankings: ``score(d) = Σ_r 1/(k + rank_r(d))`` over every ranking
    that returned ``d`` — THE standard hybrid-retrieval combiner
    (BM25 + dense, multiple ANN probes, ensemble rerankers) because it
    needs no score calibration, only ranks.

    Scale shape: a union of the (already small — top-k per query)
    ranking frames, ONE hash aggregate on (query, doc), and one
    per-query top-k window — everything downstream of the rankers is
    proportional to Σ candidates, never the corpus. Per-candidate
    reciprocal terms are exact IEEE (sum order over a handful of
    rankers is commutative-safe at the 6-decimal rounding applied);
    final ties break doc-ascending.

    Returns (query_col, doc_col, n_rankers, rrf_score, fused_rank).
    """
    if not rankings or len(rankings) < 2:
        raise ValueError("rrf_fuse: need at least two rankings")
    if k < 1:
        raise ValueError(f"rrf_fuse: k must be >= 1, got {k}")
    parts = [
        r.select(
            F.col(query_col),
            F.col(doc_col),
            (
                F.lit(1.0)
                / (F.lit(float(k)) + F.col(rank_col).cast("double"))
            ).alias("_t"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(query_col, doc_col).agg(
        F.count(F.lit(1)).alias("n_rankers"),
        (F.round(F.sum("_t"), 6) + F.lit(0.0)).alias("rrf_score"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(doc_col)
    )
    return fused.withColumn("fused_rank", F.row_number().over(w)).filter(
        F.col("fused_rank") <= topk
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    decimals: int = 6,
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact baseline — the eval loop every production ANN deployment
    runs beside its index (tune nprobe/bands until recall holds, then
    monitor for drift as the corpus grows). Both inputs use the
    engine's ranking contract (query_col, id_col, rank) —
    :func:`cosine_topk` / :func:`ivf_query` / :func:`srp_lsh_topk` /
    :func:`pq_ann_topk` outputs plug in directly.

    recall = |approx∩exact| / |exact| over each side's rank <= k rows
    (the denominator is the EXACT list's size, which can be < k for
    tiny corpora — self-matches excluded upstream). Queries missing
    from ``approx`` entirely (e.g. probing only empty cells) still
    report a row with recall 0.0 — silent query dropout is the
    failure mode an eval must surface, so the query universe comes
    from ``exact``.

    Scale shape: both inputs are top-k frames (queries × k rows —
    eval-sized, not corpus-sized); one left-semi-style join on the
    compact (query, neighbor) key and one per-query aggregate.
    Returns (query_col, n_exact, n_hits, recall).
    """
    a = approx.filter(F.col("rank") <= k).select(
        F.col(query_col).alias("_q"), F.col(id_col).alias("_n")
    )
    e = exact.filter(F.col("rank") <= k).select(
        F.col(query_col).alias("_q"), F.col(id_col).alias("_n")
    )
    hits = e.join(a, ["_q", "_n"], "left_semi")
    per_exact = e.groupBy("_q").agg(F.count(F.lit(1)).alias("n_exact"))
    per_hit = hits.groupBy("_q").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        per_exact.join(per_hit, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_exact"),
                decimals,
            ).alias("recall"),
        )
    )


def group_embedding_diversity(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """MEAN PAIRWISE COSINE similarity inside every group — the
    embedding-diversity report a curation pipeline reads before
    sampling ("is this source one blob of paraphrases or actually
    varied?") — WITHOUT the pairwise join: for unit-normalized
    vectors u, Σ_{i≠j} u_i·u_j = ‖Σu‖² − n, so the whole statistic is
    one per-dimension sum. The identity turns the O(n²) all-pairs
    cosine into ONE posexplode + one (group, dim) hash aggregate +
    one group-sized reduction — the sufficient-statistics move (the
    q197 trend convention, applied to vectors), exactly mergeable
    across shards/days. High mean (→1) = near-duplicates the q67
    semantic dedup should see; near 0 = diverse.

    Zero-norm vectors are excluded (no direction); groups with one
    usable vector return NULL (no pairs). Returns (group_col, n,
    mean_pairwise_cos).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    )
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(group_col).alias("_g"), v.alias("_v"), nrm.alias("_n"))
        .filter(F.col("_n") > 0)
        .select(
            "_g",
            F.posexplode(
                F.transform(F.col("_v"), lambda x: x / F.col("_n"))
            ).alias("_i", "_u"),
        )
    )
    dimsum = base.groupBy("_g", "_i").agg(F.sum("_u").alias("_s"))
    ss = dimsum.groupBy("_g").agg(
        F.sum(F.col("_s") * F.col("_s")).alias("_ss")
    )
    # n recovered from the dim-sum pass itself: each vector contributed
    # exactly dim entries, so count(rows)/dim == n — but the dim isn't
    # assumed; a plain count per group is one more cells-free aggregate
    cnt = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(group_col).alias("_g"), nrm.alias("_n"))
        .filter(F.col("_n") > 0)
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cnt.join(ss, "_g").select(
        F.col("_g").alias(group_col),
        "n",
        F.round(
            (F.col("_ss") - F.col("n"))
            / F.nullif(
                (F.col("n") * (F.col("n") - 1)).cast("double"), F.lit(0.0)
            ),
            decimals,
        ).alias("mean_pairwise_cos"),
    )


def group_centroid_drift(
    old: DataFrame,
    new: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Embedding-distribution DRIFT per group between two corpus
    snapshots: the cosine between each group's OLD and NEW centroid —
    the cheap monitor that catches "this source's content moved"
    before any model does (q101 builds the centroids; this compares
    them across time; q96's PSI is the scalar-feature sibling). Two
    per-dimension sum aggregates (one per snapshot, mergeable), a
    group+dim equi-join of cells frames, one group-sized reduction —
    nothing pairwise, nothing driver-side.

    Returns (group_col, n_old, n_new, centroid_cos): cos near 1 =
    stable; groups missing from either snapshot drop (inner join —
    drift needs both sides).
    """
    def cells(df: DataFrame, tag: str) -> DataFrame:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        return (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.col(group_col).alias("_g"), F.posexplode(v).alias("_i", "_x"))
            .groupBy("_g", "_i")
            .agg(
                F.sum("_x").alias(f"_s{tag}"),
                (F.count(F.lit(1))).alias(f"_c{tag}"),
            )
        )

    a, b = cells(old, "a"), cells(new, "b")
    per_dim = a.join(b, ["_g", "_i"]).select(
        "_g",
        (F.col("_sa") / F.col("_ca")).alias("_ma"),
        (F.col("_sb") / F.col("_cb")).alias("_mb"),
        F.col("_ca").alias("_na"),
        F.col("_cb").alias("_nb"),
    )
    g = per_dim.groupBy("_g").agg(
        F.max("_na").alias("n_old"),
        F.max("_nb").alias("n_new"),
        F.sum(F.col("_ma") * F.col("_mb")).alias("_dot"),
        F.sum(F.col("_ma") * F.col("_ma")).alias("_qa"),
        F.sum(F.col("_mb") * F.col("_mb")).alias("_qb"),
    )
    return g.select(
        F.col("_g").alias(group_col),
        "n_old",
        "n_new",
        F.round(
            F.col("_dot")
            / F.nullif(
                F.sqrt(F.col("_qa")) * F.sqrt(F.col("_qb")), F.lit(0.0)
            ),
            decimals,
        ).alias("centroid_cos"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 20,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein
    1998, public formula) — diversity-aware top-k: greedily pick the
    candidate maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-selected, so the result covers the query's neighborhood
    instead of returning ``k`` near-duplicates of the same best hit
    (the retrieval-side complement of SemDeDup: dedup selects ONE
    representative per blob, MMR selects ACROSS blobs). λ rides as
    integer tenths and the score is round((λ₁₀·rel − (10−λ₁₀)·maxsim)
    div-by-10, decimals) over ROUND-4 cosines, so both engines
    compare identical doubles and the greedy argmax (ties by
    neighbor id) replays bit-for-bit — writing ``1 − 0.7`` as a
    float literal would already diverge (0.30000000000000004).

    Scale shape: the candidate pool is the brute top-``pool`` per
    query (one broadcast pass, the q34 operator); pairwise
    similarities are pool²-bounded per query (POOL is the knob —
    20² = 400 rows/query, never corpus-sized); each of the ``k``
    greedy rounds is one anti join + one bounded max-aggregate + one
    per-query argmax window, with a plan boundary per round.

    Returns (query_id, neighbor_id, relevance, mmr_score,
    pick_rank), ``pick_rank`` 1..k in selection order.
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if not (1 <= lam_tenths <= 10):
        raise ValueError(f"lam_tenths must be in 1..10: {lam_tenths}")
    if k < 1 or pool < k:
        raise ValueError(f"need pool >= k >= 1, got k={k}, pool={pool}")
    p = persisted(cosine_topk(corpus, queries, k=pool, id_col=id_col,
                              vec_col=vec_col).drop("rank"))
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    pv = p.join(nv, "neighbor_id")
    a = pv.select(
        "query_id", F.col("neighbor_id").alias("_a"), F.col("_nv").alias("_av")
    )
    b = pv.select(
        "query_id", F.col("neighbor_id").alias("_b"), F.col("_nv").alias("_bv")
    )
    pairs = persisted(
        a.join(b, "query_id")
        .filter(F.col("_a") != F.col("_b"))
        .select(
            "query_id", "_a", "_b",
            F.round(cosine(F.col("_av"), F.col("_bv")), 4).alias("_ps"),
        )
    )
    lam_c = F.lit(lam_tenths)
    inv_c = F.lit(10 - lam_tenths)
    sel = None
    out = None
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_score"), F.asc("neighbor_id")
    )
    for r in range(1, k + 1):
        if sel is None:
            scored = p.withColumn("_ms", F.lit(0.0))
        else:
            ms = (
                pairs.join(
                    sel.select(
                        "query_id", F.col("neighbor_id").alias("_b")
                    ),
                    ["query_id", "_b"],
                )
                .groupBy("query_id", F.col("_a").alias("neighbor_id"))
                .agg(F.max("_ps").alias("_ms"))
            )
            scored = (
                p.join(
                    sel.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                    "left_anti",
                )
                .join(ms, ["query_id", "neighbor_id"], "left")
                .withColumn("_ms", F.coalesce(F.col("_ms"), F.lit(0.0)))
            )
        scored = scored.withColumn(
            "_score",
            F.round(
                (lam_c * F.col("cosine") - inv_c * F.col("_ms"))
                / F.lit(10),
                decimals,
            ),
        )
        pick = _boundary(
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                F.col("cosine").alias("relevance"),
                F.col("_score").alias("mmr_score"),
                F.lit(r).cast("int").alias("pick_rank"),
            ),
            eager=True,
            label="mmr",
        )
        out = pick if out is None else out.unionByName(pick)
        sel = _boundary(
            out.select("query_id", "neighbor_id"), eager=False,
            label="mmr_sel",
        )
    return out
