"""Iterative graph algorithms over edge-list DataFrames — the
link-analysis half of corpus curation (domain-authority weighting for
crawl prioritization, citation ranking for document importance).

The repo's iterative-algorithm pattern lives here alongside
``dedup.dedup_clusters`` (label propagation): per-round work is plain
joins/aggregates on compact keys, rounds compose by rebuilding the
frame, and deep-plan growth is controlled with an explicit plan
boundary (the q93 lesson — see docs/SCALE.md).

Join strategy is the planner's (no hint, no size gate): a vertex-sized
frame cut by ``localCheckpoint`` keeps its size estimate (Spark 4.1;
pinned by ``tests/test_graph.py``), so the first round's state joins
the persisted edge frame as a BroadcastHashJoin. State derived through
a join of cut or cached frames is estimated at the product of their
sizes, so in later rounds the planner builds the hash table on the
edge frame whenever that fits ``autoBroadcastJoinThreshold`` (64 MB);
past it the join is planned as a SortMergeJoin for AQE to re-plan
from measured stage sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: ranks are BIGINT micro-units (1.0 == 1_000_000)
RANK_SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """PageRank in exact integer micro-units (simplified damped
    variant, public formula): starting from ``r0 = 1.0`` per vertex,

    ``r'(v) = 0.15 + 0.85 · Σ_{u→v} (r(u) div out_deg(u))``

    with every step in BIGINT micro-units and FLOOR division — so the
    result is bit-identical across engines, partitionings, and runs
    (float PageRank is partial-sum-order dependent; the micro-unit
    quantization error is ≤ deg/1e6 per vertex per round, irrelevant
    for ranking). Dangling vertices (no out-edges) simply contribute
    nothing — the standard simplification; their mass is not
    redistributed.

    Scale shape: each round is ONE equi-join of the edge list to the
    current rank frame on ``src`` plus ONE hash aggregate on ``dst``
    (both compact keys), and a left join back to the vertex set so
    sink-only vertices keep the 0.15 base. The degree-annotated edge
    list and the vertex set are persisted once and reused by every
    round (the ledger rule: ``iterations``+1 consumers). Plans deepen
    linearly with rounds, so past 4 iterations each round's rank frame
    is cut via :func:`cache.plan_boundary` (the q93 rule: many-consumer
    deep tails pay analyzer cost multiplicatively); how it is cut is
    the deployment's ``$SPARK_GRAFT_BOUNDARY``.

    ``assume_distinct=True`` skips the defensive edge ``distinct()``
    (a full shuffle of the edge list) when the caller guarantees no
    duplicate (src, dst) pairs — duplicate edges would double-count
    contributions, so only set it when the input is constructed
    distinct (as the q99 registry builder is).

    Returns (vertex, rank_micro) — rank in micro-units, BIGINT.
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    cut = iterations > 4

    from pyspark.sql.window import Window

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    # degree-annotated edges in ONE pass over e (window count per src —
    # the aggregate-then-self-join shape would evaluate e's producer
    # twice); persisted, reused by every round AND by the vertex set
    edeg = persisted(
        e.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    verts = persisted(
        edeg.select(F.col("src").alias("v"))
        .unionByName(edeg.select(F.col("dst").alias("v")))
        .distinct()
    )

    ranks = verts.select("v", F.lit(RANK_SCALE).cast("long").alias("r"))
    base = (RANK_SCALE * 15) // 100  # 0.15 in micro-units
    for _ in range(iterations):
        contribs = (
            edeg.join(ranks, edeg["src"] == ranks["v"])
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = verts.join(
            contribs, verts["v"] == contribs["dst"], "left"
        ).select(
            "v",
            (
                F.lit(base).cast("long")
                + F.expr("850 * coalesce(s, 0L) div 1000")
            ).alias("r"),
        )
        if cut:
            ranks = _boundary(ranks, eager=False, label="pagerank")
    return ranks.select(
        F.col("v").alias("vertex"), F.col("r").alias("rank_micro")
    )


def _canonical_edges(
    edges: DataFrame, src_col: str, dst_col: str, assume_canonical: bool
) -> DataFrame:
    """Undirected edge set as canonical (a < b) pairs: self-loops and
    nulls dropped, both orientations collapsed, duplicates removed.
    ``assume_canonical=True`` skips the distinct (a full edge-list
    shuffle) when the caller already built the set canonical — e.g. a
    groupBy(a, b) producer is distinct by construction."""
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
    ).where(
        F.col("a").isNotNull()
        & F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
    )
    return e if assume_canonical else e.distinct()


def _undirected_degrees(und: DataFrame) -> DataFrame:
    """(v, d) vertex degrees of a canonical undirected edge list — one
    union + one hash aggregate on the vertex key."""
    return (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact per-vertex triangle counts by degree-ordered orientation
    (the classic MapReduce triangle algorithm of Suri–Vassilvitskii /
    Cohen, public): orient every undirected edge from its lower
    (degree, id) endpoint to the higher, enumerate wedges at each
    source, and close them against the oriented edge list.

    Why this survives scale: after orientation every vertex's
    out-degree is O(sqrt(m)) regardless of how skewed the raw degree
    distribution is — the celebrity vertex that would make a naive
    neighbor self-join quadratic becomes the *target* of its edges,
    never the wedge pivot. Total wedge count is O(m^1.5) worst case,
    the provable lower bound for exact counting. All three steps are
    equi-joins / hash aggregates on compact vertex keys; the oriented
    edge list is persisted once and consumed three times (both wedge
    sides + the closing probe).

    Ties in degree break by vertex id, so the orientation is a total
    order and each triangle is counted exactly once, at its minimum
    (degree, id) corner.

    Returns (vertex, n_triangles) for vertices in >= 1 triangle.
    """
    from capex_data_pipeline_spark.cache import persisted

    und = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    deg = _undirected_degrees(und)
    ann = und.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = persisted(
        ann.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("wd"),
        )
    )
    lo = oriented.select("u", F.col("w").alias("v"), F.col("wd").alias("vd"))
    hi = oriented.select("u", F.col("w").alias("x"), F.col("wd").alias("xd"))
    wedges = lo.join(hi, "u").where(
        (F.col("vd") < F.col("xd"))
        | ((F.col("vd") == F.col("xd")) & (F.col("v") < F.col("x")))
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("w").alias("x"))
    tris = wedges.join(closing, ["v", "x"])
    return (
        tris.select(F.explode(F.array("u", "v", "x")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int | None = None,
    until_fixpoint: bool = False,
    max_iter: int = 50,
    assume_canonical: bool = False,
) -> DataFrame:
    """Connected components of an undirected edge list by min-label
    propagation — the public graph-operator form of the loop proven
    inside ``dedup.dedup_clusters`` (each vertex's label becomes the
    min of its own and its neighbors', iterated; converges in
    ``diameter(G)`` rounds). Self-loops, duplicate edges, and either
    orientation are tolerated (canonicalized up front; skip with
    ``assume_canonical=True`` when the producer is already a distinct
    a<b frame, e.g. a groupBy(a, b) edge builder).

    Two stopping modes (same contract as :func:`kcore_peel`):

    - ``rounds=R``: exactly R propagation rounds — deterministic,
      engine-portable (an external replay can unroll R rounds; the
      registered query's DuckDB oracle does exactly that). The result
      is the true component labeling iff R >= diameter; extra rounds
      are data no-ops.
    - ``until_fixpoint=True``: iterate until a changed-label count
      reaches zero (one tiny driver count per round). The true
      components for any graph; raises after ``max_iter`` rounds
      without convergence rather than silently returning a split
      labeling (no silent caps). Differential-tested against a
      driver-side union-find replay in ``tests/test_graph.py``.

    Per round: ONE equi-join of the symmetric edge list to the label
    frame + ONE hash aggregate on the vertex key — compact (id, label)
    pairs only, neighbor lists never materialize. The symmetric edge
    frame is persisted once (``rounds``+1 consumers). Plans deepen
    linearly with rounds, so each round's label frame is cut via
    :func:`cache.plan_boundary` past 4 rounds or in fixpoint mode.

    Returns (vertex, component) with component = min vertex id in the
    (R-round-reachable) component.
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if (rounds is None) == (not until_fixpoint):
        raise ValueError(
            "connected_components: pass exactly one of rounds= or "
            "until_fixpoint=True"
        )
    if rounds is not None and rounds < 1:
        raise ValueError("connected_components: rounds must be >= 1")
    cut = until_fixpoint or (rounds or 0) > 4

    und = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    # symmetric orientation so one equi-join sees both neighbor sides;
    # isolated self-loop-only vertices were dropped by canonicalization
    # (a self-loop adds no connectivity), matching dedup_clusters
    sym = persisted(
        und.unionAll(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    labels = sym.select(F.col("a").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    if cut:
        labels = _boundary(labels, eager=False, label="cc")
    i = 0
    while True:
        if not until_fixpoint and i >= rounds:
            break
        i += 1
        nbr = sym.join(
            labels.withColumnRenamed("v", "b").select("b", "lbl"), "b"
        ).select(F.col("a").alias("v"), "lbl")
        if until_fixpoint:
            # convergence check FUSED into the round: each vertex's old
            # label rides through the same union+aggregate (labels holds
            # exactly one row per vertex, so min(_old) skipping the
            # neighbor rows' NULLs recovers it), and `changed` becomes a
            # filter-count over the freshly cut frame — the old shape
            # re-joined new × labels every round, one extra join (and
            # its exchanges or broadcast build) per round whose only
            # output was this count.
            new = (
                labels.withColumn("_old", F.col("lbl"))
                .unionByName(nbr, allowMissingColumns=True)
                .groupBy("v")
                .agg(F.min("lbl").alias("lbl"), F.min("_old").alias("_old"))
            )
            if cut:
                new = _boundary(new, eager=False, label="cc")
            changed = new.where(F.col("lbl") != F.col("_old")).count()
            labels = new.select("v", "lbl")
            if changed == 0:
                break
            if i >= max_iter:
                raise ValueError(
                    f"connected_components: no fixpoint after max_iter="
                    f"{max_iter} rounds (component diameter exceeds the "
                    "bound); raise max_iter"
                )
        else:
            new = (
                labels.unionByName(nbr)
                .groupBy("v")
                .agg(F.min("lbl").alias("lbl"))
            )
            if cut:
                new = _boundary(new, eager=False, label="cc")
            labels = new
    return labels.select(
        F.col("v").alias("vertex"), F.col("lbl").alias("component")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    until_fixpoint: bool = False,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """k-core by iterative peeling: repeatedly delete vertices with
    degree < k (and their edges); what survives is the k-core — the
    standard cohesion filter for graph-shaped corpora (drop weakly
    connected crawl domains / citation islands before link analysis).

    Two stopping modes:

    - ``rounds=R``: exactly R peel rounds — deterministic work,
      engine-portable (an external replay can unroll R rounds; the
      registered query's DuckDB oracle does exactly that). If the
      peel converges earlier, extra rounds are no-ops on the data.
    - ``until_fixpoint=True``: peel until an edge-count action shows
      no change (one tiny driver count per round). The true k-core;
      rounds are data-dependent, so this path is differential-tested
      rather than SQL-oracled.

    Per round: ONE degree aggregate on the vertex key + ONE semi join
    per endpoint against the surviving-vertex set — all compact keys,
    never materializes neighbor lists. Plans deepen linearly with
    rounds, so each round's edge frame is cut with
    :func:`cache.plan_boundary` past 4 rounds or in fixpoint mode.

    Returns (vertex, core_deg): surviving vertices with their degree
    inside the peeled subgraph.
    """
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if (rounds is None) == (not until_fixpoint):
        raise ValueError(
            "kcore_peel: pass exactly one of rounds= or until_fixpoint=True"
        )
    if rounds is not None and rounds < 1:
        raise ValueError("kcore_peel: rounds must be >= 1")
    if k < 1:
        raise ValueError("kcore_peel: k must be >= 1")
    n_rounds = rounds if rounds is not None else 0
    cut = until_fixpoint or n_rounds > 4

    e = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    prev_count: int | None = None
    i = 0
    while True:
        if until_fixpoint:
            n = e.count()
            if n == prev_count:
                break
            prev_count = n
        elif i >= n_rounds:
            break
        i += 1
        alive = (
            _undirected_degrees(e)
            .where(F.col("d") >= k)
            .select("v")
        )
        e = (
            e.join(alive.select(F.col("v").alias("a")), "a", "left_semi")
            .join(alive.select(F.col("v").alias("b")), "b", "left_semi")
            .select("a", "b")
        )
        if cut:
            e = _boundary(e, eager=False, label="kcore")
    return (
        _undirected_degrees(e)
        .select(F.col("v").alias("vertex"), F.col("d").alias("core_deg"))
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int | None = None,
    until_fixpoint: bool = False,
    max_iter: int = 30,
    assume_canonical: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007, made deterministic): every vertex starts labeled with
    its own id; each round it adopts the label that is MOST FREQUENT
    among its neighbors, ties broken by the smallest label — a fully
    deterministic, engine-replayable update rule (the classic
    formulation breaks ties randomly; random ties are not oracle-able
    and not reproducible across partitionings either).

    Two stopping modes (same contract as :func:`kcore_peel` /
    :func:`connected_components`):

    - ``rounds=R``: exactly R synchronous rounds — deterministic and
      engine-portable (the registered query's DuckDB oracle unrolls R
      rounds in MATERIALIZED CTEs).
    - ``until_fixpoint=True``: iterate until no label changes (one
      tiny driver count per round), raising after ``max_iter`` rounds
      rather than silently returning (no silent caps). NOTE:
      synchronous LPA can 2-cycle on bipartite-ish structure (labels
      swap sides forever) — that surfaces as the loud ``max_iter``
      raise, and bounded ``rounds=`` mode is the documented fallback.

    Per round: ONE equi-join of the symmetric edge list to the label
    frame + TWO hash aggregates on compact keys — (v, lbl) neighbor
    counts, then the per-vertex argmax as ``min(struct(-count,
    lbl))``, which keeps the argmax inside a map-side-combining
    aggregate instead of paying a window sort-shuffle. Neighbor lists
    never materialize. The symmetric frame is persisted once; each
    round's label frame is cut via :func:`cache.plan_boundary` past 4
    rounds or in fixpoint mode.

    Returns (vertex, community). Vertices keep their own id as the
    community only if no neighbor label ever beats it — isolated
    vertices don't appear (an edge list carries no isolated vertices).
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if (rounds is None) == (not until_fixpoint):
        raise ValueError(
            "label_propagation: pass exactly one of rounds= or "
            "until_fixpoint=True"
        )
    if rounds is not None and rounds < 1:
        raise ValueError("label_propagation: rounds must be >= 1")
    cut = until_fixpoint or (rounds or 0) > 4

    und = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    sym = persisted(
        und.unionAll(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    labels = sym.select(F.col("a").alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    if cut:
        labels = _boundary(labels, eager=False, label="lpa")
    i = 0
    while True:
        if not until_fixpoint and i >= rounds:
            break
        i += 1
        nbr = sym.join(
            labels.withColumnRenamed("v", "b").select("b", "lbl"), "b"
        ).select(F.col("a").alias("v"), "lbl")
        cnt = nbr.groupBy("v", "lbl").agg(F.count(F.lit(1)).alias("c"))
        new = (
            cnt.groupBy("v")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lbl").alias("l")
                    )
                ).alias("m")
            )
            .select("v", F.col("m.l").alias("lbl"))
        )
        if cut:
            new = _boundary(new, eager=False, label="lpa")
        if until_fixpoint:
            changed = (
                new.join(labels.withColumnRenamed("lbl", "_old"), "v")
                .where(F.col("lbl") != F.col("_old"))
                .count()
            )
            labels = new
            if changed == 0:
                break
            if i >= max_iter:
                raise ValueError(
                    f"label_propagation: no fixpoint after max_iter="
                    f"{max_iter} rounds (synchronous LPA can 2-cycle on "
                    "bipartite structure); use bounded rounds= instead"
                )
        else:
            labels = new
    return labels.select(
        F.col("v").alias("vertex"), F.col("lbl").alias("community")
    )


def bfs_hops(
    edges: DataFrame,
    sources: "list[int]",
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distance on an undirected edge list: every
    vertex within ``rounds`` hops of ANY seed in ``sources`` gets its
    minimum hop count — crawl depth from seed hosts, blast radius of a
    contaminated document through a near-dup graph, "within-k-hops"
    entity neighborhoods.

    Frontier expansion, not whole-graph relaxation: round r joins only
    the PREVIOUS frontier (vertices first reached at r-1) to the
    symmetric edge frame, then anti-joins the visited set — so total
    work is Σ frontier-adjacent edges ≈ O(m) across ALL rounds (each
    edge is crossed at most twice, when either endpoint is on the
    frontier), versus O(m·rounds) for the label-relaxation loop CC
    uses. BFS's first-visit-is-shortest property makes the result
    exact with no per-vertex min() bookkeeping. Seeds are plan
    literals; seeds absent from the edge list still report hops 0
    (an isolated seed is at distance 0 from itself).

    Deterministic and unrollable: ``rounds`` is a fixed bound (an
    external SQL replay unrolls one CTE per round — the registered
    oracle does exactly that); vertices farther than ``rounds`` hops
    are absent from the result, the bounded-reachability contract.
    Each round's frontier is cut past 2 rounds — stricter than the
    other iterative graph ops because each round references BOTH the
    frontier and the visited set, so an unboundaried round embeds the
    previous round's plan twice (2^rounds re-execution of the frontier
    joins; measured at sf0.1/4 rounds: single-shot 17.2 s → 15.2 s —
    the shared co-purchase edge build dominates that number — and
    1.7 s once the persisted symmetric edge frame is warm).

    Returns (vertex, hops), hops in [0, rounds].
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    if not sources:
        raise ValueError("bfs_hops: sources must be non-empty")
    cut = rounds > 2

    spark = edges.sparkSession
    und = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    sym = persisted(
        und.unionAll(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    dist = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.lit(int(s)).cast("long")
                    for s in sorted(set(sources))
                ]
            )
        ).alias("vertex"),
        F.lit(0).alias("hops"),
    )
    frontier = dist.select("vertex")
    for r in range(1, rounds + 1):
        new = (
            sym.join(frontier.withColumnRenamed("vertex", "a"), "a")
            .select(F.col("b").alias("vertex"))
            .distinct()
            .join(dist.select("vertex"), "vertex", "left_anti")
        )
        if cut:
            new = _boundary(new, eager=False, label="bfs")
        frontier = new
        dist = dist.unionByName(
            new.withColumn("hops", F.lit(r).cast("int"))
        )
    return dist


def cc_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components maintained INCREMENTALLY: fold a batch of
    NEW edges into an existing (vertex, component) labeling without
    re-clustering history — the daily-dedup move at 100 TB, where
    yesterday's corpus is already labeled and only today's near-dup
    pairs arrive. The full min-label recompute touches every (id,
    label) pair per round; this touches the NEW edges plus only the
    rows of components that actually merge.

    Union-find on supernodes: each new edge's endpoints map to their
    CURRENT labels (vertices the labeling has never seen label as
    themselves), label-level edges with both ends equal drop (the
    intra-component no-op case), and :func:`connected_components`
    runs to fixpoint on the remaining SUPER-graph — bounded by the
    new-edge count, not the corpus. The resulting old-label ->
    new-label map (strict renames only) broadcasts back onto the
    labeling; untouched components never shuffle. Because existing
    labels are min-member ids and unseen vertices enter as their own
    ids, the merged label is again the global min member id — so the
    output is EXACTLY what a from-scratch recompute over old ∪ new
    edges produces, which is what the q189 oracle certifies.

    Returns (vertex, component) over labeled ∪ new-edge vertices.
    """
    la = labels.select(
        F.col("vertex").alias("_va"), F.col("component").alias("_la")
    )
    lb = labels.select(
        F.col("vertex").alias("_vb"), F.col("component").alias("_lb")
    )
    super_edges = (
        new_edges.select(
            F.col(src_col).alias("_va"), F.col(dst_col).alias("_vb")
        )
        .join(la, "_va", "left")
        .join(lb, "_vb", "left")
        .select(
            F.coalesce("_la", F.col("_va")).alias("s"),
            F.coalesce("_lb", F.col("_vb")).alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    sup = connected_components(
        super_edges,
        src_col="s",
        dst_col="d",
        until_fixpoint=True,
        max_iter=max_iter,
    )
    remap = sup.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("_old"), F.col("component").alias("_new")
    )
    updated = (
        labels.join(
            F.broadcast(remap),
            labels["component"] == F.col("_old"),
            "left",
        )
        .select(
            "vertex",
            F.coalesce(F.col("_new"), F.col("component")).alias("component"),
        )
    )
    seen = labels.select("vertex")
    fresh = (
        new_edges.select(F.col(src_col).alias("vertex"))
        .unionByName(new_edges.select(F.col(dst_col).alias("vertex")))
        .distinct()
        .join(seen, "vertex", "left_anti")
    )
    fresh_labeled = (
        fresh.join(
            F.broadcast(remap), fresh["vertex"] == F.col("_old"), "left"
        )
        .select(
            "vertex",
            F.coalesce(F.col("_new"), F.col("vertex")).alias("component"),
        )
    )
    return updated.unionByName(fresh_labeled)


def sssp_bounded(
    edges: DataFrame,
    sources: "list[int]",
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Hop-bounded single/multi-source SHORTEST PATHS on a weighted
    undirected edge list (Bellman-Ford relaxation, ``rounds``
    iterations): every vertex reachable from any seed within
    ``rounds`` edges gets its minimum path WEIGHT using at most that
    many hops — :func:`bfs_hops` with costs ("cheapest influence
    path", weighted blast radius, toll-aware reachability).

    Memory contract: only the symmetric edge frame takes a TRACKED
    persist (released by ``cache.release_persisted`` between batches,
    like every other iterative op here); each round's merged distance
    frame is cut with :func:`cache.plan_boundary` instead — lineage
    truncates, the loop never pins rounds+1 cached frames for the
    session lifetime, and the round blocks are reclaimed by Spark's
    ContextCleaner once the next round drops its reference.

    Weights must be non-negative INTEGERS (cost units, cents, hop
    fees — quantize upstream): distance sums are then exact BIGINTs,
    min() compares exact values, and an external SQL replay unrolls
    bit-for-bit (the bounded-round contract of the other iterative
    graph ops). Each round relaxes ONLY edges adjacent to vertices
    whose distance improved last round (the frontier), then
    min-merges into the distance frame — work is frontier-adjacent
    edges per round, not m·rounds when convergence is fast. Vertices
    beyond ``rounds`` hops are absent (bounded-reachability
    contract); seeds report distance 0.

    Returns (vertex, dist), dist = exact integer path weight.
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    if not sources:
        raise ValueError("sssp_bounded: sources must be non-empty")
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(weight_col).cast("long").alias("_w"),
    ).filter(F.col("_w").isNotNull() & (F.col("_w") >= 0))
    sym = persisted(
        e.unionByName(
            e.select(
                F.col("_d").alias("_s"),
                F.col("_s").alias("_d"),
                "_w",
            )
        )
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(v), 0) for v in sources], "vertex long, dist long"
    )
    frontier = dist
    for _ in range(rounds):
        cand = (
            frontier.join(sym, frontier["vertex"] == sym["_s"])
            .select(
                F.col("_d").alias("vertex"),
                (F.col("dist") + F.col("_w")).alias("dist"),
            )
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )
        merged = _boundary(
            dist.unionByName(cand)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist")),
            eager=False,
            label="sssp",
        )
        # next frontier: vertices whose distance IMPROVED this round
        # (new vertices, or a cheaper path into a known one)
        frontier = merged.join(
            dist.withColumnRenamed("dist", "_old"), "vertex", "left"
        ).filter(
            F.col("_old").isNull() | (F.col("dist") < F.col("_old"))
        ).select("vertex", "dist")
        dist = merged
    return dist


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    decimals: int = 6,
) -> DataFrame:
    """Newman modularity Q of a vertex partition — "is this community
    structure better than random": Q = Σ_c [e_c/m − (d_c/2m)²], the
    number that scores a clustering (q114's components, a label-
    propagation run, an external partition) against the configuration
    model. The per-community sum collapses algebraically to TWO
    integer aggregates — E_int (edges whose endpoints share a label)
    and D = Σ_c d_c² (community degree sums squared, DECIMAL(38,0))
    — so Q = E_int/m − D/(4m²) is a ratio of exactly-known integers:
    no per-community frame ever leaves the engine, and the two label
    lookups are plain key joins (bucket or broadcast the labeling as
    its size dictates).

    ``edges`` are canonical undirected (a < b, deduped); ``labels``
    is (vertex, component). Returns ONE row: (n_vertices,
    n_communities, m_edges, e_intra, modularity); NULL modularity on
    an empty edge set.
    """
    e = edges.select(
        F.col(src_col).alias("_a"), F.col(dst_col).alias("_b")
    )
    lab = labels.select(
        F.col("vertex").alias("_v"), F.col("component").alias("_c")
    )
    tagged = (
        e.join(lab.withColumnRenamed("_v", "_a").withColumnRenamed("_c", "_ca"), "_a")
        .join(lab.withColumnRenamed("_v", "_b").withColumnRenamed("_c", "_cb"), "_b")
    )
    eint = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        F.sum(
            F.when(F.col("_ca") == F.col("_cb"), 1).otherwise(0)
        ).cast("long").alias("e_intra"),
    )
    deg = (
        e.select(F.col("_a").alias("_v"))
        .unionByName(e.select(F.col("_b").alias("_v")))
        .groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_d"))
    )
    dec = "decimal(38,0)"
    dc = (
        deg.join(lab, "_v")
        .groupBy("_c")
        .agg(F.sum("_d").cast(dec).alias("_dc"))
    )
    dsq = dc.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum(F.col("_dc") * F.col("_dc")).alias("_dsq"),
    )
    nv = lab.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    m = F.col("m_edges").cast("double")
    return (
        nv.crossJoin(F.broadcast(dsq))
        .crossJoin(F.broadcast(eint))
        .select(
            "n_vertices",
            "n_communities",
            "m_edges",
            "e_intra",
            F.round(
                F.col("e_intra") / F.nullif(m, F.lit(0.0))
                - F.col("_dsq").cast("double")
                / F.nullif(F.lit(4.0) * m * m, F.lit(0.0)),
                decimals,
            ).alias("modularity"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: "list",
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Personalized PageRank in exact integer micro-units — relevance
    FROM a seed set's point of view (related-item discovery, trust
    propagation, seed-expansion curation), the restart-vector variant
    of :func:`pagerank`: teleport mass returns to the SEEDS, not
    everywhere —

    ``r'(v) = 0.15·[v ∈ S]·1e6 + 0.85 · Σ_{u→v} (r(u) div deg(u))``

    with ``r0 = 1e6`` on seeds, 0 elsewhere. Same BIGINT/floor-
    division exactness contract (bit-identical across engines and
    partitionings), same per-round shape (one src equi-join + one dst
    aggregate over the persisted degree-annotated edge list), same
    cut rule (past 4 iterations). Vertices unreachable from the seeds hold
    rank 0 — the personalization, visible by construction.

    Returns (vertex, rank_micro).
    """
    from pyspark.sql.window import Window

    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if iterations < 1:
        raise ValueError("personalized_pagerank: iterations must be >= 1")
    if not seeds:
        raise ValueError("personalized_pagerank: seeds must be non-empty")
    cut = iterations > 4

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    edeg = persisted(
        e.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    verts = persisted(
        edeg.select(F.col("src").alias("v"))
        .unionByName(edeg.select(F.col("dst").alias("v")))
        .distinct()
    )
    is_seed = F.col("v").isin(list(seeds))
    base = (RANK_SCALE * 15) // 100
    seed_base = F.when(is_seed, F.lit(base)).otherwise(F.lit(0)).cast(
        "long"
    )
    ranks = verts.select(
        "v",
        F.when(is_seed, F.lit(RANK_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    for _ in range(iterations):
        contribs = (
            edeg.join(ranks, edeg["src"] == ranks["v"])
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = verts.join(
            contribs, verts["v"] == contribs["dst"], "left"
        ).select(
            "v",
            (
                seed_base + F.expr("850 * coalesce(s, 0L) div 1000")
            ).alias("r"),
        )
        if cut:
            ranks = _boundary(ranks, eager=False, label="ppr")
    return ranks.select(
        F.col("v").alias("vertex"), F.col("r").alias("rank_micro")
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in exact integer
    micro-units — the bipartite-flavored importance pair PageRank
    collapses: a good HUB points at good authorities, a good
    AUTHORITY is pointed at by good hubs. Per round: authority =
    sum of in-neighbor hub scores, hub = sum of out-neighbor
    authority scores, each rescaled to micro-units by FLOOR division
    against the round's MAX (a 1-row aggregate broadcast — the
    integer stand-in for the L2 normalization, preserving order and
    ratios to 1e-6) — so every score is a BIGINT and the whole
    computation replays bit-for-bit on any engine (the q99/q245
    exactness contract; float HITS is partial-sum-order dependent).

    Per round: two src/dst equi-joins + two hash aggregates on
    compact keys over the persisted edge list. Directed edges;
    vertices with no in-edges hold authority 0, no out-edges hub 0.
    Every normalized score frame is cut with
    :func:`cache.plan_boundary` — each is consumed THREE ways (the
    max aggregate, the rescale, and the next half-round's join), so
    without the cut the producing subplan re-embeds multiplicatively
    per round (the q93 deep-tail lesson; measured 22 s -> single-run
    evaluation at sf0.1).

    Returns (vertex, hub_micro, auth_micro).
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if iterations < 1:
        raise ValueError("hits: iterations must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    e = persisted(e)
    verts = persisted(
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    hub = verts.select("v", F.lit(RANK_SCALE).cast("long").alias("h"))

    def _norm(df: DataFrame, col: str) -> DataFrame:
        # the raw frame feeds BOTH the max aggregate and the rescale —
        # cut it first so the join+aggregate producing it runs once
        df = _boundary(df, eager=False, label="hits")
        mx = df.agg(F.max(col).alias("_mx"))
        return _boundary(
            df.crossJoin(F.broadcast(mx)).select(
                "v",
                F.when(
                    F.col("_mx") > 0,
                    F.expr(f"{col} * {RANK_SCALE}L div _mx"),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias(col),
            ),
            eager=False,
            label="hits",
        )

    auth = None
    for _ in range(iterations):
        araw = (
            e.join(hub, e["src"] == hub["v"])
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        auth = _norm(
            verts.join(araw, verts["v"] == araw["dst"], "left").select(
                "v", F.coalesce(F.col("a"), F.lit(0)).alias("a")
            ),
            "a",
        )
        hraw = (
            e.join(auth, e["dst"] == auth["v"])
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
        )
        hub = _norm(
            verts.join(hraw, verts["v"] == hraw["src"], "left").select(
                "v", F.coalesce(F.col("h"), F.lit(0)).alias("h")
            ),
            "h",
        )
    return (
        hub.join(auth, "v")
        .select(
            F.col("v").alias("vertex"),
            F.col("h").alias("hub_micro"),
            F.col("a").alias("auth_micro"),
        )
    )


def ppr_trajectory(
    edges: DataFrame,
    seeds: "list",
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Personalized-PageRank rank TRAJECTORY — the full
    (vertex, round, rank_micro) history for rounds 0..``iterations``,
    bit-identical per round to :func:`personalized_pagerank`'s
    intermediate vectors. This is the state an EXACT incremental fold
    needs (state.ppr_fold_persisted): recomputing only the affected
    frontier at round r requires the unaffected vertices' round r−1
    ranks, so the warm state carries every round, not just the last —
    (iterations+1) × |V| compact rows, the price of value-exactness
    over the approximate delta-PPR heuristics (VERDICT r12 task 3).

    Same integer contract as personalized_pagerank: BIGINT
    micro-units, floor division, one src equi-join + one dst
    aggregate per round over the persisted degree-annotated edge
    list.
    """
    from pyspark.sql.window import Window

    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if iterations < 1:
        raise ValueError("ppr_trajectory: iterations must be >= 1")
    if not seeds:
        raise ValueError("ppr_trajectory: seeds must be non-empty")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    edeg = persisted(
        e.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    verts = persisted(
        edeg.select(F.col("src").alias("v"))
        .unionByName(edeg.select(F.col("dst").alias("v")))
        .distinct()
    )
    is_seed = F.col("v").isin(list(seeds))
    base = (RANK_SCALE * 15) // 100
    seed_base = F.when(is_seed, F.lit(base)).otherwise(F.lit(0)).cast(
        "long"
    )
    ranks = verts.select(
        "v",
        F.when(is_seed, F.lit(RANK_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    snaps = [ranks.select("v", F.lit(0).alias("round"), "r")]
    for i in range(1, iterations + 1):
        contribs = (
            edeg.join(ranks, edeg["src"] == ranks["v"])
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = verts.join(
            contribs, verts["v"] == contribs["dst"], "left"
        ).select(
            "v",
            (
                seed_base + F.expr("850 * coalesce(s, 0L) div 1000")
            ).alias("r"),
        )
        # each snapshot is consumed twice (next round + the union) —
        # cut the plan so the subplan is not re-embedded per round
        ranks = _boundary(ranks, eager=False, label="ppr_traj")
        snaps.append(ranks.select("v", F.lit(i).alias("round"), "r"))
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out.select(
        F.col("v").alias("vertex"),
        F.col("round").cast("int").alias("round"),
        F.col("r").alias("rank_micro"),
    )


def edge_support(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical: bool = False,
    use_boundary: bool = False,
) -> DataFrame:
    """Per-EDGE triangle support — the number of triangles each edge
    participates in, the building block of k-truss decomposition
    (Cohen 2008, public): an edge with support 0 is a bridge-like tie,
    high support marks cohesive community cores, and "support >= k−2"
    is the k-truss membership test. The per-VERTEX sibling is
    :func:`triangle_counts`; this keeps the triangle's identity long
    enough to credit all THREE of its edges.

    Same scale shape as triangle_counts (the Suri–Vassilvitskii
    degree-ordered orientation): every vertex's oriented out-degree
    is O(sqrt(m)) however skewed the raw degrees, wedge volume is
    O(m^1.5) worst case, each triangle closes exactly once at its
    minimum-(degree, id) corner, and the support credit is a
    bounded ×3 explode of the triangle frame followed by one hash
    aggregate on canonical (a < b) edge keys.

    Returns (a, b, support) for edges in >= 1 triangle, a < b.
    """
    from capex_data_pipeline_spark.cache import persisted
    from capex_data_pipeline_spark.cache import plan_boundary as _pb

    und = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    deg = _undirected_degrees(und)
    ann = und.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ann.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("wd"),
    )
    # three consumers (both wedge sides + the closing probe): one-shot
    # callers persist; iterative callers (ktruss) cut with an eager
    # plan boundary instead, so per-round frames don't accumulate
    # tracked persists (the r11 sssp ADVICE rule)
    if use_boundary:
        oriented = _pb(oriented, eager=True, label="edge-support")
    else:
        oriented = persisted(oriented)
    lo = oriented.select("u", F.col("w").alias("v"), F.col("wd").alias("vd"))
    hi = oriented.select("u", F.col("w").alias("x"), F.col("wd").alias("xd"))
    wedges = lo.join(hi, "u").where(
        (F.col("vd") < F.col("xd"))
        | ((F.col("vd") == F.col("xd")) & (F.col("v") < F.col("x")))
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("w").alias("x"))
    tris = wedges.join(closing, ["v", "x"])
    # each triangle (u, v, x) credits its three edges in CANONICAL form
    sides = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"),
                ),
                F.struct(
                    F.least("u", "x").alias("a"),
                    F.greatest("u", "x").alias("b"),
                ),
                F.struct(
                    F.least("v", "x").alias("a"),
                    F.greatest("v", "x").alias("b"),
                ),
            )
        ).alias("_e")
    )
    return (
        sides.select("_e.a", "_e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def ktruss(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    until_fixpoint: bool = False,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_canonical: bool = False,
    max_rounds: int = 50,
) -> DataFrame:
    """k-truss decomposition by iterative support peeling (Cohen
    2008, public): repeatedly delete edges in fewer than ``k − 2``
    triangles; what survives is the k-truss — the EDGE-cohesion
    community core, strictly stronger than the k-core (every
    surviving edge is embedded in k−2 triangles, so trusses are the
    "friends with many mutual friends" subgraphs; k-core only asks
    for degree). :func:`edge_support` is one round's measurement;
    this iterates it, because deleting weak edges lowers other
    edges' support — the cascade is the point.

    Stopping modes mirror :func:`kcore_peel`: ``rounds=R`` runs
    exactly R peels (extra rounds are data no-ops once converged —
    the engine-portable form the DuckDB oracle unrolls);
    ``until_fixpoint=True`` peels to convergence with one tiny
    driver edge-count per round, raising after ``max_rounds`` (an
    unconverged truss silently over-keeps; no silent caps).

    Per round: one degree-ordered triangle enumeration
    (O(m^1.5) wedges — the q112 bound holds every round on the
    SHRINKING edge set) + a ×3 bounded explode + one hash aggregate
    + one left-anti filter, with an eager plan boundary per round
    (iterative lineage rule). Returns the surviving canonical edges
    with their final support: (a, b, support).
    """
    from capex_data_pipeline_spark.cache import plan_boundary as _boundary

    if k < 3:
        raise ValueError(f"ktruss: k must be >= 3, got {k}")
    if (rounds is None) == (not until_fixpoint):
        raise ValueError(
            "ktruss: pass exactly one of rounds= or until_fixpoint=True"
        )
    cur = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    cur = _boundary(cur, eager=True, label="ktruss-edges")
    n_rounds = rounds if rounds is not None else max_rounds
    prev_count = None
    for i in range(n_rounds):
        sup = edge_support(
            cur, src_col="a", dst_col="b", assume_canonical=True,
            use_boundary=True,
        )
        kept = (
            cur.join(sup, ["a", "b"], "left")
            .filter(
                F.coalesce(F.col("support"), F.lit(0)) >= F.lit(k - 2)
            )
            .select("a", "b")
        )
        cur = _boundary(kept, eager=True, label="ktruss-edges")
        if until_fixpoint:
            c = cur.count()
            if c == prev_count or c == 0:
                break
            prev_count = c
    else:
        if until_fixpoint:
            raise ValueError(
                f"ktruss: no fixpoint after max_rounds={max_rounds}"
            )
    final_sup = edge_support(
        cur, src_col="a", dst_col="b", assume_canonical=True,
        use_boundary=True,
    )
    return cur.join(final_sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias(
            "support"
        ),
    )
