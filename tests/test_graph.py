"""Unit + differential tests for the graph operator family
(extensions/graph.py): triangle counting, k-core peeling, and
connected components — hand-computed fixtures, adversarial skew
(celebrity vertex), input-hygiene canonicalization, driver-side
Python replays for the data-dependent ``until_fixpoint`` modes,
plan-boundary-mode output equality, and join-strategy A/B equality
with the planner fact that lets the planner pick those joins.

PageRank's tests live in test_extensions.py (round-5 vintage).
"""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from capex_data_pipeline_spark.extensions.graph import (
    connected_components,
    kcore_peel,
    pagerank,
    triangle_counts,
)


def _edges_df(spark, pairs, cols=("src", "dst")):
    return spark.createDataFrame(
        [tuple(p) for p in pairs], f"{cols[0]} long, {cols[1]} long"
    )


# ------------------------------------------------ Python replays


def _py_triangles(pairs):
    """Brute-force per-vertex triangle counts: canonicalize, then test
    all vertex triples (fine at test sizes)."""
    und = {
        (min(a, b), max(a, b)) for a, b in pairs if a is not None and a != b
    }
    verts = sorted({v for e in und for v in e})
    counts: dict[int, int] = {}
    for x, y, z in itertools.combinations(verts, 3):
        if (x, y) in und and (x, z) in und and (y, z) in und:
            for v in (x, y, z):
                counts[v] = counts.get(v, 0) + 1
    return counts


def _py_kcore(pairs, k):
    """Driver-side peel replay to the true fixpoint: repeatedly drop
    vertices with degree < k. Returns {vertex: core_degree}."""
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while True:
        deg: dict[int, int] = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {v for v, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in und if a in alive and b in alive}
        if nxt == und:
            return deg
        und = nxt


def _py_components(pairs):
    """Union-find ground truth: {vertex: min vertex id in component}."""
    parent: dict[int, int] = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        if a == b:
            parent.setdefault(a, a)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ------------------------------------------------ triangle_counts


def test_triangles_k4_hand_computed(spark):
    """K4 has 4 triangles; every vertex sits in C(3,2) = 3 of them."""
    k4 = list(itertools.combinations(range(4), 2))
    out = _rows(triangle_counts(_edges_df(spark, k4), assume_canonical=True))
    assert out == [(0, 3), (1, 3), (2, 3), (3, 3)]


def test_triangles_star_plus_chord(spark):
    """A star (0-1..0-4) has no triangles; adding chord 1-2 creates
    exactly one, {0,1,2}. Leaves 3,4 are absent (count 0 rows are not
    emitted — matches the q112 oracle's GROUP BY of enumerated
    corners)."""
    pairs = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)]
    out = _rows(triangle_counts(_edges_df(spark, pairs), assume_canonical=True))
    assert out == [(0, 1), (1, 1), (2, 1)]


def test_triangles_canonicalization_hygiene(spark):
    """assume_canonical=False must absorb reversed duplicates,
    repeated edges, and self-loops, matching the clean canonical
    input bit-for-bit — duplicate edges would otherwise multiply
    wedge counts."""
    clean = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    messy = clean + [(b, a) for a, b in clean] + [(1, 0), (2, 2), (3, 3)]
    got_clean = _rows(
        triangle_counts(_edges_df(spark, clean), assume_canonical=True)
    )
    got_messy = _rows(
        triangle_counts(_edges_df(spark, messy), assume_canonical=False)
    )
    assert got_messy == got_clean == [(0, 1), (1, 2), (2, 2), (3, 1)]


def test_triangles_celebrity_skew(spark):
    """Celebrity vertex: one hub adjacent to every other vertex, plus a
    sparse leaf ring. Degree-ordered orientation must point every
    hub edge INTO the hub (the hub is never a wedge pivot), and the
    counts must still be exact — verified against the brute force."""
    n = 60
    hub = 0
    pairs = [(hub, i) for i in range(1, n)]
    # ring among leaves: each leaf-ring edge closes a triangle with hub
    pairs += [(i, i + 1) for i in range(1, n - 1, 3)]
    expected = sorted(_py_triangles(pairs).items())
    got = _rows(triangle_counts(_edges_df(spark, pairs), assume_canonical=True))
    assert got == expected
    # hub participates in one triangle per ring edge
    ring_edges = (n - 2 + 2) // 3
    assert dict(got)[hub] == ring_edges


def test_triangles_random_differential(spark):
    """Random G(n, p) graphs vs the itertools brute force — exact
    per-vertex equality, seeds fixed."""
    rng = random.Random(112)
    for _ in range(3):
        n = 25
        pairs = [
            (a, b)
            for a, b in itertools.combinations(range(n), 2)
            if rng.random() < 0.18
        ]
        expected = sorted(_py_triangles(pairs).items())
        got = _rows(
            triangle_counts(_edges_df(spark, pairs), assume_canonical=True)
        )
        assert got == expected


def test_triangles_triangle_free_is_empty(spark):
    """A bipartite (hence triangle-free) graph returns zero rows."""
    pairs = [(a, b) for a in range(4) for b in range(100, 104)]
    assert (
        triangle_counts(_edges_df(spark, pairs), assume_canonical=True).count()
        == 0
    )


# ------------------------------------------------ kcore_peel


def test_kcore_hand_peeled_pendant_chain(spark):
    """Triangle {0,1,2} with pendant chain 2-3-4: k=2 peels 4 (deg 1),
    then 3 — the cascade the per-round degree cut must replay — and
    the surviving 2-core is the triangle with core_deg 2 each."""
    pairs = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)]
    out = _rows(
        kcore_peel(_edges_df(spark, pairs), k=2, rounds=5, assume_canonical=True)
    )
    assert out == [(0, 2), (1, 2), (2, 2)]


def test_kcore_cascade_to_empty(spark):
    """A path has no 2-core: peeling cascades inward from both ends
    until nothing remains (6 vertices -> 3 peel rounds)."""
    pairs = [(i, i + 1) for i in range(5)]
    out = kcore_peel(
        _edges_df(spark, pairs), k=2, rounds=5, assume_canonical=True
    )
    assert out.count() == 0


def test_kcore_extra_rounds_are_noops(spark):
    """Once converged, additional rounds must not change the result
    (the q113 registry relies on this to over-provision its bound)."""
    pairs = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (0, 5), (5, 6)]
    df = _edges_df(spark, pairs)
    r3 = _rows(kcore_peel(df, k=2, rounds=3, assume_canonical=True))
    r8 = _rows(kcore_peel(df, k=2, rounds=8, assume_canonical=True))
    assert r3 == r8 == [(0, 2), (1, 2), (2, 2)]


def test_kcore_until_fixpoint_differential(spark):
    """The data-dependent ``until_fixpoint`` mode (claimed in the
    operator docstring, previously untested — VERDICT r6 item 2)
    against BOTH the driver-side Python peel replay and the unrolled
    rounds mode, on random graphs where cascades genuinely span
    multiple rounds."""
    rng = random.Random(113)
    for k in (2, 3):
        n = 40
        pairs = sorted(
            {
                (a, b)
                for a, b in itertools.combinations(range(n), 2)
                if rng.random() < 0.09
            }
        )
        expected = sorted(
            (v, d) for v, d in _py_kcore(pairs, k).items() if True
        )
        df = _edges_df(spark, pairs)
        fix = _rows(kcore_peel(df, k=k, until_fixpoint=True, assume_canonical=True))
        assert fix == expected
        # rounds mode with a generous bound reaches the same fixpoint
        bounded = _rows(kcore_peel(df, k=k, rounds=15, assume_canonical=True))
        assert bounded == fix


def test_kcore_canonicalization_hygiene(spark):
    """Reversed/duplicate edges and self-loops must not inflate
    degrees: a self-loop at 4 and doubled edges would otherwise keep
    the pendant chain alive at k=2."""
    clean = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4)]
    messy = clean + [(b, a) for a, b in clean] + [(4, 4), (3, 2)]
    got = _rows(kcore_peel(_edges_df(spark, messy), k=2, rounds=5))
    assert got == [(0, 2), (1, 2), (2, 2)]


def _under_each_boundary(monkeypatch, tmp_path, build):
    """``build()`` rows with every plan cut as a local checkpoint, then
    as a staging write (``$SPARK_GRAFT_BOUNDARY``, the one switch);
    asserts the staged run really wrote staging paths."""
    import os

    import capex_data_pipeline_spark.cache as cache

    monkeypatch.delenv("SPARK_GRAFT_BOUNDARY", raising=False)
    local = build()
    monkeypatch.setenv("SPARK_GRAFT_BOUNDARY", "staging")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    try:
        staged = build()
        assert os.listdir(tmp_path)  # the cuts went through staging
    finally:
        cache.clear_staging()
    return local, staged


def test_kcore_boundary_modes_agree(spark, tmp_path, monkeypatch):
    """The uncut form (rounds=3) and the cut form (until_fixpoint=True:
    every round cut) agree under both boundary modes, on a graph whose
    peel converges within 3 rounds (the driver replay's fixpoint equals
    the 3-round result).

    rounds=3 deliberately: each UNCUT peel round embeds the previous
    round's plan 5x (degree union 2x + two semi joins 2x), and
    Catalyst traverses the shared subtree as a TREE — 5^rounds
    rule-pass visits. At rounds=6 the analyzer spins for >10 minutes
    on a 50-edge graph; that is precisely why the operator cuts every
    round past 4 rounds (the q93 lesson, measured here)."""
    rng = random.Random(7)
    pairs = sorted(
        {
            (a, b)
            for a, b in itertools.combinations(range(30), 2)
            if rng.random() < 0.12
        }
    )
    df = _edges_df(spark, pairs)
    uncut = _rows(kcore_peel(df, k=2, rounds=3, assume_canonical=True))
    assert uncut == sorted(_py_kcore(pairs, 2).items())
    local, staged = _under_each_boundary(
        monkeypatch,
        tmp_path,
        lambda: _rows(
            kcore_peel(df, k=2, until_fixpoint=True, assume_canonical=True)
        ),
    )
    assert uncut == local == staged


def test_kcore_argument_validation(spark):
    df = _edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError, match="exactly one of"):
        kcore_peel(df, k=2)
    with pytest.raises(ValueError, match="exactly one of"):
        kcore_peel(df, k=2, rounds=3, until_fixpoint=True)
    with pytest.raises(ValueError, match="rounds"):
        kcore_peel(df, k=2, rounds=0)
    with pytest.raises(ValueError, match="k must"):
        kcore_peel(df, k=0, rounds=1)


# ------------------------------------------------ connected_components


def test_cc_hand_built_components(spark):
    """Two components + the min-label contract: component id is the
    smallest vertex id in each."""
    pairs = [(5, 3), (3, 9), (20, 21), (21, 22), (22, 20)]
    out = _rows(
        connected_components(_edges_df(spark, pairs), until_fixpoint=True)
    )
    assert out == [(3, 3), (5, 3), (9, 3), (20, 20), (21, 20), (22, 20)]


def test_cc_chain_needs_diameter_rounds(spark):
    """A 1..8 chain labeled from vertex 1: rounds < diameter leaves a
    partial (R-hop) labeling — documented semantics — and rounds >=
    diameter reaches the true labeling; until_fixpoint always does."""
    pairs = [(i, i + 1) for i in range(1, 8)]
    df = _edges_df(spark, pairs)
    true = [(v, 1) for v in range(1, 9)]
    assert _rows(connected_components(df, until_fixpoint=True)) == true
    assert _rows(connected_components(df, rounds=7)) == true
    partial = dict(_rows(connected_components(df, rounds=2)))
    assert partial[3] == 1 and partial[8] == 6  # only 2 hops propagated


def test_cc_random_differential_vs_union_find(spark):
    """Random sparse graphs vs the union-find replay — exact labeling
    equality in fixpoint mode."""
    rng = random.Random(114)
    for _ in range(3):
        n = 50
        pairs = sorted(
            {
                (a, b)
                for a, b in itertools.combinations(range(n), 2)
                if rng.random() < 0.035
            }
        )
        if not pairs:
            continue
        expected = sorted(_py_components(pairs).items())
        got = _rows(
            connected_components(
                _edges_df(spark, pairs), until_fixpoint=True
            )
        )
        assert got == expected


def test_cc_canonicalization_and_validation(spark):
    """Self-loops contribute no connectivity; reversed dups collapse;
    argument validation mirrors kcore_peel."""
    pairs = [(1, 2), (2, 1), (3, 3), (4, 5)]
    out = _rows(
        connected_components(_edges_df(spark, pairs), until_fixpoint=True)
    )
    # vertex 3 only self-loops -> dropped with the loop edge
    assert out == [(1, 1), (2, 1), (4, 4), (5, 4)]
    df = _edges_df(spark, pairs)
    with pytest.raises(ValueError, match="exactly one of"):
        connected_components(df)
    with pytest.raises(ValueError, match="rounds"):
        connected_components(df, rounds=0)


def test_cc_max_iter_raises_loudly(spark):
    """An unconverged labeling silently splits components — the
    operator must raise instead when max_iter is exhausted."""
    pairs = [(i, i + 1) for i in range(10)]
    with pytest.raises(ValueError, match="no fixpoint"):
        connected_components(
            _edges_df(spark, pairs), until_fixpoint=True, max_iter=3
        )


# ------------------------------------------------ label_propagation


def _py_lpa(pairs, rounds=None, fixpoint=False, max_iter=30):
    """Driver-side replay of the deterministic synchronous LPA rule:
    most frequent neighbor label, ties to smallest label."""
    from collections import Counter, defaultdict

    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    adj = defaultdict(list)
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    lbl = {v: v for v in adj}
    i = 0
    while True:
        if not fixpoint and i >= rounds:
            return lbl
        i += 1
        new = {}
        for v, ns in adj.items():
            cnt = Counter(lbl[n] for n in ns)
            new[v] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if fixpoint:
            if new == lbl:
                return new
            if i >= max_iter:
                raise ValueError("no fixpoint")
        lbl = new


def _lpa_rows(df):
    return sorted((r["vertex"], r["community"]) for r in df.collect())


def test_lpa_triangle_hand_computed(spark):
    """K3 hand trace: round 1 gives {1:2, 2:1, 3:1}; round 2 collapses
    to all-1 (most frequent neighbor label), which is the fixpoint."""
    from capex_data_pipeline_spark.extensions.graph import label_propagation

    df = _edges_df(spark, [(1, 2), (1, 3), (2, 3)])
    assert _lpa_rows(label_propagation(df, rounds=1)) == [
        (1, 2), (2, 1), (3, 1),
    ]
    assert _lpa_rows(label_propagation(df, rounds=2)) == [
        (1, 1), (2, 1), (3, 1),
    ]
    assert _lpa_rows(
        label_propagation(df, until_fixpoint=True)
    ) == [(1, 1), (2, 1), (3, 1)]


def test_lpa_two_components_stay_separate(spark):
    """Disconnected K3s never share labels."""
    from capex_data_pipeline_spark.extensions.graph import label_propagation

    df = _edges_df(
        spark, [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12)]
    )
    got = dict(_lpa_rows(label_propagation(df, rounds=4)))
    assert {got[1], got[2], got[3]} & {got[10], got[11], got[12]} == set()


def test_lpa_differential_random(spark):
    """Random graphs vs the driver-side replay at several round
    counts — exact label-for-label equality."""
    from capex_data_pipeline_spark.extensions.graph import label_propagation

    rng = random.Random(13)
    pairs = sorted(
        {
            (a, b)
            for a, b in itertools.combinations(range(25), 2)
            if rng.random() < 0.15
        }
    )
    df = _edges_df(spark, pairs)
    for rounds in (1, 3, 5):
        exp = sorted(_py_lpa(pairs, rounds=rounds).items())
        got = _lpa_rows(label_propagation(df, rounds=rounds))
        assert got == exp, f"mismatch at rounds={rounds}"


def test_lpa_bipartite_oscillation_raises_loudly(spark):
    """A single edge 2-cycles under synchronous LPA (labels swap sides
    forever): until_fixpoint must raise at max_iter, not return a
    silently unconverged labeling."""
    from capex_data_pipeline_spark.extensions.graph import label_propagation

    df = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError, match="max_iter"):
        label_propagation(df, until_fixpoint=True, max_iter=4)


def test_lpa_canonicalization_hygiene(spark):
    """Duplicate/reversed edges and self-loops must not skew the
    neighbor-label frequencies."""
    from capex_data_pipeline_spark.extensions.graph import label_propagation

    clean = [(1, 2), (1, 3), (2, 3)]
    messy = clean + [(b, a) for a, b in clean] + [(2, 2), (3, 1)]
    assert _lpa_rows(
        label_propagation(_edges_df(spark, messy), rounds=2)
    ) == _lpa_rows(label_propagation(_edges_df(spark, clean), rounds=2))


def test_lpa_boundary_modes_agree(spark, tmp_path, monkeypatch):
    """The uncut form (rounds=3) and the cut form (until_fixpoint=True)
    produce identical labelings under both boundary modes (same policy
    test as kcore), on three chained cliques with pendants whose
    labels change in each of rounds 1-3 and are fixed from round 3."""
    from capex_data_pipeline_spark.extensions.graph import label_propagation

    pairs = (
        list(itertools.combinations(range(0, 5), 2))
        + list(itertools.combinations(range(10, 15), 2))
        + list(itertools.combinations(range(30, 34), 2))
        + [(4, 10), (14, 30), (20, 0), (21, 12), (35, 33)]
    )
    # the driver replay converges in exactly 3 rounds
    assert _py_lpa(pairs, rounds=2) != _py_lpa(pairs, fixpoint=True)
    assert _py_lpa(pairs, rounds=3) == _py_lpa(pairs, fixpoint=True)
    df = _edges_df(spark, pairs)
    uncut = _lpa_rows(label_propagation(df, rounds=3, assume_canonical=True))
    assert uncut == sorted(_py_lpa(pairs, rounds=3).items())
    local, staged = _under_each_boundary(
        monkeypatch,
        tmp_path,
        lambda: _lpa_rows(
            label_propagation(df, until_fixpoint=True, assume_canonical=True)
        ),
    )
    assert uncut == local == staged


def test_lpa_argument_validation(spark):
    from capex_data_pipeline_spark.extensions.graph import label_propagation

    df = _edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError, match="exactly one of"):
        label_propagation(df)
    with pytest.raises(ValueError, match="exactly one of"):
        label_propagation(df, rounds=2, until_fixpoint=True)
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(df, rounds=0)


# ------------------------------------------------ multi-source BFS hops


def _py_bfs(pairs, sources, rounds):
    adj = {}
    for a, b in pairs:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for r in range(1, rounds + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = r
                    nxt.add(v)
        frontier = nxt
    return dist


def test_bfs_hops_hand_graph(spark):
    from capex_data_pipeline_spark.extensions.graph import bfs_hops

    # path 1-2-3-4-5 plus star 10-{11,12}, seed at 1 and 10
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12)]
    out = {
        r["vertex"]: r["hops"]
        for r in bfs_hops(
            _edges_df(spark, pairs), sources=[1, 10], rounds=2
        ).collect()
    }
    assert out == {1: 0, 10: 0, 2: 1, 11: 1, 12: 1, 3: 2}
    # vertex 4, 5 beyond 2 hops: absent (bounded-reachability contract)


def test_bfs_hops_min_distance_and_replay(spark):
    from capex_data_pipeline_spark.extensions.graph import bfs_hops

    rng = random.Random(17)
    verts = list(range(40))
    pairs = [
        (rng.choice(verts), rng.choice(verts)) for _ in range(120)
    ]
    srcs = [0, 7]
    for rounds in (0, 1, 3):
        got = {
            r["vertex"]: r["hops"]
            for r in bfs_hops(
                _edges_df(spark, pairs), sources=srcs, rounds=rounds
            ).collect()
        }
        assert got == _py_bfs(pairs, srcs, rounds), rounds


def test_bfs_hops_isolated_seed_dupes_and_guards(spark):
    from capex_data_pipeline_spark.extensions.graph import bfs_hops

    pairs = [(1, 2)]
    # seed 99 touches no edge: still reported at hops 0; duplicate
    # seeds collapse
    out = {
        r["vertex"]: r["hops"]
        for r in bfs_hops(
            _edges_df(spark, pairs), sources=[99, 99, 1], rounds=1
        ).collect()
    }
    assert out == {1: 0, 99: 0, 2: 1}
    with pytest.raises(ValueError):
        bfs_hops(_edges_df(spark, pairs), sources=[], rounds=1)
    with pytest.raises(ValueError):
        bfs_hops(_edges_df(spark, pairs), sources=[1], rounds=-1)


# -------------------------------------- incremental components (q189)


def test_cc_incremental_equals_full_recompute(spark):
    """Folding a batch of new edges into an existing labeling equals
    the from-scratch recompute: merges via a chain through a NEW
    vertex, intra-component no-op edges, a brand-new component, and a
    three-way merge."""
    from capex_data_pipeline_spark.extensions.graph import (
        cc_incremental,
        connected_components,
    )

    old_edges = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)]
    new_edges = [
        (3, 50), (50, 10),   # chain 1-comp to 10-comp via new vertex 50
        (1, 3),              # intra-component no-op
        (60, 61),            # brand-new component
        (11, 20), (21, 30),  # three-way merge of 10/20/30 comps
    ]
    e_old = spark.createDataFrame(old_edges, "src long, dst long")
    e_new = spark.createDataFrame(new_edges, "src long, dst long")
    labels = connected_components(e_old, until_fixpoint=True)
    got = {
        r["vertex"]: r["component"]
        for r in cc_incremental(labels, e_new).collect()
    }
    full = connected_components(
        e_old.unionByName(e_new), until_fixpoint=True
    )
    expect = {r["vertex"]: r["component"] for r in full.collect()}
    assert got == expect
    # everything except 60/61 collapses into the min-id-1 component
    assert got[50] == 1 and got[30] == 1 and got[60] == 60


def test_cc_incremental_empty_batch_and_fresh_only(spark):
    """An empty batch returns the labeling unchanged; a batch touching
    only unseen vertices labels them standalone."""
    from capex_data_pipeline_spark.extensions.graph import (
        cc_incremental,
        connected_components,
    )

    labels = connected_components(
        spark.createDataFrame([(1, 2)], "src long, dst long"),
        until_fixpoint=True,
    )
    empty = spark.createDataFrame([], "src long, dst long")
    assert {
        r["vertex"]: r["component"]
        for r in cc_incremental(labels, empty).collect()
    } == {1: 1, 2: 1}
    fresh = spark.createDataFrame([(7, 8), (8, 9)], "src long, dst long")
    got = {
        r["vertex"]: r["component"]
        for r in cc_incremental(labels, fresh).collect()
    }
    assert got == {1: 1, 2: 1, 7: 7, 8: 7, 9: 7}


# ------------------------------------------------ join strategy


def test_checkpoint_cut_frame_keeps_stats_and_broadcasts(spark, monkeypatch):
    """The planner fact that lets the graph ops, enrich_false_negatives
    and dedup_clusters join cut frames without a broadcast hint: a
    vertex-sized frame cut by ``cache.plan_boundary`` (eager or lazy)
    keeps a finite size estimate under ``autoBroadcastJoinThreshold``
    and joins a persisted edge frame as a BroadcastHashJoin that builds
    on the cut frame. If a Spark upgrade drops checkpoint stats, this
    fails instead of those joins quietly turning into edge shuffles."""
    from capex_data_pipeline_spark.cache import persisted, plan_boundary

    monkeypatch.delenv("SPARK_GRAFT_BOUNDARY", raising=False)
    threshold = (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    edges = persisted(
        spark.range(60_000).select(
            (F.col("id") % 5_000).alias("src"),
            F.pmod(F.xxhash64("id"), F.lit(5_000)).alias("dst"),
        )
    )
    verts = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    for eager in (True, False):
        cut = plan_boundary(verts, eager=eager, label="pin")
        qe = cut._jdf.queryExecution()
        size = int(qe.optimizedPlan().stats().sizeInBytes())
        assert 0 < size <= threshold, (eager, size)
        joined = edges.join(cut, edges["src"] == cut["v"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        joins = [ln for ln in plan.splitlines() if "Join" in ln]
        # one join, broadcast, with the cut vertex frame as build side
        assert len(joins) == 1, (eager, plan)
        assert "BroadcastHashJoin" in joins[0], (eager, plan)
        assert "BuildRight" in joins[0], (eager, plan)
        assert joined.count() == 60_000


def test_pagerank_join_strategy_identical(spark, same_rows_any_join):
    """Integer-exact ranks are bit-identical whichever per-round join
    strategy the planner picks (broadcast vs shuffle)."""
    edges = spark.range(600).select(
        (F.col("id") % 83).alias("src"),
        (F.pmod(F.xxhash64("id"), F.lit(97))).alias("dst"),
    )
    same_rows_any_join(lambda: pagerank(edges, iterations=3))


def test_cc_fixpoint_join_strategy_identical(spark, same_rows_any_join):
    edges = spark.range(400).select(
        (F.col("id") % 120).alias("src"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(130))).alias("dst"),
    )
    same_rows_any_join(
        lambda: connected_components(edges, until_fixpoint=True)
    )


def test_cc_fixpoint_fused_convergence_identical(spark):
    """connected_components(until_fixpoint) with the fused convergence
    check (old label riding the round's own aggregate) must return the
    same labeling as the unrolled rounds= mode on a graph whose
    diameter forces several rounds — and the internal _old column must
    not leak into the output schema."""
    from capex_data_pipeline_spark.extensions.graph import (
        connected_components,
    )

    # a 9-node path (diameter 8) plus a triangle and an isolated edge
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)]
        + [(20, 21), (21, 22), (20, 22), (30, 31)],
        "src long, dst long",
    )
    fixed = connected_components(
        edges, until_fixpoint=True, assume_canonical=True
    )
    unrolled = connected_components(edges, rounds=10, assume_canonical=True)
    assert sorted(fixed.columns) == ["component", "vertex"]
    assert _rows(fixed) == _rows(unrolled)
    comp = {r["vertex"]: r["component"] for r in fixed.collect()}
    assert all(comp[v] == 1 for v in range(1, 10))
    assert all(comp[v] == 20 for v in (20, 21, 22))
    assert comp[30] == 30 and comp[31] == 30
