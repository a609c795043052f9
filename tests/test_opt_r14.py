"""Round-14 OPTIMIZATION pins: every rewrite that changed an
operator's internals is differentially tested against the shape it
replaced (identical rows, not just plausible ones)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

TESTDATA = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


# ------------------------------------------------- join_graph_profile


def _jgp_edges(spark):
    """Small frames with a REUSED object (c appears on two edges, like
    lineitem on three of q177's five) and a self-join edge."""
    a = spark.range(80).select(
        (F.col("id") % 11).alias("ak"), F.col("id").alias("a_pay")
    )
    b = spark.range(120).select(
        (F.col("id") % 7).alias("bk"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 11)
        .alias("bk2"),
    )
    c = spark.range(60).select((F.col("id") % 5).alias("ck"))
    return a, b, c, [
        ("a-b", a, F.col("ak"), b, F.col("bk2")),
        ("b-c", b, F.col("bk"), c, F.col("ck")),
        ("a-c", a, F.col("ak"), c, F.col("ck")),
        ("c-self", c, F.col("ck"), c, F.col("ck")),
    ]


def test_join_graph_profile_fused_equals_per_edge_classic(spark):
    """The r14 per-table fuse must reproduce the unfused per-edge
    computation bit-for-bit in classic (include_exact) mode: the
    per-edge cms_join_size / count aggregates ARE the old shape."""
    from pyspark.sql.window import Window

    from capex_data_pipeline_spark.extensions.sketches import (
        cms_join_size,
        join_graph_profile,
    )

    _a, _b, _c, edges = _jgp_edges(spark)
    parts = []
    for name, ld, lk, rd, rk in edges:
        sz = cms_join_size(ld, lk, rd, rk, 3, 1024)
        nl = ld.agg(F.count(F.lit(1)).alias("n_left"))
        nr = rd.agg(F.count(F.lit(1)).alias("n_right"))
        parts.append(
            sz.crossJoin(F.broadcast(nl))
            .crossJoin(F.broadcast(nr))
            .select(
                F.lit(name).alias("edge"),
                "n_left",
                "n_right",
                "est_join_rows",
                "exact_join_rows",
                "overestimate",
                F.round(
                    F.col("est_join_rows")
                    / (
                        F.col("n_left").cast("double")
                        * F.col("n_right").cast("double")
                    ),
                    9,
                ).alias("est_selectivity"),
            )
        )
    prof = parts[0]
    for p in parts[1:]:
        prof = prof.unionByName(p)
    w = Window.orderBy(F.asc("est_join_rows"), F.asc("edge"))
    expected = _rows(prof.withColumn("plan_rank", F.row_number().over(w)))
    got = _rows(join_graph_profile(edges))
    assert got == expected


def test_join_graph_profile_fused_equals_per_edge_sketch_only(spark):
    """Stats-sized sketch-only mode: per-edge widths differ (next-pow2
    of the NDV hint), so the fused per-frame cells aggregate carries a
    per-tag width — the estimates must still match the per-edge
    cms_join_estimate exactly."""
    from pyspark.sql.window import Window

    from capex_data_pipeline_spark.extensions.sketches import (
        cms_join_estimate,
        join_graph_profile,
        next_pow2_width,
    )

    _a, _b, _c, edges = _jgp_edges(spark)
    ndv = {"a-b": 11.0, "b-c": 7.0, "a-c": 900.0, "c-self": 5.0}
    parts = []
    for name, ld, lk, rd, rk in edges:
        w_e = next_pow2_width(ndv[name], 64, 1 << 20)
        sz = cms_join_estimate(ld, lk, rd, rk, 3, w_e)
        nl = ld.agg(F.count(F.lit(1)).alias("n_left"))
        nr = rd.agg(F.count(F.lit(1)).alias("n_right"))
        parts.append(
            sz.crossJoin(F.broadcast(nl))
            .crossJoin(F.broadcast(nr))
            .select(
                F.lit(name).alias("edge"),
                "n_left",
                "n_right",
                F.lit(w_e).cast("long").alias("cms_width"),
                "est_join_rows",
                F.round(
                    F.col("est_join_rows")
                    / (
                        F.col("n_left").cast("double")
                        * F.col("n_right").cast("double")
                    ),
                    9,
                ).alias("est_selectivity"),
            )
        )
    prof = parts[0]
    for p in parts[1:]:
        prof = prof.unionByName(p)
    w = Window.orderBy(F.asc("est_join_rows"), F.asc("edge"))
    expected = _rows(prof.withColumn("plan_rank", F.row_number().over(w)))
    got = _rows(join_graph_profile(edges, ndv=ndv, include_exact=False))
    assert got == expected


def test_join_graph_profile_counts_include_null_keys(spark):
    """n_left/n_right ride the fused aggregates now — they must still
    count EVERY row (the old ld.agg(count(1)) had no NULL-key
    filter)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        join_graph_profile,
    )

    a = spark.range(10).select(
        F.when(F.col("id") % 2 == 0, None).otherwise(F.col("id")).alias("k")
    )
    b = spark.range(4).select(F.col("id").alias("k"))
    row = join_graph_profile(
        [("a-b", a, F.col("k"), b, F.col("k"))]
    ).collect()[0]
    assert row["n_left"] == 10  # 5 NULL keys still counted
    assert row["n_right"] == 4


# ---------------------------------------------------------- PPJoin r14


def test_ppjoin_candidates_verify_inputs_exact(spark):
    """The candidate aggregate's (_cnt, _pa, _pb) must satisfy the
    suffix-intersection identity on every candidate pair:
    |A ∩ B| == _cnt + |intersect(A[_pa+1:], B[_pb+1:])| (0-based) —
    the verify stage's exactness rests on it."""
    import random

    from capex_data_pipeline_spark.extensions.dedup import (
        _ppjoin_candidates,
        _ppjoin_ordered,
    )

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.sample(vocab, rng.choice([3, 5, 8, 12, 16, 20]))))
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    ordered = _ppjoin_ordered(df, 0.6, "text", "doc_id")
    arrays = {r["id"]: list(r["ts"]) for r in ordered.collect()}
    cands = _ppjoin_candidates(ordered, 0.6).collect()
    assert cands, "corpus must produce candidates"
    for r in cands:
        a, b = arrays[r["id_a"]], arrays[r["id_b"]]
        full = len(set(a) & set(b))
        suff = len(set(a[r["_pa"] + 1:]) & set(b[r["_pb"] + 1:]))
        assert full == r["_cnt"] + suff, (r, a, b)


def test_ppjoin_suffix_bound_keeps_every_qualifying_pair(spark):
    """The aggregated suffix-bound filter prunes candidates but may
    NEVER lose a qualifying pair — brute-force certified."""
    import random

    from capex_data_pipeline_spark.extensions.dedup import (
        jaccard_similarity_join,
    )

    rng = random.Random(97)
    vocab = [f"t{i}" for i in range(18)]
    docs = [
        (i, " ".join(rng.sample(vocab, rng.choice([4, 6, 9, 12]))))
        for i in range(70)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_similarity_join(df, threshold=0.5).collect()
    }
    sets = {i: set(t.split()) for i, t in docs}
    expect = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.5:
                expect[(a, b)] = round(j, 6)
    assert got == expect


# ------------------------------------------------- spread_few_splits


def test_estimated_scan_splits_matches_rdd_partitions(spark):
    """The file-listing split estimate must agree with Spark's actual
    scan partitioning on real parquet inputs — the gate's no-op-at-
    scale claim rides on it."""
    from capex_data_pipeline_spark.sources.parquet import (
        _estimated_scan_splits,
        read_table,
    )

    for name in ("lineitem", "documents", "region", "events"):
        df = read_table(spark, TESTDATA, name)
        est = _estimated_scan_splits(df)
        assert est is not None, name
        assert est[0] == df.rdd.getNumPartitions(), name


def test_estimated_scan_splits_none_for_fileless(spark):
    from capex_data_pipeline_spark.sources.parquet import (
        _estimated_scan_splits,
    )

    assert _estimated_scan_splits(spark.range(10)) is None


def test_spread_bounds_tiny_frame_fanout(spark):
    """A tiny file must not fan out to full cluster width (ADVICE
    r13): the target is bounded by input bytes per task."""
    from capex_data_pipeline_spark.sources.parquet import (
        read_table,
        spread_few_splits,
    )

    region = read_table(spark, TESTDATA, "region")  # ~1.9 KB file
    out = spread_few_splits(region)
    assert out.rdd.getNumPartitions() <= 2
    # a table big enough still spreads to full local width
    docs = read_table(spark, "/root/testdata/sf0.1", "documents")
    spread = spread_few_splits(docs)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


# ----------------------------------------------------- validation cache


def test_validation_cache_is_tracked(spark):
    """operators/validation.py's joined frame must go through the
    tracked-persist discipline (r13 verdict item 5 hygiene)."""
    import inspect

    from capex_data_pipeline_spark.operators import validation

    src = inspect.getsource(validation)
    assert ".cache()" not in src
