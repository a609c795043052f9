"""Round-13 OPTIMIZATION pins: every rewrite that changed an
operator's internals is differentially tested against the shape it
replaced (identical rows, not just plausible ones)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


# ---------------------------------------------------------------- advisor


def test_table_stats_sketch_multi_equals_sequential(spark):
    """table_stats_sketch_multi (one unioned job) must produce the
    SAME per-column rows as the sequential per-table calls it
    replaced in q200 — the widths the advisor derives depend on it."""
    from capex_data_pipeline_spark.extensions.sketches import (
        table_stats_sketch,
        table_stats_sketch_multi,
    )

    a = spark.range(200).select(
        F.col("id").alias("a_key"),
        (F.col("id") % 7).cast("string").alias("a_val"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id") % 13)
        .alias("a_sparse"),
    )
    b = spark.range(90).select(
        (F.col("id") * 3).alias("b_key"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("b_val"),
    )
    seq = _rows(
        table_stats_sketch(a, ["a_key", "a_val", "a_sparse"]).unionByName(
            table_stats_sketch(b, ["b_key", "b_val"])
        )
    )
    multi = _rows(
        table_stats_sketch_multi(
            [(a, ["a_key", "a_val", "a_sparse"]), (b, ["b_key", "b_val"])]
        )
    )
    assert multi == seq


def test_table_stats_sketch_multi_rejects_duplicate_columns(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        table_stats_sketch_multi,
    )

    a = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="globally unique"):
        table_stats_sketch_multi([(a, ["k"]), (a, ["k"])])


def test_save_stats_cells_multi_equals_append_loop(spark, tmp_path):
    """One unioned bucketed write must persist EXACTLY the rows the
    overwrite + append loop wrote (q228 / q251 nightly job), so every
    state reader sees identical cells."""
    from capex_data_pipeline_spark.extensions.state import (
        save_stats_cells,
        save_stats_cells_multi,
    )
    from capex_data_pipeline_spark.sources.bucketed import drop_table

    a = spark.range(120).select(
        F.col("id").alias("a_key"), (F.col("id") % 9).alias("a_val")
    )
    b = spark.range(40).select((F.col("id") * 2).alias("b_key"))
    parts = [
        (a, ["a_key", "a_val"], F.lit("ta")),
        (b, ["b_key"], F.lit("tb")),
    ]
    try:
        for i, (df, cols, pt) in enumerate(parts):
            save_stats_cells(
                df, cols, partition=pt, table="t_opt13_seq", b=4,
                n_buckets=4, path=str(tmp_path / "seq"),
                mode="overwrite" if i == 0 else "append",
            )
        save_stats_cells_multi(
            parts, table="t_opt13_multi", b=4, n_buckets=4,
            path=str(tmp_path / "multi"), mode="overwrite",
        )
        seq = _rows(spark.table("t_opt13_seq"))
        multi = _rows(spark.table("t_opt13_multi"))
        assert multi == seq and len(multi) > 0
    finally:
        drop_table(spark, "t_opt13_seq")
        drop_table(spark, "t_opt13_multi")
        shutil.rmtree(tmp_path, ignore_errors=True)


# ----------------------------------------------------- PPJoin int tokens


def test_ppjoin_ordered_uses_long_token_ids(spark):
    """The injectivity-certified xxhash64 token-id path must actually
    engage on a collision-free vocabulary (array<long> ts) — a silent
    fallback to string tokens would be a 2× verify-stage regression
    with no functional symptom."""
    from pyspark.sql import types as T

    from capex_data_pipeline_spark.extensions.dedup import _ppjoin_ordered

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} tok{i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    ordered = _ppjoin_ordered(docs, 0.6, "text", "doc_id")
    ts_type = ordered.schema["ts"].dataType
    assert isinstance(ts_type, T.ArrayType)
    assert isinstance(ts_type.elementType, T.LongType)
    # prefix length contract unchanged: n - ceil(0.6*n) + 1
    row = ordered.filter(F.col("id") == 0).first()
    n = len(row["ts"])
    import math

    assert row["_plen"] == n - math.ceil(0.6 * n - 1e-9) + 1


# --------------------------------------- fused CC convergence + degree


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


def test_dedup_clusters_emit_degree_equals_standalone(spark):
    """emit_degree rides the contraction aggregate; its values must be
    bit-identical to the standalone symmetric-degree aggregate the
    q170 summary used to run, and every other output column must be
    unchanged vs emit_degree=False."""
    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (6, 7), (6, 8)],
        "id_a long, id_b long",
    )
    corpus = spark.createDataFrame(
        [(i,) for i in range(1, 10)], "doc_id long"
    )
    sym = pairs.union(
        pairs.select(F.col("id_b"), F.col("id_a"))
    ).toDF("u", "v")
    with_deg = dedup_clusters(
        sym, corpus=corpus, id_a="u", id_b="v",
        assume_symmetric=True, emit_degree=True,
    )
    without = dedup_clusters(
        sym, corpus=corpus, id_a="u", id_b="v", assume_symmetric=True
    )
    assert sorted(with_deg.columns) == sorted(
        ["doc_id", "dup_degree", "cluster_id", "cluster_size", "is_keeper"]
    )
    assert _rows(with_deg.drop("dup_degree")) == _rows(without)
    deg = {
        r["u"]: r["d"]
        for r in sym.groupBy("u").agg(F.count(F.lit(1)).alias("d")).collect()
    }
    got = {r["doc_id"]: r["dup_degree"] for r in with_deg.collect()}
    for doc in range(1, 10):
        assert got[doc] == deg.get(doc, 0)
