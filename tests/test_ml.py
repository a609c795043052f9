"""Unit + differential tests for the round-7 operators: PCA power
iteration (extensions/linalg.py), the trigram language model, Bloom
decontamination, the stride mixture schedule and Zipf diagnostics
(extensions/corpus.py), HTML extraction + the host link graph
(extensions/cleaning.py), product-quantization ANN
(extensions/similarity.py), and the count-min / HyperLogLog sketches
(extensions/sketches.py).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from capex_data_pipeline_spark.extensions.corpus import (
    bloom_contamination,
    contamination_check,
    trigram_lm_topk,
)
from capex_data_pipeline_spark.extensions.linalg import pca_power_projection


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _vecs_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


# ------------------------------------------------ PCA power iteration


def _py_pca_scores(vecs, rounds):
    """Exact (unrounded) numpy-free replay of power iteration; the
    engine rounds to 6 decimals per step, so comparisons use a loose
    per-round-compounding tolerance."""
    n, d = len(vecs), len(vecs[0])
    mu = [sum(v[j] for v in vecs) / n for j in range(d)]
    x = [[v[j] - mu[j] for j in range(d)] for v in vecs]
    v = [1.0 / math.sqrt(d)] * d
    for _ in range(rounds):
        s = [sum(xi[j] * v[j] for j in range(d)) for xi in x]
        t = [sum(s[i] * x[i][j] for i in range(n)) / n for j in range(d)]
        norm = math.sqrt(sum(tj * tj for tj in t))
        if norm > 0:
            v = [tj / norm for tj in t]
    return [sum(xi[j] * v[j] for j in range(d)) for xi in x]


def test_pca_matches_python_replay(spark):
    rng = random.Random(7)
    # anisotropic cloud: dominant variance along dim 0
    vecs = [
        [rng.gauss(0, 10)] + [rng.gauss(0, 0.5) for _ in range(3)]
        for _ in range(60)
    ]
    got = {
        r["vec_id"]: r["score"]
        for r in pca_power_projection(
            _vecs_df(spark, vecs), rounds=4
        ).collect()
    }
    want = _py_pca_scores(vecs, rounds=4)
    assert len(got) == 60
    for i, w in enumerate(want):
        assert abs(got[i] - w) < 1e-3, (i, got[i], w)


def test_pca_recovers_dominant_axis(spark):
    rng = random.Random(3)
    vecs = [
        [rng.gauss(0, 20), rng.gauss(0, 0.1), rng.gauss(0, 0.1)]
        for _ in range(50)
    ]
    out = pca_power_projection(_vecs_df(spark, vecs), rounds=5).collect()
    mu0 = sum(v[0] for v in vecs) / len(vecs)
    # |score| must track |x0 - mu0| (up to global sign): the rank
    # correlation of the orderings is essentially perfect
    by_score = sorted(out, key=lambda r: r["score"])
    coord = [vecs[r["vec_id"]][0] - mu0 for r in by_score]
    assert coord == sorted(coord) or coord == sorted(coord, reverse=True)


def test_pca_degenerate_identical_vectors_all_zero(spark):
    vecs = [[1.0, 2.0, 3.0]] * 10
    out = pca_power_projection(_vecs_df(spark, vecs), rounds=3).collect()
    assert len(out) == 10
    assert all(r["score"] == 0.0 for r in out)


def test_pca_filters_to_min_length_and_rounds_zero(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    out = pca_power_projection(df, rounds=0).collect()
    # vec 2 (length 3 > min length 2) is filtered; scores under v0
    assert sorted(r["vec_id"] for r in out) == [0, 1]
    v0 = round(1.0 / math.sqrt(2), 6)
    got = {r["vec_id"]: r["score"] for r in out}
    # mu over the SIZE-FILTERED frame = (2, 0)
    assert abs(got[0] - round(-1.0 * v0, 6)) < 1e-9
    assert abs(got[1] - round(1.0 * v0, 6)) < 1e-9


def test_pca_rejects_negative_rounds_and_empty(spark):
    with pytest.raises(ValueError):
        pca_power_projection(_vecs_df(spark, [[1.0]]), rounds=-1)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        pca_power_projection(empty, rounds=1)


# ------------------------------------------------ trigram LM


def _py_trigram(texts, alpha, min_context, topk):
    import re

    docs = [
        [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]
        for t in texts
    ]
    c3: dict[tuple, int] = {}
    vocab = set()
    for ws in docs:
        vocab.update(ws)
        for i in range(len(ws) - 2):
            c3[(ws[i], ws[i + 1], ws[i + 2])] = (
                c3.get((ws[i], ws[i + 1], ws[i + 2]), 0) + 1
            )
    c2: dict[tuple, int] = {}
    for (w1, w2, _), c in c3.items():
        c2[(w1, w2)] = c2.get((w1, w2), 0) + c
    out = {}
    for (w1, w2), cc in c2.items():
        if cc < min_context:
            continue
        nxt = sorted(
            ((w3, c) for (a, b, w3), c in c3.items() if (a, b) == (w1, w2)),
            key=lambda x: (-x[1], x[0]),
        )[:topk]
        for rank, (w3, c) in enumerate(nxt, 1):
            prob = (c + alpha) / (cc + alpha * len(vocab))
            out[(w1, w2, w3)] = (c, cc, prob, rank)
    return out


def test_trigram_lm_matches_python_replay(spark):
    texts = [
        "the cat sat on the mat",
        "the cat sat on the hat",
        "the cat ran on the mat",
        "the dog sat on the mat",
        "a cat sat on a mat",
    ]
    got = {
        (r["w1"], r["w2"], r["w3"]): (
            r["tri_count"],
            r["ctx_count"],
            r["prob"],
            r["rank"],
        )
        for r in trigram_lm_topk(
            _docs_df(spark, texts), min_context=2, topk=2
        ).collect()
    }
    want = _py_trigram(texts, alpha=0.5, min_context=2, topk=2)
    assert set(got) == set(want)
    for k, (c, cc, p, rank) in want.items():
        gc, gcc, gp, grank = got[k]
        assert (gc, gcc, grank) == (c, cc, rank), k
        assert abs(gp - p) < 1e-6, k


def test_trigram_lm_short_docs_and_threshold(spark):
    texts = ["one two", "x", "", "a b c"]
    out = trigram_lm_topk(
        _docs_df(spark, texts), min_context=2, topk=3
    ).collect()
    # only one trigram total (a,b,c) with ctx_count 1 < 2 -> empty
    assert out == []
    out1 = trigram_lm_topk(
        _docs_df(spark, texts), min_context=1, topk=3
    ).collect()
    assert [(r["w1"], r["w2"], r["w3"], r["rank"]) for r in out1] == [
        ("a", "b", "c", 1)
    ]


def test_trigram_lm_tie_breaks_alphabetically(spark):
    texts = ["s t a", "s t b"] * 3
    out = trigram_lm_topk(
        _docs_df(spark, texts), min_context=1, topk=2
    ).collect()
    ranked = sorted(
        ((r["rank"], r["w3"]) for r in out if (r["w1"], r["w2"]) == ("s", "t"))
    )
    assert ranked == [(1, "a"), (2, "b")]


# ------------------------------------------------ Bloom decontamination


def test_bloom_no_false_negatives_and_matches_exact_at_large_m(spark):
    bench = _docs_df(spark, ["alpha beta gamma delta epsilon zeta"])
    texts = [
        "alpha beta gamma delta epsilon zeta",  # fully contaminated
        "alpha beta gamma nothing else here at all",  # partial overlap
        "completely unrelated words in this document body",
        "",
    ]
    corpus = _docs_df(spark, texts)
    exact = {
        r["doc_id"]: r
        for r in contamination_check(
            corpus, bench, k=3, min_overlap=1
        ).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in bloom_contamination(
            corpus, bench, k=3, m_bits=1 << 22, n_hashes=3, min_overlap=1
        ).collect()
    }
    assert set(bloom) == set(exact)
    for i in exact:
        # never a false negative
        if exact[i]["contaminated"]:
            assert bloom[i]["contaminated"], i
        # at m=2^22 with a handful of shingles, collisions are
        # overwhelmingly improbable: counts agree exactly
        assert bloom[i]["n_flagged"] == exact[i]["n_overlapping"], i
        assert bloom[i]["n_shingles"] == exact[i]["n_shingles"], i


def test_bloom_tiny_m_superset_of_exact(spark):
    rng = random.Random(11)
    words = [f"w{j}" for j in range(40)]
    mk = lambda: " ".join(rng.choice(words) for _ in range(12))
    bench = _docs_df(spark, [mk() for _ in range(5)])
    corpus = _docs_df(spark, [mk() for _ in range(30)])
    exact = {
        r["doc_id"]: r["n_overlapping"]
        for r in contamination_check(
            corpus, bench, k=3, min_overlap=1
        ).collect()
    }
    # m=64 bits: heavy collisions -> false positives, never negatives
    bloom = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_contamination(
            corpus, bench, k=3, m_bits=64, n_hashes=3, min_overlap=1
        ).collect()
    }
    assert set(bloom) == set(exact)
    for i in exact:
        assert bloom[i] >= exact[i], i


def test_bloom_empty_doc_reports_zero(spark):
    bench = _docs_df(spark, ["a b c d e"])
    corpus = spark.createDataFrame(
        [(0, ""), (1, None), (2, "a b c d e")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in bloom_contamination(
            corpus, bench, k=3, m_bits=1 << 20, n_hashes=3, min_overlap=1
        ).collect()
    }
    assert out[0]["n_shingles"] == 0 and not out[0]["contaminated"]
    assert out[1]["n_shingles"] == 0 and not out[1]["contaminated"]
    assert out[2]["contaminated"]


# ------------------------------------------------ HTML extraction


def _html_df(spark, pages):
    return spark.createDataFrame(
        [(i, h) for i, h in enumerate(pages)], "doc_id long, html string"
    )


def test_html_to_text_real_page(spark):
    from capex_data_pipeline_spark.extensions.cleaning import (
        extract_html_docs,
    )

    page = (
        "<html><head><title>My Title</title>"
        "<script>if (a < b) { alert('</div> trap'); }</script>"
        "<style>p { margin: 0; }</style></head>"
        "<body><!-- nav boilerplate -->"
        "<h1>Header</h1>"
        "<p>First&nbsp;para with &lt;tags&gt; &amp; entities.</p>"
        "<div>Second<br>line</div>"
        "<ul><li>item one</li><li>item two</li></ul>"
        '<a href="https://a.example/x?p=1&amp;q=2">link one</a>'
        "<A HREF='https://b.example/y'>link two</A>"
        "</body></html>"
    )
    out = extract_html_docs(_html_df(spark, [page])).collect()[0]
    assert out["main_text"] == (
        "My Title Header\n"
        "First para with <tags> & entities.\n"
        "Second\n"
        "line\n"
        "item one\n"
        "item two\n"
        "link one link two"
    )
    assert out["n_links"] == 2
    # href entity separators decode, and case-insensitive HREF matches
    assert out["first_link"] == "https://a.example/x?p=1&q=2"


def test_html_single_level_entity_decode(spark):
    from capex_data_pipeline_spark.extensions.cleaning import html_to_text

    df = _html_df(spark, ["<p>&amp;lt;keep&amp;gt; &amp;amp;</p>"])
    out = df.select(html_to_text(df["html"]).alias("t")).collect()[0]["t"]
    # double-encoded entities decode exactly ONE level
    assert out == "&lt;keep&gt; &amp;"


def test_html_null_and_empty(spark):
    from capex_data_pipeline_spark.extensions.cleaning import (
        extract_html_docs,
    )

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "plain text, no tags")],
        "doc_id long, html string",
    )
    rows = {r["doc_id"]: r for r in extract_html_docs(df).collect()}
    assert rows[0]["main_text"] == "" and rows[0]["n_links"] == 0
    assert rows[0]["first_link"] is None
    assert rows[1]["main_text"] == ""
    assert rows[2]["main_text"] == "plain text, no tags"


def test_html_extraction_is_map_only(spark):
    from capex_data_pipeline_spark.extensions.cleaning import (
        extract_html_docs,
    )

    plan = (
        extract_html_docs(_html_df(spark, ["<p>x</p>"]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # native exprs only, no UDF


# ------------------------------------------------ product quantization


def test_pq_ann_separable_blobs_perfect_recall(spark):
    from capex_data_pipeline_spark.extensions.similarity import pq_ann_topk

    rng = random.Random(5)
    # two well-separated blobs in 8 dims; probe (vec 0) is in blob A:
    # the 10 nearest by ADC must all be blob-A members
    blob_a = [
        [rng.gauss(0, 0.1) for _ in range(8)] for _ in range(15)
    ]
    blob_b = [
        [rng.gauss(50, 0.1) for _ in range(8)] for _ in range(15)
    ]
    out = pq_ann_topk(
        _vecs_df(spark, blob_a + blob_b),
        n_subspaces=4,
        k_codes=2,
        rounds=3,
        topk=10,
    ).collect()
    assert len(out) == 10
    assert all(r["vec_id"] < 15 for r in out), out
    # probe itself ranks first at distance 0 to its own codes' centers
    assert out[0]["adc_dist"] <= out[-1]["adc_dist"]


def test_pq_codes_shape_and_determinism(spark):
    from capex_data_pipeline_spark.extensions.similarity import pq_ann_topk

    rng = random.Random(9)
    vecs = [[rng.uniform(-1, 1) for _ in range(12)] for _ in range(40)]
    df = _vecs_df(spark, vecs)
    a = pq_ann_topk(df, n_subspaces=3, k_codes=4, rounds=2, topk=5).collect()
    b = pq_ann_topk(df, n_subspaces=3, k_codes=4, rounds=2, topk=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    for r in a:
        assert len(r["codes"]) == 3
        assert all(0 <= c < 4 for c in r["codes"])
        assert r["adc_dist"] >= 0.0


def test_pq_guards(spark):
    from capex_data_pipeline_spark.extensions.similarity import pq_ann_topk

    with pytest.raises(ValueError, match="not divisible"):
        pq_ann_topk(_vecs_df(spark, [[1.0, 2.0, 3.0]] * 8), n_subspaces=2)
    with pytest.raises(ValueError, match="n_subspaces"):
        pq_ann_topk(_vecs_df(spark, [[1.0, 2.0]] * 8), n_subspaces=0)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-empty"):
        pq_ann_topk(empty)


def test_pq_adc_matches_python_replay(spark):
    """Full-pipeline differential: python replay of fit/encode/ADC
    with the same rounding conventions must reproduce the engine's
    top-k exactly."""
    from capex_data_pipeline_spark.extensions.similarity import pq_ann_topk
    import hashlib

    rng = random.Random(21)
    vecs = [[rng.uniform(-2, 2) for _ in range(6)] for _ in range(25)]
    n_sub, k, rounds, topk = 2, 3, 2, 8
    out = pq_ann_topk(
        _vecs_df(spark, vecs),
        n_subspaces=n_sub,
        k_codes=k,
        rounds=rounds,
        topk=topk,
    ).collect()

    dsub = 6 // n_sub

    def rnd(x):
        # Spark's HALF_UP at 6 decimals; values here are nowhere near
        # half-way ties, so float round matches
        return round(x, 6)

    def fit(slices):
        order = sorted(
            range(len(slices)),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )
        centers = [list(slices[i]) for i in order[:k]]
        for _ in range(rounds):
            assign = [
                min(
                    range(k),
                    key=lambda c: (
                        rnd(
                            sum(
                                (slices[i][j] - centers[c][j]) ** 2
                                for j in range(dsub)
                            )
                        ),
                        c,
                    ),
                )
                for i in range(len(slices))
            ]
            for c in range(k):
                members = [i for i in range(len(slices)) if assign[i] == c]
                if members:
                    centers[c] = [
                        rnd(
                            sum(slices[i][j] for i in members)
                            / len(members)
                        )
                        + 0.0
                        for j in range(dsub)
                    ]
        return centers

    probe = vecs[0]
    books, codes, luts = [], [], []
    for s in range(n_sub):
        sl = [v[s * dsub : (s + 1) * dsub] for v in vecs]
        cb = fit(sl)
        books.append(cb)
        codes.append(
            [
                min(
                    range(k),
                    key=lambda c: (
                        rnd(
                            sum(
                                (sl[i][j] - cb[c][j]) ** 2
                                for j in range(dsub)
                            )
                        ),
                        c,
                    ),
                )
                for i in range(len(sl))
            ]
        )
        q = probe[s * dsub : (s + 1) * dsub]
        luts.append(
            [
                rnd(sum((q[j] - cb[c][j]) ** 2 for j in range(dsub)))
                for c in range(k)
            ]
        )
    want = sorted(
        (
            (
                rnd(sum(luts[s][codes[s][i]] for s in range(n_sub))),
                i,
                [codes[s][i] for s in range(n_sub)],
            )
            for i in range(len(vecs))
        )
    )[:topk]
    got = [(r["adc_dist"], r["vec_id"], list(r["codes"])) for r in out]
    assert got == [(d, i, c) for d, i, c in want]


# ------------------------------------------------ Zipf / coverage


def test_zipf_exact_power_law_slope(spark):
    from capex_data_pipeline_spark.extensions.corpus import term_zipf_stats

    # freq(r) = 12/r exactly: a 10, b 5... build freqs 12, 6, 4, 3 so
    # log10(f) = log10(12) - log10(r) and the OLS slope is exactly -1
    words = ["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3
    out = term_zipf_stats(
        _docs_df(spark, [" ".join(words)]), topk=4
    ).collect()
    got = {r["rank"]: r for r in out}
    assert [got[r]["term"] for r in (1, 2, 3, 4)] == ["a", "b", "c", "d"]
    assert [got[r]["freq"] for r in (1, 2, 3, 4)] == [12, 6, 4, 3]
    total = 25
    assert got[1]["cum_share"] == round(12 / total, 6)
    assert got[4]["cum_share"] == 1.0
    assert abs(got[1]["zipf_slope"] - (-1.0)) < 1e-6


def test_zipf_tie_breaks_term_asc(spark):
    from capex_data_pipeline_spark.extensions.corpus import term_zipf_stats

    out = term_zipf_stats(
        _docs_df(spark, ["z y x", "z y x"]), topk=3
    ).collect()
    assert [(r["rank"], r["term"]) for r in sorted(out)] == [
        (1, "x"),
        (2, "y"),
        (3, "z"),
    ]


# ------------------------------------------------ mixture schedule


def test_mixture_schedule_prefix_shares(spark):
    from capex_data_pipeline_spark.extensions.corpus import mixture_schedule

    rows = [(i, "A") for i in range(60)] + [
        (i, "B") for i in range(60, 80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_schedule(
        df, weights={"A": 0.75, "B": 0.25}, steps=40
    ).collect()
    assert [r["step"] for r in out] == list(range(1, 41))
    # stride property: every prefix of 4k steps holds 3k A and k B
    for k in (4, 8, 20, 40):
        srcs = [r["source"] for r in out[:k]]
        assert srcs.count("A") == 3 * k // 4, (k, srcs)
        assert srcs.count("B") == k // 4
    # vtime is nondecreasing along the stream
    vts = [r["vtime"] for r in out]
    assert vts == sorted(vts)


def test_mixture_schedule_deterministic_and_null_source(spark):
    from capex_data_pipeline_spark.extensions.corpus import mixture_schedule

    df = spark.createDataFrame(
        [(0, "A"), (1, None), (2, "A"), (3, None)],
        "doc_id long, source string",
    )
    a = mixture_schedule(
        df, weights={"A": 0.5}, default_weight=0.5, steps=4
    ).collect()
    b = mixture_schedule(
        df, weights={"A": 0.5}, default_weight=0.5, steps=4
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert {r["source"] for r in a} == {"A", "<null>"}


def test_mixture_schedule_guards(spark):
    from capex_data_pipeline_spark.extensions.corpus import mixture_schedule

    df = spark.createDataFrame([(0, "A")], "doc_id long, source string")
    with pytest.raises(ValueError, match="steps"):
        mixture_schedule(df, weights={"A": 1.0}, steps=0)
    with pytest.raises(ValueError, match="weight"):
        mixture_schedule(df, weights={"A": 0.0})
    with pytest.raises(ValueError, match="default_weight"):
        mixture_schedule(df, weights={"A": 1.0}, default_weight=-1)


# ------------------------------------------------ HTML link graph


def test_html_link_edges_semantics(spark):
    from capex_data_pipeline_spark.extensions.cleaning import (
        html_link_edges,
    )

    pages = spark.createDataFrame(
        [
            (
                "a.org",
                '<a href="https://WWW.B.COM/x">1</a>'
                "<a href='https://b.com/y'>2</a>"
                '<a href="/relative">r</a>'
                '<a href="mailto:x@y.z">m</a>'
                '<a href="http://c.net:8080/z">3</a>',
            ),
            ("a.org", '<a href="https://b.com/z">4</a>'),
            ("d.org", "no links at all"),
        ],
        "src_host string, html string",
    )
    rows = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in html_link_edges(pages).collect()
    }
    # www-stripping + case-folding merges WWW.B.COM with b.com; the
    # port stops the host capture; relative/mailto links drop
    assert rows == {("a.org", "b.com"): 3, ("a.org", "c.net"): 1}


def test_html_link_edges_feed_pagerank(spark):
    """Composition: the edge list drops straight into graph.pagerank
    (host authority over the crawl graph)."""
    from capex_data_pipeline_spark.extensions.cleaning import (
        html_link_edges,
    )
    from capex_data_pipeline_spark.extensions.graph import pagerank

    pages = spark.createDataFrame(
        [
            ("a.org", '<a href="https://b.com/1">x</a>'),
            ("b.com", '<a href="https://a.org/2">y</a>'),
            ("c.net", '<a href="https://a.org/3">z</a>'),
        ],
        "src_host string, html string",
    )
    edges = html_link_edges(pages).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    ranks = pagerank(edges, iterations=2, src_col="src", dst_col="dst")
    got = {r[0]: r[1] for r in ranks.collect()}
    # c.net has no in-links: it bottoms out at the damping floor while
    # the a<->b cycle holds the rest of the mass (their relative order
    # oscillates round-to-round in a 2-cycle — that's PageRank, not a
    # bug)
    assert set(got) == {"a.org", "b.com", "c.net"}
    assert got["c.net"] < got["a.org"] and got["c.net"] < got["b.com"]


# ------------------------------------------------ sketches (CMS / HLL)


def test_cms_exact_when_wide_and_overestimates_when_narrow(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        cms_top_frequencies,
    )

    texts = ["alpha alpha alpha beta beta gamma"] * 5
    wide = cms_top_frequencies(
        _docs_df(spark, texts), depth=3, width=4096, topk=3
    ).collect()
    got = {r["word"]: r for r in wide}
    assert got["alpha"]["true_count"] == 15
    # 3 distinct words in 4096 columns: no collisions, estimates exact
    for r in wide:
        assert r["est_count"] == r["true_count"]
        assert r["overestimate"] == 0

    rng = random.Random(13)
    many = [
        " ".join(f"w{rng.randrange(500)}" for _ in range(30))
        for _ in range(40)
    ]
    narrow = cms_top_frequencies(
        _docs_df(spark, many), depth=2, width=16, topk=10
    ).collect()
    # one-sided guarantee: NEVER an underestimate, and 500 words in 16
    # columns must collide somewhere in the top-10
    assert all(r["overestimate"] >= 0 for r in narrow)
    assert any(r["overestimate"] > 0 for r in narrow)


def test_cms_guards(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        cms_top_frequencies,
    )

    with pytest.raises(ValueError, match="depth/width"):
        cms_top_frequencies(_docs_df(spark, ["x"]), depth=0)


def test_hll_estimate_within_expected_error(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality,
    )

    df = spark.range(2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    out = hll_cardinality(df, F.col("k"), b=6).collect()[0]
    assert out["n_exact"] == 2000
    # raw HLL with m=64: typical error 1.04/sqrt(64) ~ 13%; allow 3
    # sigma-ish — the estimate is deterministic, this pins it sane
    assert abs(out["n_estimated"] - 2000) / 2000 < 0.4
    assert out["rel_error"] == round(
        abs(out["n_estimated"] - 2000) / 2000.0, 6
    )


def test_hll_deterministic_and_duplicate_invariant(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality,
    )

    base = spark.range(500).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    doubled = base.union(base)  # duplicates must not move the estimate
    a = hll_cardinality(base, F.col("k")).collect()[0]
    b = hll_cardinality(doubled, F.col("k")).collect()[0]
    assert a["n_estimated"] == b["n_estimated"]
    assert a["n_exact"] == b["n_exact"] == 500


def test_hll_guards_and_empty(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality,
    )

    df = spark.range(1).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="b must be"):
        hll_cardinality(df, F.col("k"), b=0)
    empty = spark.createDataFrame([], "k string")
    row = hll_cardinality(empty, F.col("k")).collect()[0]
    assert row["n_exact"] == 0 and row["rel_error"] is None


# ------------------------------------------------ snapshot diff


def test_snapshot_diff_classification(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        corpus_snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will be removed"),
         (4, "Same   TEXT!")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (5, "brand new"),
         (4, "same text")],  # 4: normalization-equal -> unchanged
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_snapshot_diff(old, new).collect()
    }
    assert got == {2: "changed", 3: "removed", 5: "added"}


def test_snapshot_diff_empty_sides(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        corpus_snapshot_diff,
    )

    docs = _docs_df(spark, ["a", "b"])
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert {
        r["status"] for r in corpus_snapshot_diff(empty, docs).collect()
    } == {"added"}
    assert {
        r["status"] for r in corpus_snapshot_diff(docs, empty).collect()
    } == {"removed"}
    assert corpus_snapshot_diff(docs, docs).collect() == []


# ------------------------------------------------ percentile calibration


def test_percentile_calibrate_semantics(spark):
    from capex_data_pipeline_spark.extensions.textstats import (
        percentile_calibrate,
    )

    rows = [
        # source A: scores 1..4 -> pct_rank 0, 1/3, 2/3, 1
        (0, "A", 1.0), (1, "A", 2.0), (2, "A", 3.0), (3, "A", 4.0),
        # source B: all-tied scores -> rank by doc_id, NULL sorts first
        (4, "B", 7.0), (5, "B", 7.0), (6, "B", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, s double")
    got = {
        r["doc_id"]: (r["pct_rank"], r["kept"])
        for r in percentile_calibrate(
            df, "s", group_col="source", keep_frac=0.5
        ).collect()
    }
    assert got[0] == (0.0, False)
    assert got[1] == (round(1 / 3, 6), False)
    assert got[2] == (round(2 / 3, 6), True)
    assert got[3] == (1.0, True)
    # NULL score ranks lowest; tie between 4 and 5 broken by doc_id
    assert got[6][0] == 0.0 and not got[6][1]
    assert got[4] == (0.5, True) and got[5] == (1.0, True)


def test_percentile_calibrate_guard(spark):
    from capex_data_pipeline_spark.extensions.textstats import (
        percentile_calibrate,
    )

    df = spark.createDataFrame([(0, "A", 1.0)], "doc_id long, source string, s double")
    with pytest.raises(ValueError, match="keep_frac"):
        percentile_calibrate(df, "s", keep_frac=0.0)


# ------------------------------------------------ logistic-regression training


def _py_bucket(word, n=64):
    import hashlib

    return int(hashlib.md5(word.encode()).hexdigest()[:8], 16) % n


def _py_logreg(texts, labels, rounds, n=64, lr=1.0):
    """Exact-structure (unrounded) replay of full-batch GD over binary
    hashed-bucket features; the engine re-anchors to 6 decimals per
    step, so comparisons use a loose tolerance."""
    feats = [sorted({_py_bucket(w, n) for w in t.split()}) for t in texts]
    w, b = [0.0] * n, 0.0
    m = len(texts)
    for _ in range(rounds):
        g, gb = [0.0] * n, 0.0
        for bs, y in zip(feats, labels):
            z = b + sum(w[k] for k in bs)
            p = 1.0 / (1.0 + math.exp(-z))
            r = p - y
            gb += r
            for k in bs:
                g[k] += r
        w = [wk - lr * gk / m for wk, gk in zip(w, g)]
        b -= lr * gb / m
    return w, b


def test_logreg_matches_python_replay(spark):
    from capex_data_pipeline_spark.extensions.linalg import logreg_train

    rng = random.Random(11)
    fillers = ["alpha", "beta", "gamma", "delta", "omega", "kappa"]
    texts, labels = [], []
    for i in range(40):
        ws = rng.sample(fillers, 3)
        if i % 3 == 0:
            ws.append("zebra")
        texts.append(" ".join(ws))
        labels.append(1 if "zebra" in ws else 0)
    df = spark.createDataFrame(
        list(zip(texts, labels)), "text string, y int"
    )
    out = logreg_train(df, label_col="y", rounds=3).collect()
    assert len(out) == 65
    got = {r["feature"]: r["weight"] for r in out}
    w, b = _py_logreg(texts, labels, rounds=3)
    assert abs(got[-1] - b) < 1e-4
    for k in range(64):
        assert abs(got[k] - w[k]) < 1e-4, (k, got[k], w[k])
    # milli quantization is round(weight * 1000)
    for r in out:
        assert abs(r["weight_milli"] - r["weight"] * 1000) <= 0.5 + 1e-9


def test_logreg_learns_marker_word(spark):
    from capex_data_pipeline_spark.extensions.linalg import logreg_train

    rng = random.Random(5)
    fillers = ["cat", "dog", "fish", "bird", "tree", "rock", "lake", "sand"]
    rows = []
    for i in range(80):
        ws = rng.sample(fillers, 4)
        y = 1 if i % 2 == 0 else 0
        if y:
            ws.append("excellent")
        rows.append((" ".join(ws), y))
    df = spark.createDataFrame(rows, "text string, y int")
    out = {
        r["feature"]: r["weight"]
        for r in logreg_train(df, label_col="y", rounds=5).collect()
    }
    marker = _py_bucket("excellent")
    # the marker bucket carries the largest positive weight
    assert out[marker] > 0
    assert out[marker] == max(v for k, v in out.items() if k >= 0)


def test_logreg_empty_text_rounds_zero_and_guards(spark):
    from capex_data_pipeline_spark.extensions.linalg import logreg_train

    df = spark.createDataFrame(
        [("", 1), ("cat dog", 0)], "text string, y int"
    )
    # empty normalized text contributes through the bias only; rounds=0
    # returns the all-zero init
    out = logreg_train(df, label_col="y", rounds=0).collect()
    assert len(out) == 65
    assert all(r["weight"] == 0.0 and r["weight_milli"] == 0 for r in out)
    out1 = logreg_train(df, label_col="y", rounds=1).collect()
    got = {r["feature"]: r["weight"] for r in out1}
    # round 1 from zeros: every p = 0.5; bias gradient = (0.5-1 + 0.5-0)/2 = 0
    assert got[-1] == 0.0
    # cat/dog buckets see residual 0.5-0 = 0.5 over n=2 -> weight -0.25
    assert got[_py_bucket("cat")] == pytest.approx(-0.25, abs=1e-9)
    with pytest.raises(ValueError):
        logreg_train(df, label_col="y", rounds=-1)
    with pytest.raises(ValueError):
        logreg_train(df, label_col="y", n_buckets=0)
    with pytest.raises(ValueError):
        logreg_train(df.filter("y = 2"), label_col="y")


# ------------------------------------------------ trigram perplexity


def _py_ppl(texts, alpha=0.5):
    from collections import Counter

    tok = [t.split() for t in texts]
    tris = [
        (i, tuple(ws[j : j + 3]))
        for i, ws in enumerate(tok)
        for j in range(len(ws) - 2)
    ]
    c3 = Counter(t for _, t in tris)
    c2 = Counter(t[:2] for _, t in tris for _ in range(1))
    # c2 must be the sum of c3 over w3, i.e. plain context counts
    c2 = Counter()
    for t, c in c3.items():
        c2[t[:2]] += c
    v = len({w for ws in tok for w in ws})
    out = {}
    for i in range(len(texts)):
        lps = [
            math.log((c3[t] + alpha) / (c2[t[:2]] + alpha * v))
            for j, t in tris
            if j == i
        ]
        if lps:
            nll = -sum(lps) / len(lps)
            out[i] = (len(lps), nll, math.exp(nll))
    return out


def test_trigram_perplexity_matches_python_replay(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        trigram_perplexity,
    )

    texts = [
        "the cat sat on the mat",
        "the cat sat on the hat",
        "the dog ran",
        "one two",  # < 3 tokens: omitted
        "zz zz zz zz",  # repeated-trigram degenerate
    ]
    out = {
        r["doc_id"]: r
        for r in trigram_perplexity(_docs_df(spark, texts)).collect()
    }
    want = _py_ppl(texts)
    assert set(out) == set(want) == {0, 1, 2, 4}
    for i, (n, nll, ppl) in want.items():
        assert out[i]["n_trigrams"] == n
        assert out[i]["avg_nll"] == pytest.approx(nll, abs=1e-5)
        assert out[i]["ppl"] == pytest.approx(ppl, abs=1e-4)


def test_trigram_perplexity_flags_the_outlier(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        trigram_perplexity,
    )

    # 9 docs share a common phrase structure; the 10th is one-off noise
    texts = ["the quick brown fox jumps over the lazy dog"] * 9 + [
        "qqq www eee rrr ttt yyy"
    ]
    out = {
        r["doc_id"]: r["avg_nll"]
        for r in trigram_perplexity(_docs_df(spark, texts)).collect()
    }
    assert max(out, key=out.get) == 9  # the noise doc is worst
    assert out[9] > 2 * out[0]


# ------------------------------------------------ exact phrase search


def test_phrase_search_semantics(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        phrase_match_counts,
    )

    texts = [
        "the cat sat on the cat mat",  # "the cat" twice, first at 1
        "The CAT, sat!",  # normalization: still matches at 1
        "cat the nothing here",  # reversed order: no match
        "the",  # shorter than the phrase
        "a a a a",  # overlap probe for the next assert
    ]
    out = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_match_counts(
            _docs_df(spark, texts), ["the", "cat"]
        ).collect()
    }
    assert out == {0: (2, 1), 1: (1, 1)}
    # overlapping occurrences all count: "a a" in "a a a a" -> 3
    out2 = phrase_match_counts(
        _docs_df(spark, texts), ["a", "a"]
    ).collect()
    assert {(r["doc_id"], r["n_matches"]) for r in out2} == {(4, 3)}
    # 3-word phrase
    out3 = phrase_match_counts(
        _docs_df(spark, texts), ["sat", "on", "the"]
    ).collect()
    assert [(r["doc_id"], r["n_matches"], r["first_pos"]) for r in out3] == [
        (0, 1, 3)
    ]
    with pytest.raises(ValueError):
        phrase_match_counts(_docs_df(spark, texts), [])
    with pytest.raises(ValueError):
        phrase_match_counts(_docs_df(spark, texts), ["ok", ""])


def test_phrase_search_is_map_only(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        phrase_match_counts,
    )

    df = _docs_df(spark, ["x y z"])
    plan = (
        phrase_match_counts(df, ["x", "y"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


# ------------------------------------------------ anchor-text aggregation


def test_anchor_texts_semantics(spark):
    from capex_data_pipeline_spark.extensions.cleaning import anchor_texts

    pages = spark.createDataFrame(
        [
            (
                "a.org",
                '<a href="https://WWW.Wiki.ORG/x">The  <i>Free</i>'
                " &amp; Open<br/>Encyclopedia</a>"
                "<a href='/local'>relative</a>"
                '<a href="https://img.cdn.net/1"><img src="p.png"/></a>',
            ),
            (
                "b.org",
                '<A HREF="https://wiki.org/y">The Free & Open'
                " Encyclopedia</A>"
                '<a href="ftp://old.net/z">ftp dropped</a>',
            ),
            ("c.org", None),
        ],
        "src_host string, html string",
    )
    out = {
        (r["dst_host"], r["anchor"]): r["n"]
        for r in anchor_texts(pages).collect()
    }
    # both pages' anchors clean to the SAME text and host -> n=2
    assert out == {("wiki.org", "The Free & Open Encyclopedia"): 2}


def test_anchor_texts_href_entity_decode_and_multi(spark):
    from capex_data_pipeline_spark.extensions.cleaning import anchor_texts

    pages = spark.createDataFrame(
        [
            (
                "s",
                '<a href="https://t.com/?a=1&amp;b=2">one</a>'
                '<a href="https://t.com/p">two</a>'
                '<a href="https://t.com/q">two</a>',
            )
        ],
        "src_host string, html string",
    )
    out = {
        (r["dst_host"], r["anchor"]): r["n"]
        for r in anchor_texts(pages).collect()
    }
    assert out == {("t.com", "one"): 1, ("t.com", "two"): 2}


# ------------------------------------------------ canonical-per-cluster


def test_cluster_canonical_election(spark):
    from capex_data_pipeline_spark.extensions.dedup import (
        cluster_canonical,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, None), (6, 0.1)],
        "doc_id long, score double",
    )
    out = {
        r["cluster_id"]: (
            r["canonical_doc_id"],
            r["cluster_size"],
            r["canonical_score"],
        )
        for r in cluster_canonical(clusters, quality).collect()
    }
    # cluster 1: tie 2 vs 3 at 0.9 -> min id 2 wins
    # cluster 4: singleton with NULL score -> still elected
    # cluster 5: doc 5 has NO quality row (NULL, sorts last); 6 wins
    assert out == {1: (2, 3, 0.9), 4: (4, 1, None), 5: (6, 2, 0.1)}


def test_cluster_canonical_single_shuffle_plan(spark):
    from capex_data_pipeline_spark.extensions.dedup import (
        cluster_canonical,
    )

    clusters = spark.createDataFrame(
        [(1, 1)], "doc_id long, cluster_id long"
    )
    quality = spark.createDataFrame([(1, 0.5)], "doc_id long, score double")
    plan = (
        cluster_canonical(clusters, quality)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # both windows share the one cluster_id partitioning: exactly one
    # exchange on the cluster key (plus the tiny join's exchanges)
    assert plan.count("Exchange hashpartitioning(cluster_id") == 1


# ------------------------------------------------ temperature resampling


def test_temperature_resample_semantics(spark):
    import hashlib

    from capex_data_pipeline_spark.extensions.corpus import (
        temperature_resample,
    )

    # 80/20 skew: web 80 docs, code 20 docs
    rows = [(i, "web") for i in range(80)] + [
        (i, "code") for i in range(80, 100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # T=1: natural mix preserved -> every rate 1.0, nothing dropped
    out1 = temperature_resample(df, 1.0).collect()
    assert len(out1) == 100
    assert all(r["rate"] == 1.0 for r in out1)
    # T=2: r_web = (0.8^-0.5)/(0.2^-0.5) = 0.5, r_code = 1.0
    out2 = temperature_resample(df, 2.0).collect()
    rates = {r["source"]: r["rate"] for r in out2}
    assert rates["code"] == 1.0
    assert rates["web"] == pytest.approx(0.5, abs=1e-6)
    # the kept set is exactly the md5 hash filter's replay
    def u(k):
        return (
            int(
                hashlib.md5(f"s0|{k}".encode()).hexdigest()[:8], 16
            )
            / 2**32
        )

    kept = {r["doc_id"] for r in out2}
    want = {i for i in range(80) if u(i) < rates["web"]} | set(
        range(80, 100)
    )
    assert kept == want


def test_temperature_resample_null_source_and_guard(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        temperature_resample,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "doc_id long, source string"
    )
    out = temperature_resample(df, 1.0).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 3]  # NULL lane dropped
    with pytest.raises(ValueError):
        temperature_resample(df, 0.0)


# ------------------------------------------------ hard-negative mining


def test_hard_negatives_semantics(spark):
    from capex_data_pipeline_spark.extensions.similarity import (
        hard_negatives,
    )

    vecs = [
        (0, [1.0, 0.0], "a"),
        (1, [0.99, 0.14], "a"),   # same label: never a negative
        (2, [0.9, 0.44], "b"),    # closest different-label
        (3, [0.0, 1.0], "b"),
        (4, [0.5, 0.5], None),    # NULL label: excluded entirely
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label string"
    )
    out = hard_negatives(df, df.filter("vec_id = 0"), k=2).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in out]
    assert got == [(2, 1), (3, 2)]
    assert all(r["neighbor_label"] == "b" for r in out)
    # a NULL-label query mines nothing
    assert hard_negatives(df, df.filter("vec_id = 4"), k=2).count() == 0


# ------------------------------------------------ c-TF-IDF keywords


def test_class_tfidf_distinctive_terms(spark):
    import math as _m

    from capex_data_pipeline_spark.extensions.corpus import (
        class_tfidf_topk,
    )

    df = spark.createDataFrame(
        [
            ("web", "the page the site the page"),
            ("web", "the site the page"),
            ("code", "def foo the def bar def"),
            (None, "ignored row"),
        ],
        "source string, text string",
    )
    out = class_tfidf_topk(df, topk=2).collect()
    # full Python replay of counts + formula + ranking
    from collections import Counter

    gt = Counter()
    for src, text in [
        ("web", "the page the site the page"),
        ("web", "the site the page"),
        ("code", "def foo the def bar def"),
    ]:
        for t in text.split():
            gt[(src, t)] += 1
    ft = Counter()
    for (_, t), c in gt.items():
        ft[t] += c
    gn = Counter()
    for (s, _), c in gt.items():
        gn[s] += c
    a = round(sum(gn.values()) / len(gn), 6)
    scores = {
        (s, t): round(c * _m.log(1.0 + a / ft[t]), 6)
        for (s, t), c in gt.items()
    }
    want = {}
    for s in gn:
        ranked = sorted(
            ((t, sc) for (s2, t), sc in scores.items() if s2 == s),
            key=lambda x: (-x[1], x[0]),
        )[:2]
        for rk, (t, sc) in enumerate(ranked, 1):
            want[(s, rk)] = (t, sc)
    got = {(r["source"], r["rank"]): (r["term"], r["score"]) for r in out}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-9)
    # 'def' is code's most distinctive term (group-specific beats the
    # globally common 'the' there)
    assert got[("code", 1)][0] == "def"


# ------------------------------------------------ backoff perplexity


def test_backoff_perplexity_chain(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        backoff_perplexity,
    )

    train = _docs_df(spark, ["a b c a b c", "a b d"])
    # corpus doc 0: trigram 'a b c' seen (c123=2, c12=3 -> 2/3)
    # doc 1: 'a b e' unseen trigram, bigram 'b e' unseen, 'e' OOV ->
    #        0.4 * 0.4 * (0+0.5)/(9+0.5*4)
    # doc 2: 'c a b' seen once (c12('c a')=1 -> 1/1)
    corpus = _docs_df(spark, ["a b c", "a b e", "c a b"])
    out = {
        r["doc_id"]: r
        for r in backoff_perplexity(corpus, train).collect()
    }
    n, v = 9.0, 4.0  # train tokens / vocab {a,b,c,d}
    want0 = -math.log(2.0 / 3.0)
    want1 = -math.log(0.4 * 0.4 * (0.5 / (n + 0.5 * v)))
    want2 = -math.log(1.0 / 1.0)
    assert out[0]["avg_nll"] == pytest.approx(want0, abs=1e-5)
    assert out[0]["n_hit3"] == 1
    assert out[1]["avg_nll"] == pytest.approx(want1, abs=1e-5)
    assert out[1]["n_hit3"] == 0
    assert out[2]["avg_nll"] == pytest.approx(want2, abs=1e-5)
    # seen-trigram docs score FAR better than the OOV doc
    assert out[1]["ppl"] > 10 * out[0]["ppl"]


def test_backoff_perplexity_bigram_level_and_guard(spark):
    from capex_data_pipeline_spark.extensions.corpus import (
        backoff_perplexity,
    )

    train = _docs_df(spark, ["x y z w"])
    # 'q y z': trigram unseen, bigram 'y z' SEEN (1) / c1('y')=1 -> 0.4*1
    corpus = _docs_df(spark, ["q y z"])
    out = backoff_perplexity(corpus, train).collect()[0]
    assert out["avg_nll"] == pytest.approx(-math.log(0.4), abs=1e-5)
    assert out["n_hit3"] == 0
    with pytest.raises(ValueError):
        backoff_perplexity(corpus, _docs_df(spark, [""]))


# ------------------------------------------------ boilerplate headers


def test_boilerplate_headers_detection(spark):
    from capex_data_pipeline_spark.extensions.cleaning import (
        boilerplate_headers,
    )

    banner = "Welcome | Home"
    rows = (
        [(i, "s1", f"{banner}\nbody {i}") for i in range(6)]
        + [(i, "s1", f"unique first {i}\nbody") for i in range(6, 10)]
        + [(i, "s2", f"all different {i}") for i in range(10)]
        + [(20, "s3", "   \nonly whitespace first line")]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = boilerplate_headers(df, min_share=0.2).collect()
    # s1: banner on 6/10 docs -> reported; s2 diverse -> nothing;
    # s3's first line is whitespace-only -> ignored entirely
    assert [(r["source"], r["header"], r["n_docs"], r["share"]) for r in out] == [
        ("s1", banner, 6, 0.6)
    ]


def test_boilerplate_headers_min_share_gate(spark):
    from capex_data_pipeline_spark.extensions.cleaning import (
        boilerplate_headers,
    )

    rows = [(i, "s", f"hdr\nx") for i in range(2)] + [
        (i, "s", f"u{i}\nx") for i in range(2, 20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    assert boilerplate_headers(df, min_share=0.2).count() == 0
    got = boilerplate_headers(df, min_share=0.05).collect()
    assert got[0]["header"] == "hdr" and got[0]["share"] == 0.1


# ------------------------------------------------ word dropout


def test_word_dropout_replay_and_determinism(spark):
    import hashlib

    from capex_data_pipeline_spark.extensions.corpus import word_dropout

    texts = ["the quick brown fox jumps over the lazy dog"] * 3 + [""]
    df = _docs_df(spark, texts)
    out = {r["doc_id"]: r for r in word_dropout(df, p=0.3).collect()}

    def keep(doc_id, i):
        u = (
            int(
                hashlib.md5(f"s0|{doc_id}|{i}".encode()).hexdigest()[:8],
                16,
            )
            / 2**32
        )
        return u >= 0.3

    for d in range(3):
        ws = texts[d].split()
        want = " ".join(w for i, w in enumerate(ws, 1) if keep(d, i))
        assert out[d]["text_aug"] == want
        assert out[d]["n_tokens"] == 9
        assert out[d]["n_dropped"] == 9 - len(want.split())
    # same text, different doc ids -> different masks (position+id keyed)
    assert len({out[d]["text_aug"] for d in range(3)}) > 1
    # empty doc: zero counts, empty augmentation
    assert out[3]["text_aug"] == "" and out[3]["n_tokens"] == 0
    # p = 0 keeps everything
    full = word_dropout(df, p=0.0).collect()
    assert all(r["n_dropped"] == 0 for r in full)
    with pytest.raises(ValueError):
        word_dropout(df, p=1.0)


# ------------------------------------------------ round-7 plan pins


def test_temperature_resample_broadcasts_rates(spark):
    """The corpus side must flow through a BroadcastHashJoin (rates are
    a sources-sized frame) — never a SortMergeJoin shuffle of the
    corpus."""
    from capex_data_pipeline_spark.extensions.corpus import (
        temperature_resample,
    )

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(30)],
        "doc_id long, source string",
    )
    plan = (
        temperature_resample(df, 2.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hard_negatives_broadcasts_queries_and_group_limits(spark):
    """The query batch broadcasts (BroadcastNestedLoopJoin is expected:
    the label-inequality predicate is non-equi BY DESIGN, and the
    broadcast side is the tiny query batch) and the per-query top-k
    applies map-side (WindowGroupLimit)."""
    from capex_data_pipeline_spark.extensions.similarity import (
        hard_negatives,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], "l" + str(i % 2)) for i in range(20)],
        "vec_id long, embedding array<double>, label string",
    )
    plan = (
        hard_negatives(df, df.filter("vec_id < 2"), k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------ reciprocal-rank fusion


def test_rrf_fuse_semantics(spark):
    from capex_data_pipeline_spark.extensions.similarity import rrf_fuse

    def rk(rows):
        return spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank int"
        )

    # doc 10 is rank 1 in A only; doc 11 is rank 2 in BOTH -> doc 11
    # fuses higher: 2/(60+2) > 1/(60+1) + 0
    a = rk([(0, 10, 1), (0, 11, 2), (0, 12, 3)])
    b = rk([(0, 11, 2), (0, 13, 1)])
    out = rrf_fuse([a, b], k=60, topk=10).collect()
    got = {r["neighbor_id"]: r for r in out}
    assert got[11]["fused_rank"] == 1 and got[11]["n_rankers"] == 2
    assert got[11]["rrf_score"] == pytest.approx(2 / 62, abs=1e-6)
    assert got[10]["rrf_score"] == pytest.approx(1 / 61, abs=1e-6)
    # equal scores tie-break doc-ascending: 10 and 13 both 1/61
    assert got[13]["rrf_score"] == got[10]["rrf_score"]
    assert got[10]["fused_rank"] < got[13]["fused_rank"]
    with pytest.raises(ValueError):
        rrf_fuse([a])
    with pytest.raises(ValueError):
        rrf_fuse([a, b], k=0)


# ------------------------------------------------ shingle containment


def test_containment_measure_vs_jaccard(spark):
    from capex_data_pipeline_spark.extensions.dedup import (
        ngram_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        base,                                   # 0: the container
        "alpha beta gamma delta epsilon",        # 1: strict prefix of 0
        "totally different words here now ok",   # 2: unrelated
    ]
    df = _docs_df(spark, texts)
    kw = dict(k=3, num_hashes=8, bands=8)
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.5, measure="containment", **kw
        ).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.01, **kw).collect()
    }
    # doc 1's 3 shingles are all inside doc 0's 8 -> containment 1.0,
    # while Jaccard is only 3/8
    assert cont[(0, 1)] == 1.0
    assert jac[(0, 1)] == pytest.approx(3 / 8, abs=1e-4)
    assert (0, 2) not in cont and (1, 2) not in cont
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(df, measure="dice")


# ------------------------------- sqrt(N)-sized IVF build/query split


def _rand_vecs(n, d=8, seed=7):
    rng = random.Random(seed)
    return [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)]


def test_ivf_build_sqrt_sizing(spark):
    from capex_data_pipeline_spark.extensions.similarity import ivf_build

    vecs = _vecs_df(spark, _rand_vecs(500))
    assigned, centers = ivf_build(vecs, materialize=False)
    assert len(centers) == max(16, math.ceil(math.sqrt(500)))  # 23
    assert assigned.storageLevel.useMemory  # the index IS persisted
    # every vector gets exactly one valid cell
    cells = assigned.select("cell").distinct().collect()
    assert all(0 <= r["cell"] < len(centers) for r in cells)
    assert assigned.count() == 500
    assigned.unpersist()


def test_ivf_arrow_vs_expr_assignment_parity(spark):
    """The Arrow (numpy matmul) and Catalyst-expression quantizers must
    assign every vector to the SAME cell — same centers, same cosine
    argmax, same lowest-index tie-break."""
    from capex_data_pipeline_spark.extensions.similarity import ivf_build

    vecs = _vecs_df(spark, _rand_vecs(300, seed=11))
    a_arrow, c1 = ivf_build(vecs, assign="arrow", materialize=False)
    a_expr, c2 = ivf_build(vecs, assign="expr", materialize=False)
    assert c1 == c2
    d1 = dict(
        (r["vec_id"], r["cell"])
        for r in a_arrow.select("vec_id", "cell").collect()
    )
    d2 = dict(
        (r["vec_id"], r["cell"])
        for r in a_expr.select("vec_id", "cell").collect()
    )
    assert d1 == d2
    a_arrow.unpersist()
    a_expr.unpersist()


def test_ivf_query_matches_brute_inside_probed_cells(spark):
    """ivf_query's result must equal brute-force top-k restricted to
    the probed cells' members (the IVF contract: exact re-rank, the
    only approximation is the candidate set)."""
    from capex_data_pipeline_spark.extensions.similarity import (
        cosine_topk,
        ivf_build,
        ivf_query,
    )

    vecs = _vecs_df(spark, _rand_vecs(400, seed=3))
    queries = vecs.filter(F.col("vec_id") < 3)
    assigned, centers = ivf_build(vecs, n_cells=16, materialize=False)
    got = ivf_query(assigned, centers, queries, k=5, nprobe=16)
    exact = cosine_topk(vecs, queries, k=5)
    g = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in got.collect()
    )
    e = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in exact.collect()
    )
    # nprobe == n_cells probes every cell -> identical to brute force
    assert g == e
    assigned.unpersist()


def test_ivf_build_reused_across_query_batches(spark):
    """The build/query split's point: ONE assignment serves many query
    batches. The persisted index frame is queried twice without
    rebuilding (results stay consistent and the frame stays cached)."""
    from capex_data_pipeline_spark.extensions.similarity import (
        ivf_build,
        ivf_query,
    )

    vecs = _vecs_df(spark, _rand_vecs(400, seed=5))
    assigned, centers = ivf_build(vecs)
    b1 = vecs.filter(F.col("vec_id") < 2)
    b2 = vecs.filter((F.col("vec_id") >= 2) & (F.col("vec_id") < 4))
    r1 = ivf_query(assigned, centers, b1, k=5, nprobe=4).collect()
    r2 = ivf_query(assigned, centers, b2, k=5, nprobe=4).collect()
    assert {r["query_id"] for r in r1} == {0, 1}
    assert {r["query_id"] for r in r2} == {2, 3}
    assert assigned.storageLevel.useMemory
    assigned.unpersist()


def test_ivf_query_plan_is_broadcast_equi_join(spark):
    """The candidate join is an equi-join on the int cell key with the
    query batch broadcast — never a cartesian/nested-loop."""
    from capex_data_pipeline_spark.extensions.similarity import (
        ivf_build,
        ivf_query,
    )

    vecs = _vecs_df(spark, _rand_vecs(200, seed=9))
    queries = vecs.filter(F.col("vec_id") < 2)
    assigned, centers = ivf_build(vecs, n_cells=16, materialize=False)
    plan = (
        ivf_query(assigned, centers, queries, k=5, nprobe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assigned.unpersist()


def test_ivf_invalid_modes_raise(spark):
    from capex_data_pipeline_spark.extensions.similarity import (
        ivf_build,
        ivf_query,
    )

    vecs = _vecs_df(spark, _rand_vecs(50))
    with pytest.raises(ValueError, match="assign"):
        ivf_build(vecs, n_cells=4, assign="bogus")
    assigned, centers = ivf_build(vecs, n_cells=4, materialize=False)
    with pytest.raises(ValueError, match="probe"):
        ivf_query(assigned, centers, vecs.limit(1), probe="bogus")
    assigned.unpersist()


def test_ann_recall_exact_and_dropout(spark):
    """recall arithmetic: full overlap -> 1.0; partial -> hits/n_exact;
    a query absent from the approx side still reports 0.0."""
    from capex_data_pipeline_spark.extensions.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2),
         (3, 30, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 99, 3),   # 2 of 3
         (2, 20, 1), (2, 21, 2)],              # 2 of 2; query 3 dropped
        "query_id long, neighbor_id long, rank int",
    )
    got = {
        r["query_id"]: (r["n_exact"], r["n_hits"], r["recall"])
        for r in ann_recall(approx, exact, k=10).collect()
    }
    assert got == {
        1: (3, 2, round(2 / 3, 6)),
        2: (2, 2, 1.0),
        3: (1, 0, 0.0),
    }


def test_ann_recall_respects_k_cutoff(spark):
    """Rows beyond rank k on either side are ignored."""
    from capex_data_pipeline_spark.extensions.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 12, 1), (1, 10, 2), (1, 11, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    got = ann_recall(approx, exact, k=2).collect()[0]
    # exact@2 = {10, 11}; approx@2 = {12, 10} -> 1 hit of 2
    assert (got["n_exact"], got["n_hits"], got["recall"]) == (2, 1, 0.5)


def test_ann_recall_ivf_full_probe_is_perfect(spark):
    """nprobe == n_cells makes IVF exhaustive -> recall 1.0 everywhere
    (the end-to-end identity the q147 eval is built on)."""
    from capex_data_pipeline_spark.extensions.similarity import (
        ann_recall,
        cosine_topk,
        ivf_build,
        ivf_query,
    )

    vecs = _vecs_df(spark, _rand_vecs(200, seed=13))
    queries = vecs.filter(F.col("vec_id") < 3)
    assigned, centers = ivf_build(vecs, n_cells=8, materialize=False)
    approx = ivf_query(assigned, centers, queries, k=5, nprobe=8)
    res = ann_recall(approx, cosine_topk(vecs, queries, k=5), k=5).collect()
    assert all(r["recall"] == 1.0 for r in res)
    assigned.unpersist()


def test_hll_cardinality_by_group_matches_global(spark):
    """The grouped sketch reduces to the global one per group: run the
    global estimator on each group's slice and compare estimates."""
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality,
        hll_cardinality_by,
    )

    df = spark.createDataFrame(
        [(i % 3, f"user{i % 40}") for i in range(500)],
        "g int, u string",
    )
    grouped = {
        r["g"]: (r["n_exact"], r["n_estimated"])
        for r in hll_cardinality_by(df, "g", F.col("u"), b=5).collect()
    }
    for g in (0, 1, 2):
        exact, est = grouped[g]
        glob = hll_cardinality(
            df.filter(F.col("g") == g), F.col("u"), b=5
        ).collect()[0]
        assert (glob["n_exact"], glob["n_estimated"]) == (exact, est)
    # small-cardinality groups: raw HLL (no corrections) still lands
    # within a loose band
    for g, (exact, est) in grouped.items():
        assert 0.5 * exact <= est <= 2.0 * exact


def test_hll_cardinality_by_null_group_and_guard(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality_by,
    )

    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), ("x", "a")], "g string, u string"
    )
    rows = {r["g"]: r["n_exact"] for r in
            hll_cardinality_by(df, "g", F.col("u")).collect()}
    assert rows == {None: 2, "x": 1}
    with pytest.raises(ValueError, match="b must"):
        hll_cardinality_by(df, "g", F.col("u"), b=0)


def test_binned_roc_auc_separable_random_anti(spark):
    from capex_data_pipeline_spark.extensions.linalg import binned_roc_auc

    sep = spark.createDataFrame(
        [(float(i), 1 if i >= 50 else 0) for i in range(100)],
        "s double, y int",
    )
    rows = binned_roc_auc(sep, "s", "y", bins=16).collect()
    assert rows[0]["auc"] == 1.0
    # rows come high-score-first; curve passes through (0,0)-ish corner
    assert rows[0]["fpr"] == 0.0 and rows[-1]["tpr"] == 1.0
    anti = spark.createDataFrame(
        [(float(i), 0 if i >= 50 else 1) for i in range(100)],
        "s double, y int",
    )
    assert binned_roc_auc(anti, "s", "y", bins=16).collect()[0]["auc"] == 0.0


def test_binned_roc_auc_matches_exact_rank_auc(spark):
    """With scores already discrete at bin resolution, the binned AUC
    IS the exact Mann-Whitney AUC (ties at a score split half-half via
    the trapezoid) — compare against an independent O(P*N) Python
    computation."""
    import random

    from capex_data_pipeline_spark.extensions.linalg import binned_roc_auc

    rng = random.Random(7)
    data = [(float(rng.randint(0, 15)), rng.randint(0, 1)) for _ in range(300)]
    pos = [s for s, y in data if y == 1]
    neg = [s for s, y in data if y == 0]
    wins = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    )
    exact = round(wins / (len(pos) * len(neg)), 6)
    got = binned_roc_auc(
        spark.createDataFrame(data, "s double, y int"), "s", "y", bins=16
    ).collect()[0]["auc"]
    assert got == exact


def test_binned_roc_auc_degenerate_and_guards(spark):
    from capex_data_pipeline_spark.extensions.linalg import binned_roc_auc

    # single class -> AUC NULL; NULL scores excluded
    one_class = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (None, 0)], "s double, y int"
    )
    rows = binned_roc_auc(one_class, "s", "y", bins=4).collect()
    assert all(r["auc"] is None for r in rows)
    assert sum(r["n_pos"] + r["n_neg"] for r in rows) == 2  # NULL dropped
    with pytest.raises(ValueError, match="bins"):
        binned_roc_auc(one_class, "s", "y", bins=1)


def test_cms_join_size_exact_on_sparse_keys(spark):
    """Few distinct keys vs a wide sketch: no cell collisions, so the
    estimate equals the exact join size (and never undershoots)."""
    from capex_data_pipeline_spark.extensions.sketches import cms_join_size

    a = spark.createDataFrame(
        [(k,) for k in ["x"] * 3 + ["y"] * 2 + ["z"]], "k string"
    )
    b = spark.createDataFrame(
        [(k,) for k in ["x"] * 4 + ["y"] * 1 + ["w"] * 5], "k string"
    )
    r = cms_join_size(a, F.col("k"), b, F.col("k"), depth=3, width=1024).collect()[0]
    assert r["exact_join_rows"] == 3 * 4 + 2 * 1  # 14
    assert r["est_join_rows"] == 14 and r["overestimate"] == 0


def test_cms_join_size_one_sided_and_nulls(spark):
    """Collisions only ever ADD (CMS is one-sided); NULL keys match
    nothing on either side; disjoint keys estimate ~0."""
    from capex_data_pipeline_spark.extensions.sketches import cms_join_size

    a = spark.createDataFrame(
        [(str(i),) for i in range(300)] + [(None,)], "k string"
    )
    b = spark.createDataFrame([(str(i),) for i in range(300)], "k string")
    tight = cms_join_size(a, F.col("k"), b, F.col("k"), depth=3, width=4096).collect()[0]
    assert tight["exact_join_rows"] == 300
    assert tight["overestimate"] >= 0  # never undershoots
    # a deliberately tiny sketch overestimates but stays one-sided
    loose = cms_join_size(a, F.col("k"), b, F.col("k"), depth=3, width=8).collect()[0]
    assert loose["est_join_rows"] >= 300
    disjoint = cms_join_size(
        a,
        F.col("k"),
        spark.createDataFrame([("zzz%d" % i,) for i in range(50)], "k string"),
        F.col("k"),
        depth=3,
        width=4096,
    ).collect()[0]
    assert disjoint["exact_join_rows"] == 0
    assert disjoint["est_join_rows"] >= 0
    with pytest.raises(ValueError, match="depth"):
        cms_join_size(a, F.col("k"), b, F.col("k"), depth=0)


def test_cms_join_size_zero_match_depth_row_votes_zero(spark):
    """Regression (r9): a depth row whose cells share NO positions has
    true inner product 0 and must participate in the min — with fully
    disjoint key sets and a wide sketch the estimate is exactly 0,
    never NULL (the old inner join silently dropped empty rows)."""
    from capex_data_pipeline_spark.extensions.sketches import cms_join_size

    a = spark.createDataFrame([("a1",), ("a2",)], "k string")
    b = spark.createDataFrame([("b1",), ("b2",)], "k string")
    # width >> keys: w.h.p. at least one depth row has no colliding
    # cell; with 2 keys/side on width=65536 ALL rows are empty unless
    # an md5 collision lands both sides' cells together
    r = cms_join_size(a, F.col("k"), b, F.col("k"), depth=3, width=65536).collect()[0]
    assert r["exact_join_rows"] == 0
    assert r["est_join_rows"] == 0
    assert r["overestimate"] == 0


def test_guarded_join_plain_under_threshold(spark):
    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k long, va string"
    )
    b = spark.createDataFrame([(1, 10), (2, 20)], "k long, vb long")
    stats = {}
    out = guarded_join(a, b, "k", est_threshold=100, stats_out=stats)
    assert stats["strategy"] == "plain"
    assert stats["est_join_rows"] <= 100
    got = {(r["k"], r["va"], r["vb"]) for r in out.collect()}
    assert got == {(1, "x", 10), (2, "y", 20)}


def test_guarded_join_salt_is_value_identical(spark):
    """Over threshold the hot key's pairs are salted across n_salt
    buckets — every output row of the plain join appears exactly once
    (value-identical, different physical distribution)."""
    from collections import Counter

    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    # one celebrity key (0) with 60 rows/side, 20 cold keys
    rows_a = [(0, i) for i in range(60)] + [(k, 1000 + k) for k in range(1, 21)]
    rows_b = [(0, -i) for i in range(60)] + [(k, 2000 + k) for k in range(1, 21)]
    a = spark.createDataFrame(rows_a, "k long, va long")
    b = spark.createDataFrame(rows_b, "k long, vb long")
    stats = {}
    out = guarded_join(
        a, b, "k", est_threshold=10, n_salt=4, hot_key_rows=30,
        stats_out=stats,
    )
    assert stats["strategy"] == "salt"
    assert stats["hot_keys"] == 1
    assert stats["est_join_rows"] >= 3600  # CMS never undershoots
    got = Counter((r["k"], r["va"], r["vb"]) for r in out.collect())
    want = Counter(
        (ka, va, vb)
        for ka, va in rows_a
        for kb, vb in rows_b
        if ka == kb
    )
    assert got == want  # exactly once each, no loss, no duplication


def test_guarded_join_cap_is_loud(spark, caplog):
    import logging

    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    a = spark.createDataFrame([(0, i) for i in range(50)], "k long, va long")
    b = spark.createDataFrame([(0, i) for i in range(50)], "k long, vb long")
    stats = {}
    with caplog.at_level(logging.WARNING):
        out = guarded_join(
            a, b, "k", est_threshold=10, over_strategy="cap",
            max_rows_per_key=5, stats_out=stats,
        )
        n = out.count()
    assert stats["strategy"] == "cap"
    assert n == 25  # 5 x 5 after the per-side cap
    assert stats["dropped_rows_a"] == 45 and stats["dropped_rows_b"] == 45
    assert any("recall trade" in r.message for r in caplog.records)


def test_guarded_join_error_strategy_and_guards(spark):
    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    a = spark.createDataFrame([(0, i) for i in range(50)], "k long, v long")
    with pytest.raises(ValueError, match="exceeds"):
        guarded_join(a, a.withColumnRenamed("v", "w"), "k",
                     est_threshold=10, over_strategy="error")
    with pytest.raises(ValueError, match="over_strategy"):
        guarded_join(a, a, "k", est_threshold=10, over_strategy="wat")
    with pytest.raises(ValueError, match="max_rows_per_key"):
        guarded_join(a, a, "k", est_threshold=10, over_strategy="cap")


def test_ddsketch_quantiles_within_alpha(spark):
    """The DDSketch guarantee observed: every estimate within relative
    error alpha of the RANK ITEM (the value at 0-indexed rank
    floor(q*(n-1)) — what the sketch targets; the reported exact_q is
    the interpolated quantile, which can sit up to a data-gap away on
    coarse discrete data like the squares in group b)."""
    import math as _m

    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by,
    )

    groups = {
        "a": [float(i) for i in range(1, 1001)],
        "b": [float(i * i) for i in range(1, 201)],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    out = ddsketch_quantiles_by(
        df, "g", F.col("v"), alpha=0.02, quantiles=(0.1, 0.5, 0.9, 0.99)
    ).collect()
    assert len(out) == 8
    for r in out:
        vs = sorted(groups[r["g"]])
        item = vs[_m.floor(r["q"] * (len(vs) - 1))]
        assert abs(r["est_q"] - item) / item <= 0.02 + 1e-9, (r, item)
        assert r["n"] == len(vs)
    # on dense data the interpolated exact is also within ~alpha
    assert all(r["rel_error"] <= 0.021 for r in out if r["g"] == "a")


def test_ddsketch_quantiles_excludes_nonpositive_and_guards(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by,
    )

    df = spark.createDataFrame(
        [("a", -5.0), ("a", 0.0), ("a", None), ("a", 10.0), ("a", 10.0)],
        "g string, v double",
    )
    out = ddsketch_quantiles_by(df, "g", F.col("v"), quantiles=(0.5,)).collect()
    assert len(out) == 1 and out[0]["n"] == 2  # only the positive rows
    with pytest.raises(ValueError, match="alpha"):
        ddsketch_quantiles_by(df, "g", F.col("v"), alpha=0.0)
    with pytest.raises(ValueError, match="quantiles"):
        ddsketch_quantiles_by(df, "g", F.col("v"), quantiles=(1.5,))


def test_ddsketch_cells_merge_by_addition(spark):
    """Mergeability measured: the sketch built from a pre-sharded
    union equals the sketch of the whole frame (bucket counts are an
    algebraic sum — there is no compactor state to reconcile)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by,
    )

    whole = spark.createDataFrame(
        [("a", float(i % 97 + 1)) for i in range(500)], "g string, v double"
    )
    shard1 = whole.filter(F.col("v") <= 50)
    shard2 = whole.filter(F.col("v") > 50)
    merged = shard1.unionByName(shard2)
    got_whole = {
        (r["g"], r["q"]): (r["n"], r["est_q"])
        for r in ddsketch_quantiles_by(whole, "g", F.col("v")).collect()
    }
    got_merged = {
        (r["g"], r["q"]): (r["n"], r["est_q"])
        for r in ddsketch_quantiles_by(merged, "g", F.col("v")).collect()
    }
    assert got_whole == got_merged


def test_bloom_filtered_join_value_identical_and_prunes(spark):
    """No false negatives: the Bloom-pruned join equals the plain join
    row-for-row (duplicates preserved), while pruning most of the big
    side map-side when the small side is selective."""
    from collections import Counter

    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_join,
    )

    big = spark.createDataFrame(
        [(i % 500, i) for i in range(3000)], "k long, v long"
    )
    small = spark.createDataFrame(
        [(k, f"s{k}") for k in range(0, 500, 25)], "k long, tag string"
    )  # 20 of 500 keys
    stats = {}
    out = bloom_filtered_join(big, small, "k", stats_out=stats)
    got = Counter((r["k"], r["v"], r["tag"]) for r in out.collect())
    want = Counter(
        (k, v, f"s{k}") for k, v in [(i % 500, i) for i in range(3000)]
        if k % 25 == 0
    )
    assert got == want
    assert stats["kept_rows"] >= 120  # the 120 true matches always pass
    assert stats["pruned_rows"] >= 2400  # ~96% of rows never shuffle
    assert stats["bloom_set_bits"] <= 3 * 20


def test_bloom_filtered_join_prune_is_pre_exchange(spark):
    """The membership test must sit under the scan, before any
    Exchange: the physical plan's first Exchange ancestors a Filter
    containing the bitset probe (no join/shuffle to test membership)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_join,
    )

    big = spark.createDataFrame([(i, i) for i in range(100)], "k long, v long")
    small = spark.createDataFrame([(1, "x")], "k long, t string")
    plan = (
        bloom_filtered_join(big, small, "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # membership is an expression filter (seeded-xxhash64 bit_get
    # conjunction), not a membership JOIN
    assert plan.count("Join") <= 2  # the final join (+AQE reprint slack)
    assert "bit_get" in plan and "xxhash64" in plan


def test_bloom_filtered_join_guards(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_join,
    )

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="power of two"):
        bloom_filtered_join(df, df, "k", m_bits=100)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_filtered_join(df, df, "k", n_hashes=0)


def test_key_skew_profile_hand_computed(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        key_skew_profile,
    )

    # key 'hot' x 8, 'b' x 1, 'c' x 1 -> n=10, keys=3, max=8
    df = spark.createDataFrame(
        [("hot",)] * 8 + [("b",), ("c",)], "k string"
    )
    r = key_skew_profile(df, F.col("k"), topk=2).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_key_rows"]) == (10, 3, 8)
    assert r["max_key_share"] == 0.8
    assert r["topk_share"] == 0.9  # hot + one of the singletons
    assert r["hhi"] == round(66 / 100, 6)  # (64 + 1 + 1) / 100
    assert r["effective_keys"] == round(100 / 66, 6)


def test_key_skew_profile_null_keys_and_guards(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        key_skew_profile,
    )

    df = spark.createDataFrame(
        [(None,), (None,), ("a",)], "k string"
    )
    r = key_skew_profile(df, F.col("k")).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_key_rows"]) == (3, 2, 2)
    with pytest.raises(ValueError, match="topk"):
        key_skew_profile(df, F.col("k"), topk=0)


def test_bloom_anti_join_value_identical_and_short_circuits(spark):
    """The Bloom-short-circuited anti join equals the plain left_anti
    row-for-row; most definitely-absent rows bypass the join."""
    from collections import Counter

    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_anti_join,
    )

    new = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000)], "k long, v string"
    )
    index = spark.createDataFrame(
        [(k,) for k in range(0, 1000, 20)], "k long"
    )  # 50 of 1000 keys are known
    stats = {}
    out = bloom_filtered_anti_join(new, index, "k", stats_out=stats)
    got = Counter((r["k"], r["v"]) for r in out.collect())
    want = Counter((i, f"v{i}") for i in range(1000) if i % 20 != 0)
    assert got == want
    assert stats["new_rows"] == 1000
    # 950 truly-new rows minus bounded false positives short-circuit
    assert stats["short_circuited"] >= 900
    assert stats["joined_rows"] <= 100


def test_bloom_anti_join_duplicate_new_rows_preserved(spark):
    """left_anti semantics: duplicates on the new side survive with
    their multiplicity; index-side duplicates don't matter."""
    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_anti_join,
    )

    new = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, v string"
    )
    index = spark.createDataFrame([(2,), (2,)], "k long")
    got = sorted(
        (r["k"], r["v"])
        for r in bloom_filtered_anti_join(new, index, "k").collect()
    )
    assert got == [(1, "a"), (1, "b")]


def test_range_partition_planner_balances_uniform(spark):
    """On a smooth column every bin's share lands near 1/n (within the
    sketch's alpha plus bucket granularity); edges are open-ended."""
    from capex_data_pipeline_spark.extensions.sketches import (
        range_partition_planner,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 10001)], "v double"
    )
    rows = sorted(
        range_partition_planner(df, F.col("v"), n_bins=4, alpha=0.01).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["bin"] for r in rows] == [0, 1, 2, 3]
    assert rows[0]["lo"] is None and rows[-1]["hi"] is None
    assert sum(r["n_rows"] for r in rows) == 10000
    for r in rows:
        assert abs(r["share"] - 0.25) < 0.04, r
    # boundaries are increasing
    his = [r["hi"] for r in rows[:-1]]
    assert his == sorted(his)


def test_range_partition_planner_atom_yields_empty_bin(spark):
    """A single value holding >half the rows cannot be split: adjacent
    boundaries collapse onto it and a middle bin comes back EMPTY —
    the report surfaces the limit instead of hiding it."""
    from capex_data_pipeline_spark.extensions.sketches import (
        range_partition_planner,
    )

    df = spark.createDataFrame(
        [(42.0,)] * 800 + [(float(i),) for i in range(100, 300)],
        "v double",
    )
    rows = sorted(
        range_partition_planner(df, F.col("v"), n_bins=4).collect(),
        key=lambda r: r["bin"],
    )
    assert sum(r["n_rows"] for r in rows) == 1000
    assert any(r["n_rows"] == 0 for r in rows[1:-1])  # collapsed bin
    assert max(r["n_rows"] for r in rows) >= 800      # the atom's bin


def test_range_partition_planner_guards(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        range_partition_planner,
    )

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="n_bins"):
        range_partition_planner(df, F.col("v"), n_bins=1)
    # r12: nonpositive input now raises the LOUD mixed-sign error
    # (formerly only the all-nonpositive case errored, and mixed-sign
    # input was silently halved — see test_round12_tasks.py)
    with pytest.raises(ValueError, match="rows with value <= 0"):
        range_partition_planner(
            spark.createDataFrame([(-1.0,)], "v double"), F.col("v")
        )


def test_hll_overlap_merge_equals_global_sketch(spark):
    """The register merge is exact by construction: merged_est equals
    the global single-stream HLL estimate, and the exact columns obey
    inclusion-exclusion."""
    from capex_data_pipeline_spark.extensions.sketches import (
        hll_cardinality,
        hll_overlap,
    )

    rows = (
        [("a", u) for u in range(300)]
        + [("b", u) for u in range(200, 500)]   # 100 shared with a
        + [("c", u) for u in range(1000, 1100)]  # disjoint
    )
    df = spark.createDataFrame(rows, "g string, u long")
    r = hll_overlap(df, "g", F.col("u"), b=6).collect()[0]
    glob = hll_cardinality(df, F.col("u"), b=6).collect()[0]
    assert r["n_groups"] == 3
    assert r["merged_est"] == glob["n_estimated"]  # merge == rescan
    assert r["sum_group_exact"] == 700
    assert r["union_exact"] == 600
    assert r["overlap_exact"] == 100
    # the estimate tracks the truth within HLL-at-b=6 noise (~13%/group)
    assert abs(r["overlap_est"] - 100) < 0.5 * 700
    with pytest.raises(ValueError, match="b must"):
        hll_overlap(df, "g", F.col("u"), b=0)


def test_winsorized_stats_tames_outliers(spark):
    """A group with a huge outlier: the winsorized mean sits near the
    bulk while the raw mean is dragged; clamp counts are honest."""
    from capex_data_pipeline_spark.extensions.sketches import (
        winsorized_stats_by,
    )

    rows = [("a", float(v)) for v in range(100, 200)] + [("a", 1e7)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = winsorized_stats_by(
        df, "g", F.col("v"), p_lo=0.05, p_hi=0.95
    ).collect()[0]
    assert r["n"] == 101
    assert r["raw_mean"] > 99000          # outlier drags the raw mean
    assert r["winsorized_mean"] < 250     # clamped mean stays in the bulk
    assert r["n_clamped_hi"] >= 1         # the outlier was clamped
    assert r["lo_cut"] < r["hi_cut"]
    with pytest.raises(ValueError, match="p_lo"):
        winsorized_stats_by(df, "g", F.col("v"), p_lo=0.9, p_hi=0.5)


def test_guarded_join_null_keys_excluded_from_preflight(spark):
    """NULL-keyed rows can never match an inner join, so they must not
    vote in the CMS pre-flight either: before the NULL-propagating key
    fix, concat_ws silently dropped the NULL component, both sides'
    NULL rows landed in the sketches as the same key, and the
    estimate could cross the threshold (or raise under 'error') for a
    join whose real output is tiny."""
    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    rows_a = [(None, i) for i in range(200)] + [(1, 0), (2, 0)]
    rows_b = [(None, -i) for i in range(200)] + [(1, 1), (2, 1)]
    a = spark.createDataFrame(rows_a, "k long, va long")
    b = spark.createDataFrame(rows_b, "k long, vb long")
    stats = {}
    # 200x200 phantom NULL pairs would blow through this threshold and
    # raise; the real join is 2 rows
    out = guarded_join(
        a, b, "k", est_threshold=100, over_strategy="error",
        stats_out=stats,
    )
    assert stats["strategy"] == "plain"
    assert stats["est_join_rows"] <= 100
    assert {(r["k"], r["va"], r["vb"]) for r in out.collect()} == {
        (1, 0, 1), (2, 0, 1)
    }


def test_guarded_join_multikey_partial_null_not_sketched(spark):
    """('a', NULL) vs ('a', '') must not cross-match in the sketches:
    any NULL component nulls the composite key and the row leaves the
    pre-flight (it can never match the inner join)."""
    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    rows_a = [("a", None, i) for i in range(100)] + [("a", "x", 0)]
    rows_b = [("a", "", -i) for i in range(100)] + [("a", "x", 1)]
    a = spark.createDataFrame(rows_a, "k1 string, k2 string, va long")
    b = spark.createDataFrame(rows_b, "k1 string, k2 string, vb long")
    stats = {}
    out = guarded_join(
        a, b, ["k1", "k2"], est_threshold=50, over_strategy="error",
        stats_out=stats,
    )
    assert stats["est_join_rows"] <= 50
    assert out.count() == 1


def test_armored_joins_reject_colliding_columns(spark):
    """Overlapping non-key columns and reserved internal names fail
    FAST with a clear ValueError instead of surfacing later as an
    opaque AMBIGUOUS_REFERENCE (or silently corrupting the salt)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        bloom_filtered_anti_join,
        bloom_filtered_join,
        guarded_join,
    )

    a = spark.createDataFrame([(1, 2)], "k long, v long")
    b = spark.createDataFrame([(1, 3)], "k long, v long")
    with pytest.raises(ValueError, match="disjoint"):
        guarded_join(a, b, "k", est_threshold=100)
    with pytest.raises(ValueError, match="disjoint"):
        bloom_filtered_join(a, b, "k")
    salted = spark.createDataFrame([(1, 2)], "k long, _salt long")
    with pytest.raises(ValueError, match="reserved"):
        guarded_join(salted, b.withColumnRenamed("v", "w"), "k",
                     est_threshold=100)
    bloomed = spark.createDataFrame([(1, 2)], "k long, _bloom long")
    with pytest.raises(ValueError, match="reserved"):
        bloom_filtered_join(bloomed, b.withColumnRenamed("v", "w"), "k")
    with pytest.raises(ValueError, match="reserved"):
        bloom_filtered_anti_join(bloomed, b, "k")
    c = spark.createDataFrame([(1, 2)], "count long, v long")
    with pytest.raises(ValueError, match="count"):
        guarded_join(c, c.withColumnRenamed("v", "w"), "count",
                     est_threshold=100)


def test_key_skew_profile_null_tie_breaks_nulls_last(spark):
    """A NULL key tying on count at the topk boundary resolves NULLS
    LAST (the ANSI/DuckDB ascending default the q162 oracle uses) —
    before the fix Spark's plain asc put NULL FIRST and topk_share
    diverged from the oracle."""
    from capex_data_pipeline_spark.extensions.sketches import (
        key_skew_profile,
    )

    rows = [(None,)] * 5 + [("a",)] * 5 + [("b",)] * 1
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_profile(df, F.col("k"), topk=1).collect()[0]
    # 'a' wins the tie over NULL; NULL still counts as a key elsewhere
    assert r["n_keys"] == 3 and r["n_rows"] == 11
    assert r["topk_share"] == round(5 / 11, 6)


def test_ddsketch_tiny_exact_quantile_keeps_rel_error_finite(spark):
    """Legal tiny positive values round exact_q to 0.0 at the default
    6 decimals; the floored denominator keeps rel_error a finite
    number instead of NULL/inf."""
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by,
    )

    df = spark.createDataFrame(
        [("a", 1e-9), ("a", 2e-9), ("a", 3e-9)], "g string, v double"
    )
    out = ddsketch_quantiles_by(df, "g", F.col("v"), quantiles=(0.5,)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["exact_q"] == 0.0
    assert r["rel_error"] is not None
    import math as _m

    assert _m.isfinite(r["rel_error"])


def test_ddsketch_signed_three_stores(spark):
    """Mirrored construction: negatives route to the mirrored store,
    exact zeros are counted exactly, and quantile picks land on the
    correct store with the correct sign."""
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by_signed,
    )

    rows = (
        [("a", float(-v)) for v in range(1, 51)]      # 50 negatives
        + [("a", 0.0)] * 10                            # 10 exact zeros
        + [("a", float(v)) for v in range(1, 41)]      # 40 positives
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["q"]: r
        for r in ddsketch_quantiles_by_signed(
            df, "g", F.col("v"), alpha=0.01, quantiles=(0.1, 0.5, 0.9)
        ).collect()
    }
    r = out[0.5]
    assert (r["n_neg"], r["n_zero"], r["n_pos"]) == (50, 10, 40)
    assert r["n"] == 100
    # rank 49 (floor(0.5*99)) is the 50th ascending value = the last
    # negative, -1: the DDSketch guarantee is vs the DATA POINT at the
    # rank (quantile_cont interpolates -0.5 across the zero crossing,
    # which no midpoint sketch can match — that's the documented
    # interpolation slack, largest exactly at sign boundaries)
    assert abs(out[0.5]["est_q"] - (-1.0)) <= 0.011
    # p10 deep in the negative tail, p90 positive; away from the
    # boundary the interpolated-exact comparison stays within ~alpha
    assert out[0.1]["est_q"] < 0
    assert out[0.9]["est_q"] > 0
    assert out[0.1]["rel_error"] <= 0.02
    assert out[0.9]["rel_error"] <= 0.02


def test_ddsketch_signed_zero_only_and_guards(spark):
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by_signed,
    )

    df = spark.createDataFrame([("z", 0.0)] * 5, "g string, v double")
    r = ddsketch_quantiles_by_signed(
        df, "g", F.col("v"), quantiles=(0.5,)
    ).collect()[0]
    assert r["est_q"] == 0.0 and r["exact_q"] == 0.0
    assert (r["n_neg"], r["n_zero"], r["n_pos"]) == (0, 5, 0)
    with pytest.raises(ValueError, match="alpha"):
        ddsketch_quantiles_by_signed(df, "g", F.col("v"), alpha=1.5)
    with pytest.raises(ValueError, match="quantiles"):
        ddsketch_quantiles_by_signed(df, "g", F.col("v"), quantiles=(1.5,))


def test_ddsketch_signed_matches_unsigned_on_positive_data(spark):
    """On an all-positive column the signed sketch must reproduce the
    unsigned one exactly (same buckets, same picks)."""
    from capex_data_pipeline_spark.extensions.sketches import (
        ddsketch_quantiles_by,
        ddsketch_quantiles_by_signed,
    )

    rows = [("g", float(v) * 1.7 + 0.3) for v in range(1, 200)]
    df = spark.createDataFrame(rows, "g string, v double")
    uns = {
        (r["q"]): (r["n"], r["est_q"], r["exact_q"])
        for r in ddsketch_quantiles_by(df, "g", F.col("v")).collect()
    }
    sig = {
        (r["q"]): (r["n"], r["est_q"], r["exact_q"])
        for r in ddsketch_quantiles_by_signed(df, "g", F.col("v")).collect()
    }
    assert uns == sig


def test_guarded_join_semi_anti_match_plain_under_salt(spark):
    """how='left_semi'/'left_anti' must return the plain join's exact
    row multiset under BOTH strategies; NULL probe keys follow SQL
    semantics (semi drops them, anti keeps them); cap is rejected."""
    from capex_data_pipeline_spark.extensions.sketches import guarded_join

    a = spark.createDataFrame(
        [(i % 5, i) for i in range(400)]
        + [(99, i) for i in range(250)]
        + [(None, -1), (None, -2)],
        "k long, va long",
    )
    b = spark.createDataFrame([(1,), (3,), (99,), (None,)], "k long")
    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    for how in ("left_semi", "left_anti"):
        plain = rows(a.join(b, "k", how))
        for thr in (10**9, 0):  # plain route, then forced salt route
            st: dict = {}
            got = rows(
                guarded_join(
                    a, b, "k",
                    est_threshold=thr,
                    n_salt=4,
                    hot_key_rows=50,
                    stats_out=st,
                    how=how,
                )
            )
            assert got == plain, (how, thr)
            assert st["strategy"] == ("plain" if thr else "salt")
    # NULL keys: anti keeps them, semi drops them
    anti = {tuple(r) for r in guarded_join(
        a, b, "k", est_threshold=0, hot_key_rows=50, how="left_anti"
    ).collect()}
    assert (None, -1) in anti and (None, -2) in anti
    with pytest.raises(ValueError, match="cap"):
        guarded_join(a, b, "k", est_threshold=0, over_strategy="cap",
                     max_rows_per_key=5, how="left_semi")
    with pytest.raises(ValueError, match="how"):
        guarded_join(a, b, "k", est_threshold=0, how="full")
    # semi/anti skip the non-key overlap guard (B's columns never
    # surface) but still reject reserved names on the probe side
    a2 = spark.createDataFrame([(1, 2)], "k long, v long")
    b2 = spark.createDataFrame([(1, 3)], "k long, v long")
    assert guarded_join(
        a2, b2, "k", est_threshold=10, how="left_semi"
    ).count() == 1


def test_join_graph_profile_ranks_and_one_sided(spark):
    """Plan rank = ascending estimated output (ties by edge name); the
    CMS estimate keeps its one-sided guarantee (est >= exact) on every
    edge; disjoint-key edges estimate down to ~0 and rank first."""
    from capex_data_pipeline_spark.extensions.sketches import (
        join_graph_profile,
    )

    a = spark.createDataFrame([(i % 10,) for i in range(200)], "k long")
    b = spark.createDataFrame([(i % 10,) for i in range(100)], "k long")
    c = spark.createDataFrame([(1000 + i,) for i in range(50)], "k long")
    rows = {
        r["edge"]: r
        for r in join_graph_profile(
            [
                ("a-b", a, F.col("k"), b, F.col("k")),
                ("a-c", a, F.col("k"), c, F.col("k")),
            ]
        ).collect()
    }
    ab, ac = rows["a-b"], rows["a-c"]
    assert ab["exact_join_rows"] == 200 * 100 // 10  # 10 keys x 20 x 10
    assert ac["exact_join_rows"] == 0
    for r in rows.values():  # one-sided: never underestimates
        assert r["est_join_rows"] >= r["exact_join_rows"]
    assert (ab["n_left"], ab["n_right"]) == (200, 100)
    # the empty edge must rank first (smallest estimate)
    assert ac["plan_rank"] == 1 and ab["plan_rank"] == 2
    with pytest.raises(ValueError, match="edges"):
        join_graph_profile([])


def test_table_stats_counts_and_ndv(spark):
    """Hand-verifiable stats: NULL counting, null_frac, avg rendered
    width, exact NDV, an all-NULL column surfacing with ndv 0, and the
    HLL estimate's near-exactness at tiny cardinality."""
    from capex_data_pipeline_spark.extensions.sketches import table_stats

    rows = [(i, "x" * (i % 3 + 1) if i % 4 else None, None) for i in range(40)]
    df = spark.createDataFrame(rows, "a long, s string, z string")
    out = {r["column_name"]: r for r in table_stats(df, ["a", "s", "z"]).collect()}
    assert out["a"]["n_rows"] == 40 and out["a"]["n_null"] == 0
    assert out["a"]["ndv_exact"] == 40
    assert out["s"]["n_null"] == 10 and out["s"]["null_frac"] == 0.25
    assert out["s"]["ndv_exact"] == 3  # 'x', 'xx', 'xxx'
    # the estimator is the documented RAW HLL (q126: no small-range
    # correction), which biases high at tiny n — assert presence +
    # determinism, not tightness (rel_error surfaces the bias loudly)
    assert out["s"]["ndv_est"] > 0
    assert out["s"]["ndv_rel_error"] is not None
    assert out["s"]["avg_len"] == 2.0
    assert out["z"]["n_null"] == 40 and out["z"]["ndv_exact"] == 0
    assert out["z"]["ndv_est"] == 0.0 and out["z"]["avg_len"] is None
    with pytest.raises(ValueError, match="cols"):
        table_stats(df, [])


# ------------------------------------- exact targeted quantiles (q181)


def test_exact_quantiles_differential(spark):
    """Exact-rank parity with Python sorted() under the ceil(p*n)
    discrete convention, on data with heavy duplicates (single-bucket
    pileups) and NULLs."""
    import math
    import random

    from capex_data_pipeline_spark.extensions.sketches import exact_quantiles

    rng = random.Random(181)
    vals = [rng.uniform(-50, 50) for _ in range(800)]
    vals += [7.25] * 300 + [None] * 40  # pileup + nulls
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    ps = [0.01, 0.5, 0.77, 0.99, 1.0]
    got = {
        r["p"]: (r["rank"], r["value"])
        for r in exact_quantiles(df, "x", ps, n_buckets=16).collect()
    }
    clean = sorted(v for v in vals if v is not None)
    for p in ps:
        r = math.ceil(p * len(clean))
        assert got[p] == (r, clean[r - 1]), p


def test_exact_quantiles_edges(spark):
    """All-equal values, empty input, and p validation."""
    import pytest as _pt

    from capex_data_pipeline_spark.extensions.sketches import exact_quantiles

    same = spark.createDataFrame([(3.5,)] * 9, "x double")
    rows = exact_quantiles(same, "x", [0.5, 1.0]).collect()
    assert {(r["p"], r["rank"], r["value"]) for r in rows} == {
        (0.5, 5, 3.5), (1.0, 9, 3.5),
    }
    empty = spark.createDataFrame([], "x double")
    assert exact_quantiles(empty, "x", [0.5]).count() == 0
    with _pt.raises(ValueError):
        exact_quantiles(same, "x", [0.0])


# ------------------------------- FD profiling + incremental stats


def test_fd_profile_hand_computed(spark):
    """Known FDs on a tiny frame: id->v holds, g->v violates with the
    exact violation count and fan-out; NULLs are sentinel values (two
    NULL keys with different deps ARE a violation)."""
    from capex_data_pipeline_spark.extensions.sketches import fd_profile

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 10), (3, "a", 20), (4, "b", 30),
         (None, "c", 40), (None, "c", 50)],
        "id int, g string, v int",
    )
    got = {
        (r["determinant"], r["dependent"]): (
            r["n_keys"], r["violating_keys"], r["max_deps_per_key"],
            r["fd_holds"],
        )
        for r in fd_profile(df, [("g", "v"), ("v", "g"), ("id", "v")]).collect()
    }
    # g: a->{10,20} violates, c->{40,50} violates; b fine
    assert got[("g", "v")] == (3, 2, 2, False)
    # v: every value maps to one g
    assert got[("v", "g")] == (5, 0, 1, True)
    # id: NULL key maps to {40, 50} -> violation
    assert got[("id", "v")] == (5, 1, 2, False)


def test_table_stats_incremental_equals_direct(spark):
    """Merged per-partition cells == direct whole-table table_stats,
    value for value (the algebraic-merge certification), on data with
    NULLs and cross-partition duplicate values."""
    from pyspark.sql import functions as F

    from capex_data_pipeline_spark.extensions.sketches import (
        table_stats,
        table_stats_incremental,
    )

    rows = [(i, i % 7, ["x", "yy", None][i % 3]) for i in range(500)]
    df = spark.createDataFrame(rows, "id int, day int, s string")
    direct = sorted(map(tuple, table_stats(df, ["id", "s"]).collect()))
    inc = sorted(
        map(
            tuple,
            table_stats_incremental(
                df, ["id", "s"], partition=F.col("day")
            ).collect(),
        )
    )
    assert inc == direct


def test_column_topk_values_hand_computed(spark):
    """Exact counts/fractions, NULL as a value, and the pinned
    value-ascending tie-break at the k boundary."""
    from capex_data_pipeline_spark.extensions.sketches import (
        column_topk_values,
    )

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("c",), (None,)], "s string"
    )
    got = [
        (r["value"], r["n"], r["frac"], r["rank"])
        for r in sorted(
            column_topk_values(df, ["s"], k=3).collect(),
            key=lambda r: r["rank"],
        )
    ]
    # a(2) and b(2) tie -> 'a' first; then '<null>'(1) vs 'c'(1) tie
    # -> '<null>' < 'c' by string order
    assert got == [
        ("a", 2, round(2 / 6, 6), 1),
        ("b", 2, round(2 / 6, 6), 2),
        ("<null>", 1, round(1 / 6, 6), 3),
    ]


def test_group_exact_quantiles_differential(spark):
    """Per-group exact ranks vs Python sorted() under ceil(p*n_g),
    with a heavy-duplicate group, a tiny group, and a NULL group."""
    import math
    import random

    from capex_data_pipeline_spark.extensions.sketches import (
        group_exact_quantiles,
    )

    rng = random.Random(187)
    rows = [("a", rng.uniform(-10, 10)) for _ in range(400)]
    rows += [("b", 5.0)] * 50 + [("c", 1.25)] + [(None, float(i)) for i in range(9)]
    rows += [("a", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    ps = [0.5, 0.9, 1.0]
    got = {
        (r["g"], r["p"]): (r["rank"], r["value"])
        for r in group_exact_quantiles(df, "g", "x", ps, n_buckets=8).collect()
    }
    groups = {}
    for g, x in rows:
        if x is not None:
            groups.setdefault(g, []).append(x)
    expect = {}
    for g, vals in groups.items():
        vals.sort()
        for p in ps:
            r = math.ceil(p * len(vals))
            expect[(g, p)] = (r, vals[r - 1])
    assert got == expect


def test_group_exact_quantiles_guards(spark):
    import pytest as _pt

    from capex_data_pipeline_spark.extensions.sketches import (
        group_exact_quantiles,
    )

    df = spark.createDataFrame([(str(i), float(i)) for i in range(30)],
                               "g string, x double")
    with _pt.raises(ValueError, match="max_groups"):
        group_exact_quantiles(df, "g", "x", [0.5], max_groups=10)
    with _pt.raises(ValueError, match="outside"):
        group_exact_quantiles(df, "g", "x", [1.5])
    empty = spark.createDataFrame([], "g string, x double")
    assert group_exact_quantiles(empty, "g", "x", [0.5]).count() == 0


def test_group_mad_outliers_hand_computed(spark):
    """Planted contamination: median/MAD ignore the outliers, the
    report counts exactly the planted rows; an all-equal group has
    MAD 0 and flags every deviating row."""
    from capex_data_pipeline_spark.extensions.sketches import (
        group_mad_outliers,
    )

    g1 = [("s", float(v)) for v in [10, 11, 12, 13, 14, 15, 16]]
    g1 += [("s", 1000.0), ("s", -1000.0)]  # contamination
    g2 = [("t", 7.0)] * 5 + [("t", 7.5)]
    df = spark.createDataFrame(g1 + g2, "g string, x double")
    got = {
        r["g"]: (r["n"], r["median"], r["mad"], r["n_outliers"],
                 r["outlier_frac"])
        for r in group_mad_outliers(df, "g", "x", cutoff=3.0).collect()
    }
    # g1 sorted: [-1000,10..16,1000], n=9 -> rank ceil(4.5)=5 -> 13
    # devs sorted: [0,1,1,2,2,3,3,987,1013] -> median dev = 2
    # outliers: dev > 6 -> the two planted rows
    assert got["s"] == (9, 13.0, 2.0, 2, round(2 / 9, 6))
    # g2: n=6 -> rank 3 -> 7.0; devs [0,0,0,0,0,.5] -> mad 0;
    # dev > 0 -> the 7.5 row
    assert got["t"] == (6, 7.0, 0.0, 1, round(1 / 6, 6))


def test_group_exact_quantiles_cells_budget_guard(spark):
    """groups x n_buckets above the driver histogram budget raises
    loudly instead of collecting millions of cells."""
    import pytest as _pt

    from capex_data_pipeline_spark.extensions.sketches import (
        group_exact_quantiles,
    )

    df = spark.createDataFrame(
        [(str(i), float(i)) for i in range(60)], "g string, x double"
    )
    with _pt.raises(ValueError, match="5M-cell"):
        group_exact_quantiles(
            df, "g", "x", [0.5], n_buckets=100_000, max_groups=100_000
        )


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


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
