"""Extension operators: dedup tiers, similarity search, multimodal
plumbing — behavioral tests on constructed corpora with known ground
truth (the cross-engine value checks live in scripts/check_contract.py
and the driver's oracle gate)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from capex_data_pipeline_spark.extensions.dedup import (
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash60,
    simhash_near_dups,
)
from capex_data_pipeline_spark.extensions.multimodal import (
    _fake_decode,
    decode_bmp,
    decode_media,
    decode_wav,
    documents_as_media,
    frame_sample,
    stdlib_decode,
)
from capex_data_pipeline_spark.extensions.similarity import cosine_topk, srp_lsh_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "src0"),
        (1, BASE, "src0"),  # exact duplicate of 0
        (2, BASE.replace("lazy", "sleepy"), "src0"),  # near-dup of 0
        (3, "completely different text about spark query engines and shuffles", "src0"),
        (4, "the quick brown fox jumps over the lazy dog", "src1"),  # prefix, other block
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_exact_dedup(docs):
    out = exact_dedup(docs).collect()
    groups = {r.fingerprint: (r.keeper_id, r.n_docs) for r in out}
    dup_group = [g for g in groups.values() if g[1] == 2]
    assert dup_group == [(0, 2)]  # docs 0 and 1 collapse, keeper = min id
    assert len(out) == 4


def test_minhash_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_dups(docs, num_hashes=16, bands=8, threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical text
    assert (0, 2) in pairs  # one-word edit
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_hamming(docs, spark):
    vals = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", simhash60("text").alias("sh")).collect()
    }
    assert vals[0] == vals[1]  # identical docs, identical sketch
    ham02 = bin(vals[0] ^ vals[2]).count("1")
    ham03 = bin(vals[0] ^ vals[3]).count("1")
    assert ham02 < ham03  # near-dup closer than unrelated
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_dups(docs, max_hamming=ham02).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs


def test_ngram_jaccard_blocks(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, block_col="source", k=3, threshold=0.1, num_hashes=16, bands=8
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    # doc 4 shares text with 0 but sits in another blocking key
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_lsh_candidates_global(docs):
    # without a block column, candidates come purely from the MinHash
    # band join — the near-identical pair still surfaces, and scores are
    # the EXACT set Jaccard (not the signature estimate)
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, k=3, threshold=0.1, num_hashes=16, bands=8
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0


def test_banding_derived_from_threshold():
    from capex_data_pipeline_spark.extensions.dedup import banding_for_threshold

    # S-curve midpoint (1/b)^(b/n): for n=16 the divisor midpoints are
    # b=1 -> 1.0, b=2 -> .917, b=4 -> .707, b=8 -> .354, b=16 -> .0625
    assert banding_for_threshold(16, 0.9) == 2
    assert banding_for_threshold(16, 0.7) == 4
    assert banding_for_threshold(16, 0.5) == 8  # below-threshold tie bias
    assert banding_for_threshold(16, 0.35) == 8
    assert banding_for_threshold(16, 0.1) == 16
    # an explicit band count must divide num_hashes
    with pytest.raises(ValueError, match="must divide"):
        ngram_jaccard_pairs(None, num_hashes=16, bands=5)


def test_ngram_jaccard_default_banding(docs):
    # bands=None derives the banding from the threshold; at 0.1 that's
    # one row per band (midpoint 0.0625) — maximal recall, so the known
    # near-dup pairs must surface with their exact scores
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.1, num_hashes=16).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0


def test_embedding_neardup_identical_vectors(spark):
    from capex_data_pipeline_spark.extensions.dedup import embedding_near_dups

    rows = [
        (0, [1.0, 0.0, 0.5, 0.25] * 16),
        (1, [1.0, 0.0, 0.5, 0.25] * 16),  # identical -> cosine 1.0
        (2, [-1.0, 0.5, -0.5, 1.0] * 16),  # far away
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r.id_a, r.id_b): r.cosine for r in embedding_near_dups(df, dim=64).collect()}
    # identical vectors share every SRP bucket -> always a candidate
    assert out == {(0, 1): 1.0}


@pytest.fixture(scope="module")
def emb(spark):
    from capex_data_pipeline_spark.sources.parquet import read_table

    return read_table(spark, "/root/testdata/sf0.001", "embeddings").withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )


def test_ann_rerank_is_exact_and_recall_positive(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = srp_lsh_topk(emb, queries, k=10, dim=64, n_bits=8, n_tables=2).collect()
    all_cos = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=10_000).collect()
    }
    for r in approx:  # re-ranked scores must be the exact cosine
        assert all_cos[(r.query_id, r.neighbor_id)] == r.cosine
    recall_hits = sum(1 for r in approx if (r.query_id, r.neighbor_id) in exact)
    assert recall_hits > 0  # LSH finds at least some true top-10 neighbors


def test_ivf_rerank_exact_and_good_recall(emb):
    from capex_data_pipeline_spark.extensions.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    all_cos = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=10_000).collect()
    }

    def recall_at(nprobe: int) -> float:
        approx = ivf_topk(emb, queries, k=10, n_cells=16, nprobe=nprobe).collect()
        for r in approx:  # re-ranked scores must be the exact cosine
            assert all_cos[(r.query_id, r.neighbor_id)] == r.cosine
        return sum(1 for r in approx if (r.query_id, r.neighbor_id) in exact) / len(
            exact
        )

    r4, r16 = recall_at(4), recall_at(16)
    # probing the 4 nearest of 16 cells should recover a decent share of
    # the true top-10 (the quantizer clusters by direction)
    assert r4 >= 0.3
    # probing EVERY cell scans the whole corpus: the re-rank is exact, so
    # recall must be exactly 1.0 — a quantizer that drops vectors (cell
    # assignment bug, lost partition) fails here
    assert r16 == 1.0
    # more probes can only widen the candidate set
    assert r16 >= r4


def test_multimodal_decode_roundtrip(spark, docs):
    media = documents_as_media(docs.select("doc_id", "text"))
    decoded = {r.media_id: r for r in decode_media(media, fake=True).collect()}
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    for mid, payload in payloads.items():
        w, h, nf, feats = _fake_decode(payload)
        row = decoded[mid]
        assert (row.width, row.height, row.n_frames) == (w, h, nf)
        # features travel as float32; compare within float32 tolerance
        assert row.features == pytest.approx(feats, abs=1e-6)
        assert len(row.features) == 16


def test_multimodal_real_decode_is_stubbed(docs):
    media = documents_as_media(docs.select("doc_id", "text"))
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        decode_media(media, fake=False).collect()


def test_multimodal_decoder_is_injectable(docs):
    """The injection seam: a user-supplied bytes->tuple callable runs
    inside the Arrow batches without touching engine code — the path a
    user with real media libraries takes."""

    def _header_decoder(payload: bytes) -> tuple[int, int, int, list[float]]:
        # stand-in for a user's real decoder (e.g. a Pillow wrapper);
        # nested so cloudpickle ships it by value, same contract
        return (
            payload[0] if payload else 0,
            payload[-1] if payload else 0,
            3,
            [float(len(payload))] * 16,
        )

    media = documents_as_media(docs.select("doc_id", "text"))
    decoded = {
        r.media_id: r for r in decode_media(media, decoder=_header_decoder).collect()
    }
    for r in media.collect():
        payload = bytes(r.payload)
        row = decoded[r.media_id]
        assert (row.width, row.height, row.n_frames) == (
            payload[0],
            payload[-1],
            3,
        )
        assert row.features == [float(len(payload))] * 16


def _make_bmp(width: int, height: int, pixel_fn) -> tuple[bytes, bytes]:
    """Independent reference BMP writer (24-bpp BI_RGB, bottom-up):
    returns (file_bytes, padded_pixel_array) so tests can compute
    expected features without going through the decoder under test."""
    import struct

    stride = ((width * 24 + 31) // 32) * 4
    rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            b, g, r = pixel_fn(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    pixels = b"".join(rows)
    data_offset = 14 + 40
    file_header = struct.pack(
        "<2sIHHI", b"BM", data_offset + len(pixels), 0, 0, data_offset
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return file_header + dib + pixels, pixels


def _make_wav(samples: list[int], n_channels: int, framerate: int) -> bytes:
    """Independent reference WAV writer: 16-bit PCM via the stdlib
    ``wave`` module (samples interleaved across channels)."""
    import array
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(2)
        wf.setframerate(framerate)
        wf.writeframes(array.array("h", samples).tobytes())
    return buf.getvalue()


def _expected_feats(values, scale):
    return [
        round(sum(values[i::16]) / (len(values[i::16]) or 1) / scale, 6)
        for i in range(16)
    ]


def test_decode_bmp_real_bytes():
    """A genuine 24-bpp BMP byte stream — header fields and raw pixel
    statistics asserted against the independent writer's values."""
    payload, pixels = _make_bmp(5, 3, lambda x, y: (x * 10, y * 20, 200))
    w, h, nf, feats = decode_bmp(payload)
    assert (w, h, nf) == (5, 3, 1)
    assert feats == pytest.approx(_expected_feats(pixels, 255.0), abs=1e-9)

    # top-down BMPs store height negative; dimensions must normalize
    import struct

    top_down = bytearray(payload)
    struct.pack_into("<i", top_down, 22, -3)
    assert decode_bmp(bytes(top_down))[:2] == (5, 3)

    with pytest.raises(ValueError, match="magic"):
        decode_bmp(b"PNG" + payload[3:])
    compressed = bytearray(payload)
    struct.pack_into("<I", compressed, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError, match="BI_RGB"):
        decode_bmp(bytes(compressed))
    with pytest.raises(ValueError, match="shorter"):
        decode_bmp(payload[:-8])


def test_decode_wav_real_bytes():
    """A genuine 16-bit PCM WAV written by the stdlib wave module —
    rate/channels/frames and amplitude features asserted against the
    construction."""
    samples = [int(1000 * ((i % 20) - 10)) for i in range(400)]  # 2ch interleaved
    payload = _make_wav(samples, n_channels=2, framerate=8000)
    rate, channels, n_frames, feats = decode_wav(payload)
    assert (rate, channels, n_frames) == (8000, 2, 200)
    assert feats == pytest.approx(
        _expected_feats([abs(s) for s in samples], 32768.0), abs=1e-9
    )


def _make_png(width, height, pixel_rows, color=2, depth=8, filters=None,
              interlace=0, palette=None):
    """Independent reference PNG writer: struct chunks + zlib IDAT,
    with the FORWARD filter applied per row (the inverse of what the
    decoder under test reconstructs). ``pixel_rows`` is a list of raw
    scanline byte sequences (already packed for the depth)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bpp = max(1, channels * depth // 8)
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytearray(len(pixel_rows[0]))
    for y, row in enumerate(pixel_rows):
        row = bytearray(row)
        ft = filters[y]
        out = bytearray(row)
        if ft == 1:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                out[i] = (row[i] - a) & 0xFF
        elif ft == 2:
            for i in range(len(row)):
                out[i] = (row[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                out[i] = (row[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (row[i] - pred) & 0xFF
        raw += bytes([ft]) + out
        prev = row

    def chunk(ctype, data):
        c = struct.pack(">I", len(data)) + ctype + data
        return c + struct.pack(">I", zlib.crc32(ctype + data))

    ihdr = struct.pack(">IIBBBBB", width, height, depth, color, 0, 0, interlace)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", palette)
    png += chunk(b"IDAT", zlib.compress(bytes(raw)))
    png += chunk(b"IEND", b"")
    return png


def test_decode_png_all_filters():
    """Genuine PNG bytes, one row per filter type (None/Sub/Up/Average/
    Paeth) — the decoder must invert the forward filtering applied by
    the independent writer and reproduce the ORIGINAL pixel bytes'
    statistics."""
    from capex_data_pipeline_spark.extensions.multimodal import decode_png

    width, height = 6, 5
    rows = [
        bytes((x * 7 + y * 31 + c * 13) % 256 for x in range(width) for c in range(3))
        for y in range(height)
    ]
    payload = _make_png(width, height, rows, color=2, filters=[0, 1, 2, 3, 4])
    w, h, nf, feats = decode_png(payload)
    assert (w, h, nf) == (width, height, 1)
    assert feats == pytest.approx(_expected_feats(b"".join(rows), 255.0), abs=1e-9)


def test_decode_png_gray_and_rgba_and_palette():
    from capex_data_pipeline_spark.extensions.multimodal import decode_png

    gray = [bytes((x * y) % 256 for x in range(9)) for y in range(4)]
    p = _make_png(9, 4, gray, color=0, filters=[4, 4, 4, 4])
    assert decode_png(p)[:2] == (9, 4)
    assert decode_png(p)[3] == pytest.approx(
        _expected_feats(b"".join(gray), 255.0), abs=1e-9
    )

    rgba = [bytes((x + c) % 256 for x in range(3) for c in range(4))
            for _ in range(2)]
    p = _make_png(3, 2, rgba, color=6, filters=[1, 2])
    assert decode_png(p)[:2] == (3, 2)

    # 4-bit palette: 5 px/row pack into 3 bytes (stride math)
    pal_rows = [bytes([0x01, 0x23, 0x40]), bytes([0xab, 0xcd, 0xe0])]
    p = _make_png(5, 2, pal_rows, color=3, depth=4,
                  palette=bytes(range(48)), filters=[0, 2])
    assert decode_png(p)[:2] == (5, 2)
    assert decode_png(p)[3] == pytest.approx(
        _expected_feats(b"".join(pal_rows), 255.0), abs=1e-9
    )


def test_decode_png_rejects_bad_inputs():
    from capex_data_pipeline_spark.extensions.multimodal import decode_png

    rows = [bytes(range(12)) for _ in range(2)]
    good = _make_png(4, 2, rows, color=2)
    with pytest.raises(ValueError, match="magic"):
        decode_png(b"XXXX" + good[4:])
    with pytest.raises(ValueError, match="interlaced|Adam7"):
        decode_png(_make_png(4, 2, rows, color=2, interlace=1))
    with pytest.raises(ValueError, match="inflate"):
        decode_png(good[:-30] + b"\x00" * 30)  # corrupt the IDAT tail
    with pytest.raises(ValueError, match="IHDR"):
        decode_png(b"\x89PNG\r\n\x1a\n")


def test_stdlib_decode_dispatch():
    bmp, _ = _make_bmp(4, 4, lambda x, y: (x, y, x + y))
    wav = _make_wav([0, 100, -100, 200], n_channels=1, framerate=16000)
    png = _make_png(4, 2, [bytes(range(12)) for _ in range(2)], color=2)
    assert stdlib_decode(bmp)[:3] == (4, 4, 1)
    assert stdlib_decode(wav)[:3] == (16000, 1, 4)
    assert stdlib_decode(png)[:3] == (4, 2, 1)
    # PNG magic now routes to the real decoder, which rejects garbage
    with pytest.raises(ValueError, match="PNG"):
        stdlib_decode(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(ValueError, match="unrecognized"):
        stdlib_decode(b"\x00GIF" + b"\x00" * 64)


def test_stdlib_decoder_through_spark(spark):
    """Real container bytes — BMP images and a PCM WAV — flow through
    the decode_media mapInPandas path with stdlib_decode injected; every
    decoded row matches the local decode of the same payload."""
    payloads = {
        1: _make_bmp(7, 5, lambda x, y: ((x * y) % 256, x, y))[0],
        2: _make_bmp(3, 9, lambda x, y: (255 - x, 128, y * 7 % 256))[0],
        3: _make_wav(list(range(-500, 500, 5)), n_channels=1, framerate=44100),
        4: _make_png(
            8,
            3,
            [bytes((x * 11 + y) % 256 for x in range(24)) for y in range(3)],
            color=2,
            filters=[0, 2, 4],
        ),
    }
    media = spark.createDataFrame(
        [
            (mid, bytearray(p), "image/bmp" if p[:2] == b"BM" else "audio/wav")
            for mid, p in payloads.items()
        ],
        "media_id long, payload binary, mime string",
    )
    decoded = {
        r.media_id: r
        for r in decode_media(media, decoder=stdlib_decode).collect()
    }
    assert set(decoded) == set(payloads)
    for mid, payload in payloads.items():
        w, h, nf, feats = stdlib_decode(payload)
        row = decoded[mid]
        assert (row.width, row.height, row.n_frames) == (w, h, nf)
        assert row.features == pytest.approx(feats, abs=1e-6)


def test_frame_sample(docs):
    media = documents_as_media(docs.select("doc_id", "text"))
    decoded = decode_media(media, fake=True)
    n_frames = {r.media_id: r.n_frames for r in decoded.collect()}
    sampled = frame_sample(decoded, every_n=2).collect()
    per_doc: dict[int, list[int]] = {}
    for r in sampled:
        per_doc.setdefault(r.media_id, []).append(r.frame_idx)
    for mid, frames in per_doc.items():
        assert sorted(frames) == list(range(0, n_frames[mid], 2))


def test_minhash_bucket_cap_drops_degenerate_cluster(spark):
    """max_bucket_size is the 100 TB armor: a degenerate cluster (many
    identical docs -> one band bucket of size n -> ~n^2/2 candidate
    pairs) is excluded when capped, while genuine small-bucket pairs
    survive; with the cap off results are exhaustive."""
    from capex_data_pipeline_spark.extensions.dedup import minhash_near_dups

    boiler = [(i, "lorem ipsum dolor sit amet boilerplate page") for i in range(30)]
    pair = [
        (100, "a unique document about distributed query engines"),
        (101, "a unique document about distributed query engine"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    uncapped = minhash_near_dups(df, threshold=0.5)
    got_all = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (100, 101) in got_all
    assert sum(1 for a, b in got_all if a < 100 and b < 100) == 30 * 29 // 2

    capped = minhash_near_dups(df, threshold=0.5, max_bucket_size=10)
    got_capped = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got_capped  # small buckets unaffected
    assert not [p for p in got_capped if p[0] < 100 and p[1] < 100]


def test_embedding_bucket_cap_drops_degenerate_cluster(spark):
    from capex_data_pipeline_spark.extensions.dedup import embedding_near_dups

    dim = 8
    # 25 identical vectors (one mega-bucket) + one distinct near-dup pair
    mega = [(i, [1.0] * dim) for i in range(25)]
    v = [0.9, -0.4, 0.3, 0.8, -0.2, 0.1, 0.5, -0.7]
    v2 = [x + 0.01 for x in v]
    df = spark.createDataFrame(
        mega + [(100, v), (101, v2)], "vec_id long, embedding array<double>"
    )
    uncapped = embedding_near_dups(df, threshold=0.9, dim=dim)
    got_all = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (100, 101) in got_all
    assert sum(1 for a, b in got_all if a < 100 and b < 100) == 25 * 24 // 2

    capped = embedding_near_dups(df, threshold=0.9, dim=dim, max_bucket_size=5)
    got_capped = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got_capped
    assert not [p for p in got_capped if p[0] < 100 and p[1] < 100]


def test_dedup_clusters_connected_components(spark):
    """Pairs (1,2),(2,3) must collapse into ONE cluster {1,2,3} (the
    transitive case naive pair-wise deletion gets wrong), (10,11) is its
    own cluster, and corpus docs with no pair are singleton keepers."""
    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    corpus = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_keeper)
        for r in dedup_clusters(pairs, corpus=corpus).collect()
    }
    assert got == {
        1: (1, 3, True),
        2: (1, 3, False),
        3: (1, 3, False),
        10: (10, 2, True),
        11: (10, 2, False),
        99: (99, 1, True),
    }

    # without a corpus: only paired docs appear
    paired_only = {
        r.doc_id for r in dedup_clusters(pairs).collect()
    }
    assert paired_only == {1, 2, 3, 10, 11}


def test_dedup_clusters_long_chain_and_iteration_bound(spark):
    """A chain 0-1-2-...-9 converges (diameter rounds) to one cluster;
    an insufficient max_iter must raise, never return a split labeling
    (unconverged labels silently over-keep)."""
    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    out = dedup_clusters(chain).collect()
    assert {r.cluster_id for r in out} == {0}
    assert all(r.cluster_size == 10 for r in out)
    assert sorted(r.doc_id for r in out if r.is_keeper) == [0]

    with pytest.raises(ValueError, match="no fixpoint"):
        dedup_clusters(chain, max_iter=2)


def test_bucket_cap_reports_excluded_counts(spark, caplog):
    """No-silent-caps: cap_stats={} surfaces exactly what the cap
    dropped. 30 identical docs share all 4 band buckets (identical
    signatures), so capping at 10 excludes 4 buckets x 30 rows; the
    small genuine-pair buckets are untouched and a warning is logged."""
    import logging

    from capex_data_pipeline_spark.extensions.dedup import minhash_near_dups

    boiler = [(i, "lorem ipsum dolor sit amet boilerplate page") for i in range(30)]
    pair = [
        (100, "a unique document about distributed query engines"),
        (101, "a unique document about distributed query engine"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    stats: dict = {}
    with caplog.at_level(logging.WARNING, "capex_data_pipeline_spark.extensions.dedup"):
        got = {
            (r.id_a, r.id_b)
            for r in minhash_near_dups(
                df, threshold=0.5, max_bucket_size=10, cap_stats=stats
            ).collect()
        }
    assert (100, 101) in got
    assert stats == {"excluded_buckets": 4, "excluded_rows": 120}
    assert any("excluded 4 bucket(s) / 120 row(s)" in r.message for r in caplog.records)

    # nothing over the cap -> zero counts, no warning
    stats2: dict = {}
    caplog.clear()
    with caplog.at_level(logging.WARNING, "capex_data_pipeline_spark.extensions.dedup"):
        minhash_near_dups(
            df, threshold=0.5, max_bucket_size=1000, cap_stats=stats2
        ).collect()
    assert stats2 == {"excluded_buckets": 0, "excluded_rows": 0}
    assert not caplog.records


def test_bucket_cap_stats_populated_by_all_generators(spark):
    """Every capped generator exposes the same cap_stats out-param and
    reports a nonzero drop on a degenerate corpus."""
    from capex_data_pipeline_spark.extensions.dedup import (
        embedding_near_dups,
        minhash_near_dups,
        ngram_jaccard_pairs,
        simhash_near_dups,
    )

    boiler = [(i, "lorem ipsum dolor sit amet boilerplate page") for i in range(20)]
    docs = spark.createDataFrame(
        boiler + [(100, "a unique document about distributed query engines")],
        "doc_id long, text string",
    )
    dim = 8
    vecs = spark.createDataFrame(
        [(i, [1.0] * dim) for i in range(20)] + [(100, [0.9, -0.4, 0.3, 0.8, -0.2, 0.1, 0.5, -0.7])],
        "vec_id long, embedding array<double>",
    )
    for fn, frame, kwargs in (
        (minhash_near_dups, docs, {"threshold": 0.5}),
        (simhash_near_dups, docs, {"max_hamming": 3}),
        (ngram_jaccard_pairs, docs, {"threshold": 0.3, "k": 2}),
        (embedding_near_dups, vecs, {"threshold": 0.9, "dim": dim}),
    ):
        stats: dict = {}
        fn(frame, max_bucket_size=5, cap_stats=stats, **kwargs).collect()
        assert stats["excluded_buckets"] > 0, fn.__name__
        assert stats["excluded_rows"] >= 20, fn.__name__


def test_simhash_and_ngram_bucket_caps(spark):
    """The cap is uniform across all four candidate generators: a
    degenerate cluster's pairs disappear under the cap while a genuine
    near-dup pair survives, for simhash segments and ngram bands too."""
    from capex_data_pipeline_spark.extensions.dedup import (
        ngram_jaccard_pairs,
        simhash_near_dups,
    )

    boiler = [(i, "lorem ipsum dolor sit amet boilerplate page") for i in range(20)]
    pair = [
        (100, "a unique document about distributed query engines"),
        (101, "a unique document about distributed query engine"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    for fn, kwargs in (
        (simhash_near_dups, {"max_hamming": 20}),
        (ngram_jaccard_pairs, {"threshold": 0.3, "k": 2}),
    ):
        uncapped = {(r.id_a, r.id_b) for r in fn(df, **kwargs).collect()}
        assert (100, 101) in uncapped, fn.__name__
        assert any(a < 100 and b < 100 for a, b in uncapped), fn.__name__
        capped = {
            (r.id_a, r.id_b)
            for r in fn(df, max_bucket_size=10, **kwargs).collect()
        }
        assert (100, 101) in capped, fn.__name__
        assert not [p for p in capped if p[0] < 100 and p[1] < 100], fn.__name__


def test_dedup_clusters_matches_union_find_oracle(spark):
    """Randomized differential check: min-label propagation on random
    graphs must equal a classic driver-side union-find on the same
    edges (cluster id = component min, sizes and keepers included)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters

    n_nodes = 24

    def union_find(edges, nodes):
        parent = {u: u for u in nodes}

        def find(u):
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp: dict[int, list[int]] = {}
        for u in nodes:
            comp.setdefault(find(u), []).append(u)
        out = {}
        for members in comp.values():
            cid = min(members)
            for u in members:
                out[u] = (cid, len(members), u == cid)
        return out

    @settings(max_examples=8, deadline=None)
    @given(
        st.sets(
            st.tuples(
                st.integers(0, n_nodes - 1), st.integers(0, n_nodes - 1)
            ).filter(lambda p: p[0] < p[1]),
            min_size=1,
            max_size=30,
        )
    )
    def prop(edge_set):
        edges = sorted(edge_set)
        nodes = list(range(n_nodes))
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        corpus = spark.createDataFrame([(u,) for u in nodes], "doc_id long")
        got = {
            r.doc_id: (r.cluster_id, r.cluster_size, r.is_keeper)
            for r in dedup_clusters(pairs, corpus=corpus).collect()
        }
        assert got == union_find(edges, nodes)

    prop()


def test_dedup_clusters_keeper_when_corpus_lacks_min_member(spark):
    """If the component's min-id doc is absent from the corpus (pairs
    generated before a filter), the cluster must still elect exactly
    one keeper — the min PRESENT member — not silently none."""
    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters

    pairs = spark.createDataFrame([(5, 7), (7, 9)], "id_a long, id_b long")
    corpus = spark.createDataFrame([(7,), (9,)], "doc_id long")  # 5 missing
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_keeper)
        for r in dedup_clusters(pairs, corpus=corpus).collect()
    }
    assert got == {7: (5, 2, True), 9: (5, 2, False)}


def test_decode_bmp_rejects_invalid_bpp():
    """A corrupt bits-per-pixel of 0 must raise, not silently return
    zero features (stride would be 0 and every check would pass)."""
    import struct

    payload, _ = _make_bmp(4, 4, lambda x, y: (x, y, 0))
    corrupt = bytearray(payload)
    struct.pack_into("<H", corrupt, 28, 0)
    with pytest.raises(ValueError, match="bits-per-pixel"):
        decode_bmp(bytes(corrupt))


# ------------------------------------------- incremental near-dedup


def test_incremental_neardup_finds_index_matches_only(spark):
    from capex_data_pipeline_spark.extensions.dedup import (
        minhash_near_dups,
        minhash_near_dups_incremental,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    index = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark shuffles")],
        "doc_id long, text string",
    )
    # new batch: 10 is a near-dup of index doc 1; 11/12 are near-dups
    # of each other but of nothing in the index
    new = spark.createDataFrame(
        [
            (10, base + " ok"),
            (11, "unrelated novel text payload alpha beta gamma delta"),
            (12, "unrelated novel text payload alpha beta gamma epsilon"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.new_id, r.index_id)
        for r in minhash_near_dups_incremental(
            new, index, num_hashes=8, bands=4, threshold=0.5
        ).collect()
    }
    assert (10, 1) in pairs
    # new-vs-new pairs are NOT the incremental operator's job ...
    assert not any(a in (11, 12) and b in (11, 12) for a, b in pairs)
    # ... but the batch self-join finds them
    self_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(
            new, num_hashes=8, bands=4, threshold=0.5
        ).collect()
    }
    assert (11, 12) in self_pairs


def test_incremental_neardup_shared_id_never_self_pairs(spark):
    from capex_data_pipeline_spark.extensions.dedup import (
        minhash_near_dups_incremental,
    )

    doc = [(5, "same text appears in both frames word for word exactly")]
    new = spark.createDataFrame(doc, "doc_id long, text string")
    index = spark.createDataFrame(doc, "doc_id long, text string")
    assert minhash_near_dups_incremental(new, index).count() == 0


def test_incremental_neardup_index_bucket_cap_reports_drops(spark):
    from capex_data_pipeline_spark.extensions.dedup import (
        minhash_near_dups_incremental,
    )

    same = "identical boilerplate text shared by every index document here"
    index = spark.createDataFrame(
        [(i, same) for i in range(1, 7)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(100, same)], "doc_id long, text string")
    stats = {}
    out = minhash_near_dups_incremental(
        new, index, num_hashes=8, bands=4, threshold=0.5,
        max_bucket_size=2, cap_stats=stats,
    )
    assert out.count() == 0  # the whole degenerate bucket was excluded
    assert stats["excluded_rows"] > 0 and stats["excluded_buckets"] > 0


def test_cluster_sample_balanced_and_deterministic(spark):
    """cluster_sample keeps exactly n per cell (cells with fewer keep
    all), is deterministic across invocations, and assigns two planted
    well-separated clusters to different cells."""
    import random

    from pyspark.sql import functions as F

    from capex_data_pipeline_spark.extensions.similarity import (
        assign_cells,
        cluster_sample,
    )

    rng = random.Random(7)
    rows = []
    # two orthogonal directions, 30 vectors each with small jitter
    for i in range(30):
        rows.append((i, [1.0 + rng.uniform(-0.05, 0.05), rng.uniform(-0.05, 0.05)]))
        rows.append((100 + i, [rng.uniform(-0.05, 0.05), 1.0 + rng.uniform(-0.05, 0.05)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out1 = sorted(tuple(r) for r in cluster_sample(emb, n_per_cell=5, n_cells=2).collect())
    out2 = sorted(tuple(r) for r in cluster_sample(emb, n_per_cell=5, n_cells=2).collect())
    assert out1 == out2  # deterministic
    from collections import Counter

    per_cell = Counter(c for _, c in out1)
    assert all(v == 5 for v in per_cell.values()) and len(per_cell) == 2

    assigned, centers = assign_cells(emb, n_cells=2)
    assert len(centers) == 2
    cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    g0 = {cells[i] for i in range(30)}
    g1 = {cells[100 + i] for i in range(30)}
    assert len(g0) == 1 and len(g1) == 1 and g0 != g1  # separated clusters


def test_fuzzy_join_trigram_jaccard(spark):
    """Hand-computed trigram Jaccard: 'kitten' vs 'kitsen', plus
    exact-match short strings and a stop-gram-prune recall check."""
    from pyspark.sql import functions as F

    from capex_data_pipeline_spark.extensions.matching import (
        char_trigrams,
        fuzzy_join,
    )

    # trigram sets: kitten -> {kit,itt,tte,ten}, kitsen -> {kit,its,tse,sen}
    # shared = {kit} -> J = 1/(4+4-1) = 1/7
    left = spark.createDataFrame([(1, "kitten"), (2, "ab")], "lid long, name string")
    right = spark.createDataFrame(
        [(10, "kitsen"), (20, "ab"), (30, "zzzz")], "rid long, name string"
    )
    out = {
        (r["lid"], r["rid"]): r["jaccard"]
        for r in fuzzy_join(
            left, right, "lid", "name", "rid", "name", threshold=0.1
        ).collect()
    }
    assert out[(1, 10)] == pytest.approx(1 / 7)
    assert out[(2, 20)] == 1.0  # short strings match as single grams
    assert (1, 30) not in out and (2, 10) not in out

    grams = left.select(char_trigrams(F.col("name")).alias("g")).collect()
    assert sorted(grams[0]["g"]) == ["itt", "kit", "ten", "tte"]

    # stop-gram prune: exact jaccard preserved for surviving pairs
    pruned = {
        (r["lid"], r["rid"]): r["jaccard"]
        for r in fuzzy_join(
            left, right, "lid", "name", "rid", "name",
            threshold=0.1, max_gram_freq=100,
        ).collect()
    }
    assert pruned == out


# ------------------------------------------------------- PageRank


def test_pagerank_hand_computed_exact(spark):
    from capex_data_pipeline_spark.extensions.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c")], "src string, dst string"
    )
    # r0 = 1_000_000 each; deg a=2, b=1; c dangling
    # i1: a <- b's 1_000_000 -> 150000 + 850000 = 1_000_000
    #     b, c <- a's 500_000 each -> 150000 + 425000 = 575_000
    # i2: a <- b's 575_000 -> 150000 + (850*575000) div 1000 = 638_750
    #     b, c unchanged (a still contributes 500_000)
    got = {
        r.vertex: r.rank_micro
        for r in pagerank(edges, iterations=2).collect()
    }
    assert got == {"a": 638_750, "b": 575_000, "c": 575_000}


def test_pagerank_deterministic_and_validates(spark):
    import pytest

    from capex_data_pipeline_spark.extensions.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(20) if i % 7 != (i * 3) % 7],
        "src long, dst long",
    )
    a = sorted(map(tuple, pagerank(edges, iterations=3).collect()))
    b = sorted(map(tuple, pagerank(edges, iterations=3).collect()))
    assert a == b  # integer arithmetic: bit-identical across runs
    with pytest.raises(ValueError):
        pagerank(edges, iterations=0)


def test_pagerank_plan_boundary_kicks_in(spark):
    from capex_data_pipeline_spark.extensions.graph import pagerank

    # a LocalRelation input (createDataFrame would itself be a LogicalRDD)
    edges = spark.sql("SELECT 'x' AS src, 'y' AS dst")

    def is_cut(df):
        return "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()

    assert not is_cut(pagerank(edges, iterations=4))
    ranks = pagerank(edges, iterations=5)  # past 4 rounds: cut per round
    assert is_cut(ranks)
    # hand-computed micro-units: x has no in-edge, so it holds the 0.15
    # base from round 1; y gets 0.15 + 0.85·r(x) — 1.0 after round 1,
    # then 150000 + 850·150000 div 1000 = 277500 from round 2 on
    assert sorted(map(tuple, ranks.collect())) == [
        ("x", 150_000), ("y", 277_500)
    ]


def test_group_centroids_hand_computed(spark):
    from capex_data_pipeline_spark.extensions.similarity import (
        group_centroids,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 2.0], "a"),
            (2, [3.0, 2.0, 4.0], "a"),
            (3, [10.0, 10.0, 10.0], "b"),
            (4, None, "b"),  # NULL vector skipped
        ],
        "vec_id long, embedding array<double>, label string",
    )
    got = {
        r.label: (r.n_vectors, r.centroid)
        for r in group_centroids(df, "label").collect()
    }
    assert got["a"] == (2, [2.0, 1.0, 3.0])
    assert got["b"] == (1, [10.0, 10.0, 10.0])


def test_group_centroids_skips_empty_vectors_and_collapses_neg_zero(spark):
    from capex_data_pipeline_spark.extensions.similarity import (
        group_centroids,
    )

    df = spark.createDataFrame(
        [
            (1, [-1e-9, 1.0], "a"),
            (2, [1e-9, 1.0], "a"),
            (3, [], "a"),     # empty vector skipped, not counted
            (4, [], "b"),     # all-empty group vanishes
        ],
        "vec_id long, embedding array<double>, label string",
    )
    got = {r.label: r for r in group_centroids(df, "label").collect()}
    assert set(got) == {"a"}
    assert got["a"].n_vectors == 2
    assert got["a"].centroid == [0.0, 1.0]
    assert str(got["a"].centroid[0]) != "-0.0"


# ------------------------------------------- duplicated spans (Lee et al.)


def _py_duplicated_spans(texts: dict, k: int, min_docs: int = 2):
    """Plain-Python replay of the shingle-formulation span dedup."""
    import re
    from collections import defaultdict

    toks = {
        i: [
            w
            for w in re.sub(r"[^a-z0-9]+", " ", (t or "").lower()).split()
        ]
        for i, t in texts.items()
    }
    owners = defaultdict(set)
    positions = defaultdict(list)
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            sh = " ".join(tk[p : p + k])
            owners[sh].add(i)
            positions[i].append((p, sh))
    spans = set()
    for i, ps in positions.items():
        dup = sorted(p for p, sh in ps if len(owners[sh]) >= min_docs)
        run_start = None
        prev = None
        for p in dup + [None]:
            if run_start is not None and (p is None or p != prev + 1):
                spans.add(
                    (
                        i,
                        run_start,
                        prev + k - run_start,
                        " ".join(toks[i][run_start : prev + k]),
                    )
                )
                run_start = None
            if p is not None and run_start is None:
                run_start = p
            prev = p
    return spans


def test_duplicated_spans_planted(spark):
    from capex_data_pipeline_spark.extensions.dedup import duplicated_spans

    boiler = "the quick brown fox jumps over the lazy dog again"  # 10 toks
    texts = {
        1: f"alpha beta {boiler} gamma delta",
        2: f"unrelated start here {boiler} and a different tail entirely",
        3: "totally different text with no overlap at all whatsoever ok",
        4: boiler,
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_len, r.span_text)
        for r in duplicated_spans(df, k=5).collect()
    }
    assert got == {
        (1, 2, 10, boiler),
        (2, 3, 10, boiler),
        (4, 0, 10, boiler),
    }
    assert got == _py_duplicated_spans(texts, k=5)
    # with_text=False skips the slice columns but keeps the geometry
    lite = {
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicated_spans(df, k=5, with_text=False).collect()
    }
    assert lite == {(d, s, l) for d, s, l, _ in got}


def test_duplicated_spans_islands_merge_and_cross_doc_only(spark):
    """Overlapping shingles duplicated against DIFFERENT partner docs
    chain into one maximal span (the documented over-merge of the
    shingle formulation); two shared fragments merely ADJACENT in one
    doc stay separate spans (the junction shingles are unique); a
    fragment repeated only WITHIN one doc is not duplicated (min_docs
    counts distinct documents)."""
    from capex_data_pipeline_spark.extensions.dedup import duplicated_spans

    a = "one two three four five"
    b = "six seven eight nine ten"
    rep = "ha hb hc hd he"
    texts = {
        1: f"{a} {b}",           # fragments adjacent → junction unique
        2: f"lead in words {a} tail",
        3: f"{b} trailing filler words",
        4: f"{rep} mid {rep}",    # internal repeat only → no span
        # chained island: 5 holds "p q r s t u"; 6 shares its first
        # 5-shingle, 7 its second — positions 0 and 1 are consecutive,
        # so doc 5 reports ONE 6-token span no single partner shares
        5: "p q r s t u",
        6: "xx p q r s t",
        7: "q r s t u yy",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_len, r.span_text)
        for r in duplicated_spans(df, k=5).collect()
    }
    assert got == _py_duplicated_spans(texts, k=5)
    # adjacency without shared junction shingles → two separate spans
    assert (1, 0, 5, a) in got and (1, 5, 5, b) in got
    assert not any(d == 1 and l == 10 for d, _, l, _ in got)
    # different-partner chaining → one merged maximal span
    assert (5, 0, 6, "p q r s t u") in got
    assert not any(d == 4 for d, *_ in got)       # within-doc repeat


def test_duplicated_spans_random_differential(spark):
    import random

    from capex_data_pipeline_spark.extensions.dedup import duplicated_spans

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    frags = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 9)))
        for _ in range(6)
    ]
    texts = {}
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if rng.random() < 0.5:
            pos = rng.randint(0, len(words))
            words[pos:pos] = rng.choice(frags).split()
        texts[i] = " ".join(words)
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    for k in (3, 4):
        got = {
            (r.doc_id, r.span_start, r.span_len, r.span_text)
            for r in duplicated_spans(df, k=k).collect()
        }
        assert got == _py_duplicated_spans(texts, k=k)


def test_duplicated_spans_guards(spark):
    from capex_data_pipeline_spark.extensions.dedup import duplicated_spans

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k=1"):
        duplicated_spans(df, k=1)
    with pytest.raises(ValueError, match="min_docs=1"):
        duplicated_spans(df, k=3, min_docs=1)
    # short/empty/null docs produce no shingles and no spans
    df2 = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "doc_id long, text string"
    )
    assert duplicated_spans(df2, k=3).count() == 0


# ------------------------------------------- staging plan boundary


def test_plan_boundary_modes(spark, tmp_path, monkeypatch):
    from capex_data_pipeline_spark.cache import clear_staging, plan_boundary

    df = spark.range(10).withColumn("x", F.col("id") * 2)
    monkeypatch.delenv("SPARK_GRAFT_BOUNDARY", raising=False)
    local = plan_boundary(df, eager=True)  # default: localCheckpoint
    assert local._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    monkeypatch.setenv("SPARK_GRAFT_BOUNDARY", "staging")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    staged = plan_boundary(df, label="t")
    assert sorted(r.x for r in local.collect()) == sorted(
        r.x for r in staged.collect()
    )
    # staged plan is a plain scan of the staging table
    assert "Scan parquet" in staged._jdf.queryExecution().executedPlan().toString() \
        or "FileScan" in staged._jdf.queryExecution().toString()
    assert [n for n in os.listdir(tmp_path) if n.startswith("t-")]
    monkeypatch.setenv("SPARK_GRAFT_BOUNDARY", "bogus")
    with pytest.raises(ValueError, match="unknown"):
        plan_boundary(df)
    monkeypatch.setenv("SPARK_GRAFT_BOUNDARY", "staging")
    monkeypatch.delenv("SPARK_GRAFT_STAGING_DIR")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STAGING_DIR"):
        plan_boundary(df)
    assert clear_staging() >= 1  # local temp dirs are removable
    assert os.listdir(tmp_path) == []


def test_pagerank_staging_boundary_identical(spark, tmp_path, monkeypatch):
    from capex_data_pipeline_spark.extensions.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)],
        "src long, dst long",
    )
    monkeypatch.delenv("SPARK_GRAFT_BOUNDARY", raising=False)
    base = {
        (r.vertex, r.rank_micro)
        for r in pagerank(edges, iterations=6).collect()
    }
    # the env flip reaches every per-round cut without touching the
    # call site: each of the 6 rounds writes one staging path
    monkeypatch.setenv("SPARK_GRAFT_BOUNDARY", "staging")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    staged = {
        (r.vertex, r.rank_micro)
        for r in pagerank(edges, iterations=6).collect()
    }
    assert staged == base
    assert len(
        [n for n in os.listdir(tmp_path) if n.startswith("pagerank-")]
    ) == 6

    from capex_data_pipeline_spark.cache import clear_staging

    clear_staging()


def test_dedup_clusters_staging_boundary_identical(spark, tmp_path, monkeypatch):
    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    monkeypatch.delenv("SPARK_GRAFT_BOUNDARY", raising=False)
    base = {
        (r.doc_id, r.cluster_id, r.cluster_size, r.is_keeper)
        for r in dedup_clusters(pairs).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_BOUNDARY", "staging")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", str(tmp_path))
    staged = {
        (r.doc_id, r.cluster_id, r.cluster_size, r.is_keeper)
        for r in dedup_clusters(pairs).collect()
    }
    assert staged == base
    assert any(n.startswith("cc-edges-") for n in os.listdir(tmp_path))

    from capex_data_pipeline_spark.cache import clear_staging

    clear_staging()


def test_dedup_clusters_join_strategy_identical(spark, same_rows_any_join):
    """The label-map re-key and the per-round label joins are the
    planner's: clusters, sizes and keepers are identical with planner
    broadcasts on and off."""
    from capex_data_pipeline_spark.extensions.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 22)],
        "id_a long, id_b long",
    )
    corpus = spark.createDataFrame([(i,) for i in range(1, 30)], "doc_id long")
    same_rows_any_join(lambda: dedup_clusters(pairs, corpus=corpus))


def test_remove_duplicated_spans(spark):
    """Keeper election + cut semantics: the lowest (doc_id, start)
    occurrence of each exact span survives; all others are removed;
    docs without duplicated spans pass through with 0 removed."""
    from capex_data_pipeline_spark.extensions.dedup import (
        remove_duplicated_spans,
    )

    boiler = "the quick brown fox jumps over the lazy dog again"
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma delta"),
            (2, f"unrelated start here {boiler} and a different tail entirely"),
            (3, "totally different text with no overlap at all whatsoever ok"),
            (4, boiler),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_removed_tokens)
        for r in remove_duplicated_spans(df, k=5).collect()
    }
    assert got[1] == (f"alpha beta {boiler} gamma delta", 0)  # keeper
    assert got[2] == ("unrelated start here and a different tail entirely", 10)
    assert got[3][1] == 0
    assert got[4] == ("", 10)  # the whole doc was the duplicated span
    assert got[5] == ("", 0)   # NULL doc: present, untouched
    # one-pass removal leaves no cross-doc duplicated span of >= k
    cleaned = spark.createDataFrame(
        [(i, t) for i, (t, _) in got.items()], "doc_id long, text string"
    )
    from capex_data_pipeline_spark.extensions.dedup import duplicated_spans

    assert duplicated_spans(cleaned, k=5).count() == 0


def test_fuzzy_self_best_match_differential(spark):
    """Name-level top-1 election must equal brute-force ranking of
    every row pair (j desc, p2 asc) — including the self-exclusion
    edge where a row's own name holds the best candidates."""
    import itertools
    import re

    from capex_data_pipeline_spark.extensions.matching import (
        fuzzy_self_best_match,
    )

    rows = {
        1: "alpha beta", 2: "alpha beta", 3: "alpha beta",  # trio
        4: "alpha bexa",                                     # near 1-3
        5: "gamma delta", 6: "gamma delta",                  # pair
        7: "unique zebra quux",                              # alone
        8: "gamma delte",                                    # near 5-6
    }

    def grams(s):
        s = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()
        return {s} if len(s) < 3 else {s[i:i + 3] for i in range(len(s) - 2)}

    def jac(a, b):
        ga, gb = grams(a), grams(b)
        return len(ga & gb) / len(ga | gb)

    expected = {}
    for p1, p2 in itertools.permutations(rows, 2):
        j = jac(rows[p1], rows[p2])
        if j >= 0.3:
            cur = expected.get(p1)
            if cur is None or (j, -p2) > (cur[1], -cur[0]):
                expected[p1] = (p2, j)
    df = spark.createDataFrame(list(rows.items()), "p1 long, name string")
    got = {
        r.p1: (r.best_id, r.jaccard)
        for r in fuzzy_self_best_match(df, "p1", "name", threshold=0.3).collect()
    }
    assert {k: v[0] for k, v in got.items()} == {k: v[0] for k, v in expected.items()}
    for k in got:
        assert got[k][1] == pytest.approx(expected[k][1])
    # the trio: 1's best is 2 (same name, j=1), 2's best is 1, 3's is 1
    assert got[1][0] == 2 and got[2][0] == 1 and got[3][0] == 1
    assert 7 not in got  # no qualifying match


def test_fuzzy_self_best_match_random_differential(spark):
    import itertools
    import random
    import re

    from capex_data_pipeline_spark.extensions.matching import (
        fuzzy_self_best_match,
    )

    rng = random.Random(21)
    words = ["spark", "spork", "stark", "shard", "sharp", "chart"]
    rows = {
        i: " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))
        for i in range(1, 61)
    }

    def grams(s):
        s = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()
        return {s} if len(s) < 3 else {s[i:i + 3] for i in range(len(s) - 2)}

    def jac(a, b):
        ga, gb = grams(a), grams(b)
        return len(ga & gb) / len(ga | gb)

    expected = {}
    for p1, p2 in itertools.permutations(rows, 2):
        j = jac(rows[p1], rows[p2])
        if j >= 0.5:
            cur = expected.get(p1)
            if cur is None or (j, -p2) > (cur[1], -cur[0]):
                expected[p1] = (p2, round(j, 9))
    df = spark.createDataFrame(list(rows.items()), "p1 long, name string")
    got = {
        r.p1: (r.best_id, round(r.jaccard, 9))
        for r in fuzzy_self_best_match(df, "p1", "name", threshold=0.5).collect()
    }
    assert got == expected


def test_repeated_spans_within_doc(spark):
    from capex_data_pipeline_spark.extensions.dedup import repeated_spans

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma one two three four one two three four delta"),
            (2, "all words different here nothing repeats at all today friend"),
            (3, "x y z x y z x y z"),  # overlapping triple repeat
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_len, r.span_text)
        for r in repeated_spans(df, k=3).collect()
    }
    # doc 1: both occurrences localized, NOT merged (positions 3-4, 7-8)
    assert (1, 3, 4, "one two three four") in got
    assert (1, 7, 4, "one two three four") in got
    # doc 3: every 3-shingle repeats → one maximal whole-doc span
    assert (3, 0, 9, "x y z x y z x y z") in got
    assert not any(d == 2 for d, *_ in got)
    with pytest.raises(ValueError, match="min_occurrences=1"):
        repeated_spans(df, k=3, min_occurrences=1)


def test_remove_duplicated_spans_protect_kept_keeps_occurrence_intact(spark):
    """Near-adjacent islands (start gap < k) overlap in token ranges:
    by default, cutting a non-canonical span erodes up to k-1 edge
    tokens of a kept canonical occurrence in the same doc;
    protect_kept=True trims cuts against the doc's kept spans so the
    canonical occurrence survives intact."""
    from capex_data_pipeline_spark.extensions.dedup import (
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [
            # doc 1: island "alpha beta gamma" [0,3) is CANONICAL
            # (lowest (doc,start) among its occurrences) and island
            # "gamma delta epsilon" [2,5) is NON-canonical (doc 0
            # holds it earlier) — the two share token 2 ('gamma')
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma pad1 pad2"),
            (0, "zpad gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    default = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed_tokens"])
        for r in remove_duplicated_spans(df, k=3).collect()
    }
    # default semantics: the cut [2,5) erodes the kept span's 'gamma'
    assert default[1] == ("alpha beta", 3)
    assert default[2] == ("pad1 pad2", 3)
    assert default[0] == ("zpad gamma delta epsilon", 0)

    protected = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed_tokens"])
        for r in remove_duplicated_spans(df, k=3, protect_kept=True).collect()
    }
    # stronger contract: the canonical occurrence survives byte-intact
    assert protected[1] == ("alpha beta gamma", 2)
    assert protected[2] == ("pad1 pad2", 3)  # no kept span in doc 2
    assert protected[0] == ("zpad gamma delta epsilon", 0)


def test_remove_duplicated_spans_protect_kept_noop_when_disjoint(spark):
    """When islands are >= k starts apart (no token-range overlap),
    protect_kept changes nothing — both modes implement the same
    exact contract."""
    from capex_data_pipeline_spark.extensions.dedup import (
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [
            (1, "one two three four mid1 mid2 mid3 five six seven eight"),
            (2, "one two three four tail1 tail2 tail3 tail4"),
            (3, "head1 head2 five six seven eight"),
        ],
        "doc_id long, text string",
    )
    a = sorted(
        (r["doc_id"], r["cleaned_text"], r["n_removed_tokens"])
        for r in remove_duplicated_spans(df, k=3).collect()
    )
    b = sorted(
        (r["doc_id"], r["cleaned_text"], r["n_removed_tokens"])
        for r in remove_duplicated_spans(df, k=3, protect_kept=True).collect()
    )
    assert a == b


def test_source_overlap_minhash_hand_computed(spark):
    """Identical corpora estimate 1.0; disjoint corpora 0.0; the exact
    Jaccard is the set arithmetic on distinct shingles."""
    from capex_data_pipeline_spark.extensions.dedup import (
        source_overlap_minhash,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "A"),
            (2, "alpha beta gamma delta epsilon", "B"),  # same as A
            (3, "zero one two three four five", "C"),    # disjoint
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap_minhash(docs, num_hashes=8).collect()
    }
    assert set(rows) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = rows[("A", "B")]
    assert ab["exact_jaccard"] == 1.0 and ab["est_jaccard"] == 1.0
    assert ab["abs_error"] == 0.0 and ab["n_a"] == ab["n_b"] == 3
    ac = rows[("A", "C")]
    assert ac["exact_jaccard"] == 0.0 and ac["est_jaccard"] == 0.0


def test_source_overlap_minhash_partial_overlap(spark):
    """A 50%-overlap pair: exact Jaccard is exact; the 1/sqrt(H)
    estimate lands within a loose band and the error column is
    honest (|est - exact|)."""
    from capex_data_pipeline_spark.extensions.dedup import (
        source_overlap_minhash,
    )

    # A: shingles from w1..w12; B: w7..w18 -> overlap 6-of-18ish words;
    # shingle-level overlap computed exactly by the operator itself
    a_text = " ".join(f"w{i}" for i in range(1, 13))
    b_text = " ".join(f"w{i}" for i in range(7, 19))
    docs = spark.createDataFrame(
        [(1, a_text, "A"), (2, b_text, "B")],
        "doc_id long, text string, source string",
    )
    r = source_overlap_minhash(docs, num_hashes=64).collect()[0]
    # 10 + 10 distinct 3-shingles, 4 shared ("w7 w8 w9".."w10 w11 w12")
    assert (r["n_a"], r["n_b"]) == (10, 10)
    assert r["exact_jaccard"] == round(4 / 16, 6)
    assert abs(r["est_jaccard"] - r["exact_jaccard"]) == r["abs_error"]
    assert r["abs_error"] <= 0.25  # 2/sqrt(64) band


def test_jaccard_join_equals_brute_force_random(spark):
    """Prefix-filter completeness, differentially: on a randomized
    small-vocab corpus (dense overlaps, integer-product prefix
    lengths included) the operator's pairs equal the all-pairs brute
    force exactly — candidates lost to an off-by-one prefix would
    show here."""
    import itertools
    import random

    from capex_data_pipeline_spark.extensions.dedup import (
        jaccard_similarity_join,
    )

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(30)]
    base = [
        rng.sample(vocab, rng.choice([4, 5, 8, 10])) for _ in range(30)
    ]
    # 30 random docs + 30 near-copies (drop or swap one token) so the
    # corpus is dense in >= 0.6 pairs
    docs = [(i, " ".join(ts)) for i, ts in enumerate(base)]
    for i, ts in enumerate(base):
        mutated = list(ts)
        if rng.random() < 0.5 and len(mutated) > 3:
            mutated.pop(rng.randrange(len(mutated)))
        else:
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
        docs.append((100 + i, " ".join(mutated)))
    t = 0.6
    sets = {i: set(txt.split()) for i, txt in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        j = round(
            len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6
        )
        if j >= t:
            want.add((a, b, j))
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_similarity_join(
            spark.createDataFrame(docs, "doc_id long, text string"),
            threshold=t,
        ).collect()
    }
    assert got == want
    assert want  # the corpus has qualifying pairs


def test_jaccard_join_guards_and_empty_docs(spark):
    from capex_data_pipeline_spark.extensions.dedup import (
        jaccard_similarity_join,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_similarity_join(docs, threshold=0.9).collect()
    }
    assert got == {(1, 2, 1.0)}  # empty/NULL docs never pair
    with pytest.raises(ValueError, match="threshold"):
        jaccard_similarity_join(docs, threshold=0.0)


def test_ppjoin_positional_filter_prunes_but_loses_nothing(spark):
    """The +P length/positional filters must produce a candidate
    SUBSET (strictly fewer on a length-diverse corpus) while the
    final pair set is identical — pruning is allowed, recall loss is
    not."""
    import random

    from capex_data_pipeline_spark.extensions.dedup import (
        _ppjoin_candidates,
        _ppjoin_ordered,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(25)]
    docs = [
        (i, " ".join(rng.sample(vocab, rng.choice([3, 4, 8, 12, 16]))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    ordered = _ppjoin_ordered(df, 0.6, "text", "doc_id")
    raw = {
        (r["id_a"], r["id_b"])
        for r in _ppjoin_candidates(ordered, 0.6, positional=False).collect()
    }
    filt = {
        (r["id_a"], r["id_b"])
        for r in _ppjoin_candidates(ordered, 0.6, positional=True).collect()
    }
    assert filt <= raw
    assert len(filt) < len(raw)  # the filters actually prune here
    # no recall loss: every qualifying pair is still a candidate
    sets = {i: set(t.split()) for i, t in docs}
    for a in sorted(sets):
        for b in sorted(sets):
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.6:
                    assert (a, b) in filt


def test_jaccard_dup_summary_matches_hand_built(spark):
    """dup_degree / cluster_id / cluster_size / is_keeper vs a
    hand-built graph: {1,2,3} is a near-dup triangle-ish component
    (1~2, 2~3 but 1~3 only via transitivity), 4 is a singleton, 5 is
    empty text."""
    from capex_data_pipeline_spark.extensions.dedup import (
        jaccard_dup_summary,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d f"),      # J(1,2)=4/6=0.667
            (3, "a b c d f g"),    # J(2,3)=5/6=0.833, J(1,3)=4/7=0.571
            (4, "x y z"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in jaccard_dup_summary(docs, threshold=0.6).collect()
    }
    assert {
        i: (r["dup_degree"], r["cluster_id"], r["cluster_size"], r["is_keeper"])
        for i, r in rows.items()
    } == {
        1: (1, 1, 3, True),
        2: (2, 1, 3, False),
        3: (1, 1, 3, False),
        4: (0, 4, 1, True),
        5: (0, 5, 1, True),
    }


def test_ivfpq_equals_ivf_when_shortlist_covers_all_candidates(emb):
    """With rerank >= every candidate, the ADC shortlist keeps ALL
    IVF candidates, so the exact re-rank must reproduce sample-mode
    ivf_topk row-for-row — PQ compression then affects only the
    (skipped) pruning, never the answer."""
    from capex_data_pipeline_spark.extensions.similarity import (
        ivf_topk,
        ivfpq_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    ivf = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ivf_topk(
            emb, queries, k=10, n_cells=16, nprobe=3, centers_mode="sample"
        ).collect()
    }
    ivfpq = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in ivfpq_topk(
            emb, queries, k=10, n_cells=16, nprobe=3, rerank=100_000
        ).collect()
    }
    assert ivfpq == ivf and ivf


def test_ivfpq_small_shortlist_recall_and_guards(emb):
    """A tight shortlist (rerank=20) must still recover a reasonable
    share of what plain IVF finds in the same probed cells — the PQ
    pruning loses candidates, not correctness (surviving scores are
    exact cosines)."""
    from capex_data_pipeline_spark.extensions.similarity import (
        cosine_topk,
        ivf_topk,
        ivfpq_topk,
    )

    queries = emb.filter(F.col("vec_id") < 5)
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            emb, queries, k=10, n_cells=16, nprobe=3, centers_mode="sample"
        ).collect()
    }
    out = ivfpq_topk(
        emb, queries, k=10, n_cells=16, nprobe=3, rerank=20
    ).collect()
    all_cos = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, queries, k=10_000).collect()
    }
    for r in out:  # surviving scores are exact cosines
        assert all_cos[(r.query_id, r.neighbor_id)] == r.cosine
    hits = sum(1 for r in out if (r.query_id, r.neighbor_id) in ivf)
    assert hits / len(ivf) >= 0.3
    with pytest.raises(ValueError, match="rerank"):
        ivfpq_topk(emb, queries, k=10, rerank=5)
    with pytest.raises(ValueError, match="subspaces"):
        ivfpq_topk(emb, queries, n_subspaces=7)


# ------------------------------------------- edit-distance join (q179)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def test_editdist_join_differential_brute_force(spark):
    """Pair-set AND distance equality against an all-pairs Python DP
    over a corpus that exercises every code path: gram-less strings
    (len < q), short strings (< q*k+1 grams), long near-dups, exact
    duplicates under different ids, and >k outliers."""
    import random

    from capex_data_pipeline_spark.extensions.matching import editdist_join

    rng = random.Random(179)
    words = ["spark", "shuffle", "window", "stream", "vector", "table"]
    strs = ["", "a", "ab", "abc", "abcd", "zzz"]
    for _ in range(30):
        s = " ".join(rng.choice(words) for _ in range(rng.randint(2, 5)))
        strs.append(s)
        if rng.random() < 0.6:  # planted near-dup: one edit
            pos = rng.randrange(len(s))
            strs.append(s[:pos] + rng.choice("xq") + s[pos + 1:])
    rows = [(i, s) for i, s in enumerate(strs)]
    for k, q in [(1, 2), (3, 2), (2, 3)]:
        expect = {
            (ia, ib): _lev(sa, sb)
            for ia, sa in rows
            for ib, sb in rows
            if ia < ib and _lev(sa, sb) <= k
        }
        df = spark.createDataFrame(rows, "id long, s string")
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in editdist_join(df, "id", "s", k=k, q=q).collect()
        }
        assert got == expect, f"k={k} q={q}"


def test_editdist_join_same_string_and_nulls(spark):
    """Identical strings under different ids pair at dist 0 (three
    ids -> three pairs); NULL strings never pair."""
    from capex_data_pipeline_spark.extensions.matching import editdist_join

    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "same text here"),
         (4, None), (5, None)],
        "id long, s string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in editdist_join(df, "id", "s", k=2).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 0, (2, 3): 0}


def test_editdist_join_rejects_bad_params(spark):
    from capex_data_pipeline_spark.extensions.matching import editdist_join

    df = spark.createDataFrame([(1, "x")], "id long, s string")
    import pytest as _pt

    with _pt.raises(ValueError):
        editdist_join(df, "id", "s", k=0)
    with _pt.raises(ValueError):
        editdist_join(df, "id", "s", k=1, q=1)


# ------------------------------------- golden-record survivorship (q190)


def test_golden_record_rules_hand_computed(spark):
    """Every survivorship rule on one crafted cluster set: mode with a
    tie (smallest string wins), NULL as a countable value, max/min
    fields, and a singleton cluster."""
    from capex_data_pipeline_spark.extensions.dedup import golden_record

    rows = [
        # cluster 1: lang mode 'en' (2 vs 1); src tie a/b -> 'a'
        (1, 101, "en", "a", 50),
        (1, 102, "en", "b", 70),
        (1, 103, "de", "a", 60),
        (1, 104, None, "b", None),  # NULL lang counts but loses 1 vs 2
        # cluster 2: NULL lang WINS the mode (2 nulls vs 1 'fr')
        (2, 201, None, "c", 10),
        (2, 202, None, "c", 20),
        (2, 203, "fr", "c", 30),
        # singleton
        (3, 301, "es", "d", 5),
    ]
    df = spark.createDataFrame(
        rows, "cluster_id long, doc_id long, lang string, src string, n int"
    )
    got = {
        r["cluster_id"]: (
            r["n_members"], r["lang_mode"], r["src_mode"],
            r["n_max"], r["doc_id_min"],
        )
        for r in golden_record(
            df, "cluster_id",
            mode_cols=["lang", "src"], max_cols=["n"], min_cols=["doc_id"],
        )
        .withColumnRenamed("n_max", "n_max")
        .collect()
    }
    assert got[1] == (4, "en", "a", 70, 101)
    assert got[2] == (3, "<null>", "c", 30, 201)
    assert got[3] == (1, "es", "d", 5, 301)

    import pytest as _pt

    with _pt.raises(ValueError):
        golden_record(df, "cluster_id")


# ---------------------------------- fuzzy decontamination (q194)


def test_minhash_cross_dups_flags_planted_leaks(spark):
    """A benchmark doc copied into the corpus (verbatim and with a
    short suffix) is flagged; unrelated corpus docs are not; the
    benchmark side never pairs with itself; the join plan broadcasts
    the benchmark."""
    from capex_data_pipeline_spark.extensions.dedup import (
        minhash_cross_dups,
    )

    bench_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the hunter waits behind the old oak tree at dawn"
    )
    corpus = spark.createDataFrame(
        [
            (1, bench_text),                       # verbatim leak
            (2, bench_text + " extra token"),      # near leak
            (3, "completely different words about spark shuffle plans "
                "and columnar execution engines with vectorized readers"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    out = minhash_cross_dups(
        corpus, bench, num_hashes=8, bands=4, threshold=0.5
    )
    got = {
        (r["doc_id"], r["bench_doc_id"]): r["est_jaccard"]
        for r in out.collect()
    }
    assert got[(1, 100)] == 1.0
    assert (2, 100) in got and got[(2, 100)] >= 0.5
    assert all(c != 3 for c, _ in got)
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


# ------------------------------------- LSH banding audit (q196)


def test_lsh_banding_audit_python_replay(spark):
    """Measured collisions and predicted S-curve averages replayed in
    Python from the same md5 signature definition, on a corpus with
    planted near-dups; every config sees the same ground-truth pair
    count and more bands never hurt measured recall here (r=1 bands
    collide on any equal component)."""
    import hashlib

    from capex_data_pipeline_spark.extensions.dedup import (
        lsh_banding_audit,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = [
        (1, base),
        (2, base + " phi"),                      # near-dup of 1
        (3, base.replace("alpha", "psi")),       # near-dup of 1
        (4, "completely different text about distributed query engines "
            "and shuffle partitioning strategies in columnar systems"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["bands"], r["rows_per_band"]): r for r in
        lsh_banding_audit(df, num_hashes=8, threshold=0.5).collect()
    }

    def norm_words(t):
        import re
        return [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]

    def shingles(t):
        ws = norm_words(t)
        if len(ws) < 3:
            return {" ".join(ws)}
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    def sig(t):
        sh = shingles(t)
        return [
            min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
            for i in range(8)
        ]

    true_pairs = []
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in docs[i + 1:]:
            A, B = shingles(ta), shingles(tb)
            j = len(A & B) / len(A | B)
            if j >= 0.5:
                true_pairs.append((ta, tb, j))
    assert {k: v["n_pairs"] for k, v in got.items()} == {
        k: len(true_pairs) for k in got
    }
    for (b, r), row in got.items():
        coll = sum(
            1 for ta, tb, _ in true_pairs
            if any(
                sig(ta)[bb * r:(bb + 1) * r] == sig(tb)[bb * r:(bb + 1) * r]
                for bb in range(b)
            )
        )
        assert row["n_collided"] == coll, (b, r)
        pred = sum(
            round((1 - (1 - j ** r) ** b) * 1e6) for _, _, j in true_pairs
        )
        assert row["recall_predicted"] == pytest.approx(
            round(pred / (len(true_pairs) * 1e6), 6), abs=2e-6
        )


def test_q179_corpus_ascii_pin(spark):
    """q179's oracle parity rests on DuckDB's byte-based levenshtein
    agreeing with Spark's codepoint-based one — true exactly when the
    compared strings are ASCII. Pin that property on the test corpus
    (the registry query lowercases a substring of text, so text
    itself must be ASCII)."""
    import os

    from pyspark.sql import functions as F

    from capex_data_pipeline_spark.sources.parquet import read_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    n = (
        read_table(spark, sf, "documents")
        .filter(~F.coalesce(F.col("text"), F.lit("")).rlike(r"^[\x00-\x7F]*$"))
        .count()
    )
    assert n == 0


def test_editdist_join_unicode_codepoint_semantics(spark):
    """The q179 oracle pins an all-ASCII corpus (DuckDB's levenshtein
    is byte-based); this certifies the ENGINE-side semantics where the
    oracle can't reach: Spark's levenshtein and length are
    CODEPOINT-based — accents, CJK, and astral-plane emoji each count
    as ONE unit — verified against a small Python reference
    implementation (Python strings are codepoint sequences) over the
    full all-pairs matrix (VERDICT r10 task #9)."""
    from capex_data_pipeline_spark.extensions.matching import editdist_join

    def lev(a: str, b: str) -> int:
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1,
                            prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[n]

    names = [
        "café corner", "cafe corner", "caffé corner",   # accents
        "naïve bayes", "naive bayes",
        "münchen store", "munchen store", "muenchen store",
        "日本語テキスト", "日本語テキスト!", "日本話テキスト",  # CJK
        "data 😀 pipeline", "data 😁 pipeline", "data 😀 pipelines",
        "😀😀😀", "😀😀",                                 # astral-plane
    ]
    k, q = 2, 2
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(names)], "id long, s string"
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist_join(df, "id", "s", k=k, q=q).collect()
    }
    want = {
        (i, j, lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if lev(names[i], names[j]) <= k
    }
    assert got == want


def _rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


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
