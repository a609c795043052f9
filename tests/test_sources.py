"""CSV encoding-fallback source (S1), parquet nanos handling and the
few-file spread (`spread_few_splits`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from capex_data_pipeline_spark.sources.csv import (
    read_csv_with_fallback,
    sniff_encoding,
)
from capex_data_pipeline_spark.sources.parquet import read_table

TESTDATA = "/root/testdata/sf0.001"


def _write(path, data: bytes):
    path.write_bytes(data)
    return str(path)


def test_sniff_utf8(tmp_path):
    p = _write(tmp_path / "a.csv", "col\nvalue – ok\n".encode("utf-8"))
    assert sniff_encoding(p) == "utf-8"


def test_sniff_cp1252(tmp_path):
    p = _write(tmp_path / "b.csv", "col\nbudget \x96 approved\n".encode("latin1"))
    # 0x96 is invalid UTF-8 and cp1252 comes before latin1 in the chain
    assert sniff_encoding(p) == "cp1252"


def test_cp1252_values_roundtrip(spark, tmp_path):
    # raw cp1252 bytes: 0x96 = EN DASH, 0xe9 = é
    p = _write(tmp_path / "c.csv", b"col\nbudget \x96 approved\ncaf\xe9\n")
    schema = T.StructType([T.StructField("col", T.StringType())])
    vals = {r.col for r in read_csv_with_fallback(spark, p, schema=schema).collect()}
    # 0x96 must decode as EN DASH (cp1252), not a C1 control char (latin1)
    assert "budget – approved" in vals
    assert "café" in vals


def test_cp1252_sink_marker_beats_utf8_sniff(spark, tmp_path):
    """'Â\xa0' encodes to cp1252 bytes C2 A0, which are also valid UTF-8
    (for '\xa0'), so a byte sniff alone reads the sink's output back as
    UTF-8. The sink's _CHARSET marker names cp1252, and the reader
    trusts it: the round trip is value-exact."""
    from capex_data_pipeline_spark.sources.sinks import write_csv_cp1252

    out = str(tmp_path / "marked")
    df = spark.createDataFrame([(0, "Â\xa0")], "id long, txt string")
    write_csv_cp1252(df, out)
    assert sniff_encoding(out) == "cp1252"
    back = read_csv_with_fallback(spark, out, schema=df.schema)
    assert [tuple(r) for r in back.collect()] == [(0, "Â\xa0")]


def test_utf8_passthrough(spark, tmp_path):
    p = _write(tmp_path / "d.csv", "col\n–dash\n".encode("utf-8"))
    schema = T.StructType([T.StructField("col", T.StringType())])
    vals = {r.col for r in read_csv_with_fallback(spark, p, schema=schema).collect()}
    assert "–dash" in vals


def test_events_nanos_become_timestamps(spark):
    df = read_table(spark, "/root/testdata/sf0.001", "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.filter(df.ts.isNull()).count() == 0


def test_events_readable_without_session_conf(spark):
    # Driver-harness contract: the consuming session may not have set
    # nanosAsLong at build time; read_table must still succeed.
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = read_table(spark, "/root/testdata/sf0.001", "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.count() == 1000
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_orders_parquet_is_key_ordered():
    """oracle_capex uses o_orderkey as the row-order surrogate for
    Spark's ingest _row_id; that's only valid while the testdata orders
    files are written in key order."""
    import duckdb

    for sf in ("sf0.001", "sf0.01"):
        total, nondec = duckdb.sql(
            f"""SELECT count(*), count(*) FILTER (l IS NULL OR o_orderkey >= l)
            FROM (SELECT o_orderkey, lag(o_orderkey) OVER () AS l
                  FROM '/root/testdata/{sf}/orders.parquet')"""
        ).fetchone()
        assert total == nondec, sf


def test_sinks_roundtrip(spark, tmp_path):
    from capex_data_pipeline_spark.sources.sinks import (
        csv_bytes,
        write_csv,
        write_parquet,
    )

    df = spark.range(10).withColumnRenamed("id", "k")
    write_csv(df, str(tmp_path / "csv_out"))
    back = spark.read.option("header", "true").csv(str(tmp_path / "csv_out"))
    assert back.count() == 10

    write_parquet(df.withColumn("bucket", df.k % 2), str(tmp_path / "pq_out"),
                  partition_by=["bucket"])
    back_pq = spark.read.parquet(str(tmp_path / "pq_out"))
    assert back_pq.count() == 10
    # partition pruning: only one directory read when filtering the key
    assert back_pq.filter("bucket = 0").count() == 5

    data = csv_bytes(df)
    assert data.startswith(b"k\n") and data.count(b"\n") == 11


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count
    must sort-merge-join with ZERO exchanges — the write-once-shuffle,
    join-forever-local layout the 100 TB design leans on."""
    from capex_data_pipeline_spark.sources.parquet import read_table
    from capex_data_pipeline_spark.sources.sinks import write_bucketed_table

    orders = read_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed_table(
        orders, "t_orders_b", 8, ["o_orderkey"], sort_cols=["o_orderkey"],
        path=str(tmp_path / "orders_b"),
    )
    write_bucketed_table(
        lineitem, "t_lineitem_b", 8, ["l_orderkey"], sort_cols=["l_orderkey"],
        path=str(tmp_path / "lineitem_b"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # and the result is the plain join's result
        expected = orders.join(
            lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_read_table_warns_before_pinning_utc(spark):
    """read_table pins the session timezone to UTC (the engine's
    rendering contract) but must not do so silently, and pin_utc=False
    must leave the caller's timezone alone (round-3 advice)."""
    import warnings

    from capex_data_pipeline_spark.sources.parquet import read_table
    from tests.conftest import TESTDATA_SF_DIR

    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            read_table(spark, TESTDATA_SF_DIR, "region", pin_utc=False)
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
        assert not [w for w in caught if "timeZone" in str(w.message)]

        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            read_table(spark, TESTDATA_SF_DIR, "region")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert [w for w in caught if "timeZone" in str(w.message)]

        # already-UTC sessions: no warning, no change
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            read_table(spark, TESTDATA_SF_DIR, "region")
        assert not [w for w in caught if "timeZone" in str(w.message)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


def test_write_csv_cp1252_roundtrip(spark, tmp_path):
    """S5 cp1252 sink -> S1 fallback read must be value-exact and emit
    real cp1252 bytes (0x80-0x9F range). Empty string reads back as
    null — the same conflation the reference's pandas round-trip makes
    ('' -> NaN), and a Spark CSV reader limitation for string columns."""
    from capex_data_pipeline_spark.sources.csv import (
        read_csv_with_fallback,
        sniff_encoding,
    )
    from capex_data_pipeline_spark.sources.sinks import write_csv_cp1252

    df = spark.createDataFrame(
        [
            (1, "plain ascii", 1.5),
            (2, "dash – and € and “quotes”", 2.5),
            (3, None, None),
            (4, "", 0.0),
            (5, "  leading and trailing  ", 3.5),
        ],
        "id long, txt string, amt double",
    )
    out = str(tmp_path / "cp1252_out")
    write_csv_cp1252(df, out)
    assert sniff_encoding(out) == "cp1252"  # directory-aware sniff
    # the en-dash really is the single cp1252 byte 0x96
    import glob

    blob = b"".join(open(p, "rb").read() for p in glob.glob(out + "/part-*"))
    assert b"\x96" in blob and "–".encode("utf-8") not in blob

    back = read_csv_with_fallback(spark, out, schema=df.schema)
    got = {r.id: (r.txt, r.amt) for r in back.collect()}
    want = {r.id: (r.txt, r.amt) for r in df.collect()}
    want[4] = (None, 0.0)  # '' -> null, reference-conflating semantics
    assert got == want


def test_sniff_tolerates_prefix_cut_mid_multibyte(tmp_path):
    """A sniff prefix boundary landing inside a multibyte UTF-8 char
    must not falsely reject utf-8 (which would mojibake the whole read
    as cp1252)."""
    # 'é' = 2 bytes in UTF-8; a 1-byte-short prefix cuts it in half
    data = ("col\n" + "a" * 100).encode("utf-8") + "é".encode("utf-8")
    p = _write(tmp_path / "cut.csv", data)
    assert sniff_encoding(p, sniff_bytes=len(data) - 1) == "utf-8"
    # whole-file read still validates the final char strictly: raw
    # cp1252 bytes keep sniffing as cp1252
    d2 = ("col\n" + "a" * 100).encode("utf-8") + b"\x96"
    p2 = _write(tmp_path / "cp.csv", d2)
    assert sniff_encoding(p2, sniff_bytes=len(d2) + 10) == "cp1252"


def test_write_csv_cp1252_strict_rejects_unencodable(spark, tmp_path):
    """Characters with no cp1252 byte must raise up front (pandas
    to_csv(encoding='cp1252') parity) instead of silently writing '?';
    strict=False opts into the substituting write."""
    from capex_data_pipeline_spark.sources.sinks import write_csv_cp1252

    df = spark.createDataFrame([(1, "emoji ☃ here")], "id long, txt string")
    out = str(tmp_path / "strict_out")
    with pytest.raises(ValueError, match="not representable in cp1252"):
        write_csv_cp1252(df, out)
    write_csv_cp1252(df, out, strict=False)  # substituting write succeeds


def test_sniff_whole_file_exactly_sniff_bytes(tmp_path):
    """A file whose size equals the sniff budget is a WHOLE file: its
    trailing bytes must be decoded strictly (final=True), so a raw
    cp1252 byte at the very end still routes to cp1252 rather than
    being buffered as an 'incomplete' utf-8 sequence."""
    data = ("col\n" + "a" * 10).encode("utf-8") + b"\xe2\x80"  # truncated utf-8
    p = _write(tmp_path / "exact.csv", data)
    assert sniff_encoding(p, sniff_bytes=len(data)) == "cp1252"


def test_write_csv_cp1252_strict_rejects_c1_controls_and_bad_headers(spark, tmp_path):
    """cp1252 cannot encode U+0080-U+009F (it reuses those bytes for
    the euro/quotes block): strict mode must raise for them — pandas
    to_csv(encoding='cp1252') parity — and for non-encodable column
    names, which also travel through the charset via the header."""
    from capex_data_pipeline_spark.sources.sinks import write_csv_cp1252

    df = spark.createDataFrame(
        [(1, "control \u0091 char")], "id long, txt string"
    )
    with pytest.raises(ValueError, match="not representable in cp1252"):
        write_csv_cp1252(df, str(tmp_path / "c1_out"))

    df2 = spark.createDataFrame([(1, "ok")], "id long, `temp_Ω` string")
    with pytest.raises(ValueError, match="column name"):
        write_csv_cp1252(df2, str(tmp_path / "hdr_out"))


def test_write_csv_cp1252_header_with_cp1252_only_chars(spark, tmp_path):
    """Column names carrying the 27 cp1252-only chars (en-dash, euro)
    are encodable — but only via the same cp1252->latin1 byte fixup the
    values get. Strict mode must vouch for a byte-faithful header, and
    the fallback reader must restore the exact names."""
    from capex_data_pipeline_spark.sources.csv import (
        read_csv_with_fallback,
        sniff_encoding,
    )
    from capex_data_pipeline_spark.sources.sinks import write_csv_cp1252

    df = spark.createDataFrame(
        [(1, "x"), (2, "dash – here")],
        ["id", "budget – 2026 €"],
    )
    out = str(tmp_path / "hdr_cp1252_out")
    write_csv_cp1252(df, out)
    import glob

    blob = b"".join(open(p, "rb").read() for p in sorted(glob.glob(out + "/part-*")))
    header = blob.split(b"\n", 1)[0]
    assert header == "id,budget – 2026 €".encode("cp1252")
    assert b"?" not in header  # no silent JVM substitution
    assert sniff_encoding(out) == "cp1252"

    back = read_csv_with_fallback(spark, out)
    assert back.columns == ["id", "budget – 2026 €"]
    vals = {r["id"] for r in back.select("id").collect()}
    assert vals == {1, 2}  # inferSchema: ids come back as ints


def test_csv_bytes_overflow_guard(spark):
    """csv_bytes must not hand back a silently truncated download:
    over-limit raises by default, on_overflow='truncate' keeps limit
    rows with a warning, and an exactly-at-limit frame passes whole."""
    import logging

    from capex_data_pipeline_spark.sources.sinks import csv_bytes

    df = spark.range(10).orderBy("id")
    with pytest.raises(ValueError, match="exceeds limit=5"):
        csv_bytes(df, limit=5)

    data = csv_bytes(df, limit=5, on_overflow="truncate")
    lines = data.decode("utf-8").strip().splitlines()
    assert len(lines) == 1 + 5  # header + limit rows

    whole = csv_bytes(df, limit=10)  # exactly at the limit: complete
    assert len(whole.decode("utf-8").strip().splitlines()) == 1 + 10

    with pytest.raises(ValueError, match="on_overflow"):
        csv_bytes(df, limit=5, on_overflow="warn")


# ---- cp1252 round-trip property tests -------------------------------

#: every character cp1252 can encode: ASCII, the latin1 block A0-FF,
#: and the 27 cp1252-only chars mapped into 0x80-0x9F
_CP1252_ONLY = "€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ"
_ENCODABLE_ALPHABET = (
    [chr(c) for c in range(0x20, 0x7F)]  # printable ASCII
    + [chr(c) for c in range(0xA0, 0x100)]
    + list(_CP1252_ONLY)
)
#: characters with NO cp1252 byte: C1 controls (cp1252 reuses those
#: bytes), the 5 holes in 0x80-0x9F, BMP letters beyond FF, astral
_UNENCODABLE_SAMPLES = (
    [chr(c) for c in range(0x80, 0xA0)]
    + ["Ω", "Ω", "☃", "中", "\U0001F600", "ڐ"]
)


def _hyp():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    return given, settings, st


def test_cp1252_translate_tables_property():
    """The distributed writer is F.translate + iso-8859-1 bytes and the
    reader is the inverse; both reduce to pure string maps whose
    invariants hold for EVERY cp1252-encodable string:
      write: s.translate(TO->FROM).encode('latin1') == s.encode('cp1252')
      read:  raw.decode('latin1').translate(FROM->TO) == raw.decode('cp1252')
    """
    from capex_data_pipeline_spark.sources.csv import _CP1252_FROM, _CP1252_TO

    given, settings, st = _hyp()
    to_latin1 = str.maketrans(_CP1252_TO, _CP1252_FROM)
    from_latin1 = str.maketrans(_CP1252_FROM, _CP1252_TO)

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=_ENCODABLE_ALPHABET, max_size=80))
    def prop(s):
        raw = s.translate(to_latin1).encode("latin1")
        assert raw == s.encode("cp1252")
        assert raw.decode("latin1").translate(from_latin1) == raw.decode("cp1252")
        assert raw.decode("cp1252") == s  # full round-trip

    prop()


def test_cp1252_strict_class_matches_encodable_set():
    """The strict-mode rlike class must flag EXACTLY the strings that
    pandas' to_csv(encoding='cp1252') would refuse: mixed
    encodable/unencodable strings classified by Python's own cp1252
    codec, compared against the same regex the sink ships to the JVM."""
    import re

    from capex_data_pipeline_spark.sources.csv import _CP1252_TO

    given, settings, st = _hyp()
    bad_class = re.compile("[^\\x00-\\x7F\\xA0-\\xFF" + re.escape(_CP1252_TO) + "]")

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(
            alphabet=_ENCODABLE_ALPHABET + _UNENCODABLE_SAMPLES, max_size=60
        )
    )
    def prop(s):
        try:
            s.encode("cp1252")
            encodable = True
        except UnicodeEncodeError:
            encodable = False
        assert (bad_class.search(s) is None) == encodable

    prop()


def test_cp1252_roundtrip_property_through_spark(spark, tmp_path):
    """End-to-end S5->S1 on a hypothesis-generated corpus over the full
    encodable alphabet: one distributed write + fallback read must be
    value-exact for every generated string (newlines/quotes excluded —
    CSV framing, not encoding; '' reads as null by documented
    conflation)."""
    from capex_data_pipeline_spark.sources.csv import read_csv_with_fallback
    from capex_data_pipeline_spark.sources.sinks import write_csv_cp1252

    given, settings, st = _hyp()
    cell = st.text(
        alphabet=[c for c in _ENCODABLE_ALPHABET if c not in '\r\n"'],
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=6, deadline=None)
    @given(st.lists(cell, min_size=1, max_size=25, unique=True))
    def prop(texts):
        import shutil
        import uuid

        out = str(tmp_path / f"prop_{uuid.uuid4().hex[:10]}")
        df = spark.createDataFrame(
            list(enumerate(texts)), "id long, txt string"
        )
        try:
            write_csv_cp1252(df, out)
            back = read_csv_with_fallback(
                spark, out, schema=df.schema
            )
            got = {r.id: r.txt for r in back.collect()}
            want = {i: (t if t.strip("\x00") else None) for i, t in enumerate(texts)}
            assert got == want
        finally:
            shutil.rmtree(out, ignore_errors=True)

    prop()


def test_partitioned_write_prunes_partitions_in_plan(spark, tmp_path):
    """Partition pruning must be visible IN THE PLAN, not inferred from
    counts: reading back a partitioned layout with an equality filter
    on the partition column shows it as a PartitionFilter on the scan
    (no data-column filter is involved at all)."""
    from capex_data_pipeline_spark.sources.sinks import write_parquet

    df = spark.range(100).withColumnRenamed("id", "k")
    write_parquet(
        df.withColumn("bucket", (df.k % 4).cast("int")),
        str(tmp_path / "pq_parts"),
        partition_by=["bucket"],
    )
    back = spark.read.parquet(str(tmp_path / "pq_parts")).filter("bucket = 2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines, plan
    assert "bucket" in scan_lines[0]
    assert back.count() == 25


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    """JSONL sink → source round-trip is value-faithful with an
    explicit schema; a hand-planted undecodable line lands in
    _corrupt_record with data columns null (PERMISSIVE), is dropped
    under DROPMALFORMED, and fails under FAILFAST."""
    import pytest

    from capex_data_pipeline_spark.sources.jsonl import (
        infer_jsonl_schema,
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", None), (3, None, -2.0)],
        "id long, name string, score double",
    )
    out = str(tmp_path / "jl")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, "id long, name string, score double")
    assert sorted(
        (r["id"], r["name"], r["score"]) for r in back.collect()
    ) == [(1, "alpha", 1.5), (2, "beta", None), (3, None, -2.0)]
    assert "_corrupt_record" in back.columns

    # plant a corrupt line alongside valid ones
    bad_dir = tmp_path / "jl_bad"
    bad_dir.mkdir()
    (bad_dir / "part-0.json").write_text(
        '{"id": 10, "name": "ok", "score": 1.0}\n'
        "THIS IS NOT JSON\n"
        '{"id": 11, "name": "also ok", "score": 2.0}\n'
    )
    schema = "id long, name string, score double"
    got = read_jsonl(spark, str(bad_dir), schema).collect()
    corrupt = [r for r in got if r["_corrupt_record"] is not None]
    assert len(got) == 3 and len(corrupt) == 1
    assert corrupt[0]["_corrupt_record"] == "THIS IS NOT JSON"
    assert corrupt[0]["id"] is None

    dropped = read_jsonl(
        spark, str(bad_dir), schema, mode="DROPMALFORMED", capture_corrupt=False
    )
    assert sorted(r["id"] for r in dropped.collect()) == [10, 11]

    with pytest.raises(Exception):
        read_jsonl(
            spark, str(bad_dir), schema, mode="FAILFAST", capture_corrupt=False
        ).collect()

    # inference helper agrees on the happy-path fields
    inferred = infer_jsonl_schema(spark, out)
    assert {"id", "name", "score"} <= set(inferred.fieldNames())

    # gzip + partitioned write round-trips too
    out2 = str(tmp_path / "jl_gz")
    write_jsonl(
        df.withColumn("b", (df.id % 2).cast("int")),
        out2,
        compression="gzip",
        partition_by=["b"],
    )
    back2 = read_jsonl(spark, out2, "id long, name string, score double, b int")
    assert back2.count() == 3


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


def _rows_per_partition(df) -> list[int]:
    """Row counts of the non-empty partitions of ``df``."""
    return [
        r["count"]
        for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]


def test_spread_counts_files_not_scan_partitions(spark, tmp_path):
    """A one-row-group parquet file can scan as many size-based
    partitions, yet every row lands in the one partition that owns the
    row group: the spread must still fan it out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    dp = spark.sparkContext.defaultParallelism
    if dp < 2:
        pytest.skip("spreading needs defaultParallelism >= 2")
    n = 20_000
    path = str(tmp_path / "one_row_group.parquet")
    pq.write_table(
        pa.table({"id": list(range(n)), "s": [f"row-{i:08d}" for i in range(n)]}),
        path,
        row_group_size=n,
        compression="none",
    )
    assert pq.ParquetFile(path).num_row_groups == 1
    size = (tmp_path / "one_row_group.parquet").stat().st_size
    conf = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(max(1, size // (dp + 1))))
    try:
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= dp
        assert _rows_per_partition(df) == [n]
        spread = _rows_per_partition(spread_few_splits(df))
        assert len(spread) >= 2 and sum(spread) == n
    finally:
        spark.conf.set(conf, prev)


def test_spread_fileless_single_partition(spark):
    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    dp = spark.sparkContext.defaultParallelism
    if dp < 2:
        pytest.skip("spreading needs defaultParallelism >= 2")
    out = spread_few_splits(spark.range(1000).coalesce(1))
    assert out.rdd.getNumPartitions() == dp
    assert sum(_rows_per_partition(out)) == 1000


def test_spread_many_files_unchanged(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from capex_data_pipeline_spark.sources.parquet import spread_few_splits

    dp = spark.sparkContext.defaultParallelism
    for i in range(dp):
        pq.write_table(
            pa.table({"id": list(range(i * 100, (i + 1) * 100))}),
            str(tmp_path / f"part-{i}.parquet"),
        )
    df = spark.read.parquet(str(tmp_path))
    assert len(df.inputFiles()) >= dp
    assert spread_few_splits(df) is df
