"""Sinks (S5 in SURVEY.md §2.1) — the reference's only sink is an
in-memory CSV download link (app.py:117-122); at scale the equivalents
are partitioned distributed writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", header: bool = True, **options
) -> None:
    """Distributed CSV write (one file per partition). For a
    UI-download-sized result, coalesce(1) first — never for bulk data.
    Extra ``options`` pass through to the writer. Value-faithful by
    default: Spark's CSV writer trims leading/trailing whitespace
    unless told otherwise — a data sink must round-trip values
    byte-exactly."""
    w = (
        df.write.mode(mode)
        .option("header", str(header).lower())
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
    )
    for k, v in options.items():
        w = w.option(k, v)
    w.csv(path)


def write_csv_cp1252(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    strict: bool = True,
) -> None:
    """CSV sink producing cp1252 bytes (the reference corpus encoding,
    app.py:117-122 + its shipped data). Spark's CSV writer whitelists
    charsets (no cp1252), so this mirrors the reader's trick: cp1252
    differs from latin1 only in 0x80-0x9F — translate those chars to
    the latin1 code points whose BYTES equal the cp1252 encoding, then
    write iso-8859-1. One JVM-side projection, fully distributed. The
    output directory gets a ``_CHARSET`` marker naming cp1252, which
    :func:`~capex_data_pipeline_spark.sources.csv.sniff_encoding` trusts
    over its byte sniff (cp1252 text can also be valid UTF-8).

    ``strict`` (default) verifies no value carries a character outside
    the cp1252-ENCODABLE set before writing, and raises — matching
    pandas' ``to_csv(encoding='cp1252')`` UnicodeEncodeError — instead
    of letting the JVM writer silently substitute ``?`` (or emit bytes
    a cp1252 reader decodes as different characters). The encodable set
    is ASCII + U+00A0..U+00FF + the 27 cp1252-only chars; notably the
    C1 controls U+0080-U+009F are NOT encodable (cp1252 reuses those
    bytes). Column names are checked driver-side too (the header line
    goes through the same charset). The value check is one extra pass
    over the string columns; pass ``strict=False`` to skip both checks
    at scale when the data is known-clean."""
    from capex_data_pipeline_spark.sources.csv import (
        _CP1252_FROM,
        _CP1252_TO,
        CHARSET_MARKER,
    )

    if strict:
        for name in df.columns:
            try:
                name.encode("cp1252")
            except UnicodeEncodeError as exc:
                raise ValueError(
                    f"write_csv_cp1252: column name {name!r} not representable "
                    "in cp1252; rename it or pass strict=False"
                ) from exc

    str_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    if strict and str_cols:
        # pre-translate check against the true encodable set: anything
        # outside ASCII + U+00A0-U+00FF + the 27 cp1252-only chars (in
        # particular C1 controls U+0080-U+009F) has no cp1252 byte
        bad_class = "[^\\x00-\\x7F\\xA0-\\xFF" + _CP1252_TO + "]"
        bad = None
        for c in str_cols:
            expr = F.coalesce(F.col(c).rlike(bad_class), F.lit(False))
            bad = expr if bad is None else (bad | expr)
        offending = df.filter(bad).limit(1).collect()
        if offending:
            raise ValueError(
                "write_csv_cp1252: value not representable in cp1252 "
                f"(first offending row: {offending[0].asDict()}); clean the "
                "data or pass strict=False to write with '?' substitution"
            )
    fixed = df.select(
        *[
            F.translate(F.col(f.name), _CP1252_TO, _CP1252_FROM).alias(f.name)
            if isinstance(f.dataType, T.StringType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )
    # the header line travels through the same iso-8859-1 charset, so
    # column names need the identical cp1252->latin1 fixup: a name with
    # one of the 27 cp1252-only chars (en-dash, euro, ...) is perfectly
    # encodable — but only after mapping it to the latin1 code point
    # whose byte equals its cp1252 encoding
    name_fix = str.maketrans(_CP1252_TO, _CP1252_FROM)
    fixed = fixed.toDF(*[n.translate(name_fix) for n in fixed.columns])
    write_csv(fixed, path, mode=mode, header=header, encoding="iso-8859-1")
    if mode != "ignore":  # 'ignore' may have kept someone else's data
        # through the path's Hadoop FileSystem: one code path for local
        # disk, HDFS and object stores alike
        sc = df.sparkSession.sparkContext
        marker = sc._jvm.org.apache.hadoop.fs.Path(path, CHARSET_MARKER)
        out = marker.getFileSystem(sc._jsc.hadoopConfiguration()).create(marker, True)
        try:
            out.write(bytearray(b"cp1252"))
        finally:
            out.close()


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` low-cardinality columns (Zone,
    Category_Type, a date bucket) to get partition pruning on re-read —
    the layout choice that makes 100 TB outputs queryable."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    num_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed parquet table (``bucketBy`` requires ``saveAsTable``).

    Bucketing pre-shuffles the data ONCE at write time: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange on either side (and no sort either, when ``sort_cols``
    matches the join key) — at 100 TB this converts every repeated
    fact-to-fact join on the bucket key from a full-cluster shuffle
    into a local per-bucket merge. The same layout gives shuffle-free
    groupBy on the bucket key. Pinned by
    tests/test_sources.py::test_bucketed_join_has_no_exchange."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def csv_bytes(
    df: DataFrame, limit: int = 100_000, on_overflow: str = "raise"
) -> bytes:
    """The reference's download-link shape (app.py:117-122): materialize
    a bounded result to CSV bytes on the driver. Guarded by ``limit`` —
    this is for UI-sized frames only.

    No silent caps: overflow is detected by fetching ``limit + 1`` rows
    (one probe row, no extra count job). ``on_overflow='raise'``
    (default) refuses to hand back a partial download as if it were the
    whole result; ``'truncate'`` keeps the first ``limit`` rows and logs
    a warning instead."""
    if on_overflow not in ("raise", "truncate"):
        raise ValueError(f"on_overflow must be 'raise' or 'truncate', got {on_overflow!r}")
    pdf = df.limit(limit + 1).toPandas()
    if len(pdf) > limit:
        if on_overflow == "raise":
            raise ValueError(
                f"csv_bytes: result exceeds limit={limit} rows; raise the "
                "limit, filter the frame, or pass on_overflow='truncate'"
            )
        import logging

        logging.getLogger(__name__).warning(
            "csv_bytes: result exceeds limit=%d rows — truncating (explicit "
            "on_overflow='truncate')",
            limit,
        )
        pdf = pdf.iloc[:limit]
    return pdf.to_csv(index=False).encode("utf-8")
