"""Parquet source helpers for the test corpus and production tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(
    spark: SparkSession, sf_dir: str, name: str, pin_utc: bool = True
) -> DataFrame:
    """Read one corpus table. Nanosecond parquet timestamps (which Spark
    surfaces as LongType under ``nanosAsLong``) are normalized back to
    TimestampType at microsecond precision, matching what DuckDB sees."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # The events table has carried both INT64 TIMESTAMP(NANOS) and
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet columns across
    # corpus versions. Both confs are runtime-settable (non-static SQL
    # confs), so set them here rather than at session build — consuming
    # sessions we don't construct (e.g. an external driver harness) must
    # work too:
    #  - nanosAsLong: Spark rejects TIMESTAMP(NANOS) outright otherwise.
    #  - inferTimestampNTZ off: unadjusted micros timestamps then read as
    #    TimestampType via a RAW int64 copy (no session-timezone math in
    #    the decoder), i.e. the exact micros DuckDB sees. The NTZ ->
    #    TIMESTAMP cast route would instead shift by the consuming
    #    session's spark.sql.session.timeZone.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Downstream operators render timestamps to dates/strings
    # (date_format, window boundaries); those go through the session
    # timezone. The engine's documented contract — and what makes the
    # naive-timestamp DuckDB oracles valid — is UTC rendering, so pin it
    # for consuming sessions we didn't construct (get_spark already
    # sets it; an external harness session might not). Reassigning a
    # session-global conf from inside a reader is a side effect the
    # caller may not want, so it is (a) warned about and (b) opt-out via
    # ``pin_utc=False`` for sessions that deliberately run elsewhere.
    if pin_utc:
        current_tz = spark.conf.get("spark.sql.session.timeZone", "")
        if current_tz != "UTC":
            import warnings

            warnings.warn(
                f"read_table: pinning spark.sql.session.timeZone to UTC "
                f"(was {current_tz!r}) — the engine's timestamp-rendering "
                f"contract is UTC; pass pin_utc=False to keep the session "
                f"timezone (timestamp-rendering queries may then diverge "
                f"from the documented semantics)",
                stacklevel=2,
            )
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer division: truncate nanos exactly like DuckDB's epoch_us
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TPCH_TABLES,
    pin_utc: bool = True,
) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n, pin_utc=pin_utc) for n in names}


#: floor on estimated compressed input bytes per spread task: the
#: round-robin fan-out never creates partitions carrying less than
#: this, so a tiny frame (a 100-row dimension extract) stops fanning
#: out to full cluster width (thousands of near-empty partitions on a
#: large cluster — every downstream stage then pays their scheduling).
#: 4 KB compressed is still only a few hundred rows of heavy per-row
#: compute per task — small enough that every frame the engine
#: deliberately spreads locally keeps its full fan-out.
_SPREAD_MIN_TASK_BYTES = 4096


def _bytes_conf(value: "str | None", default: int) -> int:
    """Parse a Spark byte-size conf string ('128MB', '4m', bare
    bytes). Returns ``default`` on None/unparseable."""
    if not value:
        return default
    s = value.strip().lower()
    mult = 1
    for suffix, m in (
        ("tb", 1024**4), ("t", 1024**4),
        ("gb", 1024**3), ("g", 1024**3),
        ("mb", 1024**2), ("m", 1024**2),
        ("kb", 1024), ("k", 1024),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def _estimated_scan_splits(df: DataFrame) -> "tuple[int, int] | None":
    """(estimated scan partition count, total compressed bytes) of the
    frame's leaf file scan, computed from the file listing alone —
    replicating Spark's FilePartition packing (maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartNum));
    splits sorted desc, packed greedily with openCost per file piece).
    None when the frame has no file leaves (synth/boundary-cut inputs)
    or non-local files — callers fall back to the RDD partition count.

    Exists so the few-split gate does NOT build the physical plan /
    RDD DAG per call (``df.rdd.getNumPartitions()`` forces full
    Catalyst optimization each time — measurable driver overhead on
    complex inputs, and with AQE it can even materialize upstream
    query stages)."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        if not uri.startswith("file:"):
            return None
        try:
            sizes.append(os.path.getsize(unquote(urlparse(uri).path)))
        except OSError:
            return None
    conf = df.sparkSession.conf
    sc = df.sparkSession.sparkContext
    max_pb = _bytes_conf(
        conf.get("spark.sql.files.maxPartitionBytes", None), 128 * 1024**2
    )
    open_cost = _bytes_conf(
        conf.get("spark.sql.files.openCostInBytes", None), 4 * 1024**2
    )
    min_pn_raw = conf.get("spark.sql.files.minPartitionNum", None)
    leaf_par = conf.get(
        "spark.sql.leafNodeDefaultParallelism", None
    )
    min_pn = int(
        min_pn_raw or leaf_par or sc.defaultParallelism
    )
    total_bytes = sum(sizes)
    total = total_bytes + open_cost * len(sizes)
    max_split = min(max_pb, max(open_cost, total // max(1, min_pn)))
    max_split = max(1, max_split)
    pieces: list[int] = []
    for s in sizes:
        n_full, rem = divmod(s, max_split)
        pieces.extend([max_split] * n_full)
        if rem:
            pieces.append(rem)
    pieces.sort(reverse=True)
    nparts, cur = 0, 0
    for p in pieces:
        if cur and cur + p > max_split:
            nparts += 1
            cur = 0
        cur += p + open_cost
    if cur:
        nparts += 1
    return nparts, total_bytes


def spread_few_splits(df: DataFrame) -> DataFrame:
    """Restore executor parallelism over a FEW-SPLIT input before
    heavy per-row compute (shingles, per-row md5 fan-outs, signature
    batteries, wide decimal aggregates).

    A parquet file is splittable only at row-group boundaries; a
    single-row-group file — the shape of every testdata table, and of
    any small upstream extract — therefore scans as ONE task no matter
    how many cores the cluster has, and every codegen'd stage fused
    onto that scan runs single-threaded (the unsplittable-input case
    of the optimization guide: repartition right after the read). One
    round-robin exchange of the (ideally pre-projected) frame spreads
    the rows across ``defaultParallelism`` tasks.

    Scale-adaptive, not local-tuned: when the scan already carries at
    least the target partition count — any real many-split table at
    production scale — this is a NO-OP, so consumers never pay a
    pointless corpus shuffle; the exchange only appears when the input
    genuinely cannot parallelize by splits. The fan-out is additionally
    BOUNDED by input size (>= ~:data:`_SPREAD_MIN_TASK_BYTES`
    compressed bytes per task), so a tiny dimension extract on a wide
    cluster never explodes into thousands of near-empty partitions.
    The split count is estimated from the leaf file listing
    (:func:`_estimated_scan_splits`) — no physical planning per call;
    only file-less inputs (synth frames, plan-boundary cuts) fall back
    to ``df.rdd.getNumPartitions()``. Row order is not preserved —
    callers must be order-insensitive (every consumer here is an
    aggregation or per-row flag; their oracles re-certify value
    equality)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_splits(df)
    if est is not None:
        nparts, total_bytes = est
        target = min(
            target, max(1, -(-total_bytes // _SPREAD_MIN_TASK_BYTES))
        )
    else:
        nparts = df.rdd.getNumPartitions()
    if nparts >= target or target <= 1:
        return df
    return df.repartition(target)
