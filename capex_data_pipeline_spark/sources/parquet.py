"""Parquet source helpers for the test corpus and production tables."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

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


def spread_few_splits(df: DataFrame) -> DataFrame:
    """Restore executor parallelism over a FEW-FILE input before heavy
    per-row compute (shingles, per-row md5 fan-outs, signature
    batteries, wide decimal aggregates).

    The decision counts input FILES, not scan partitions. A row group
    is the smallest unit a parquet scan can split: a single-row-group
    file — the shape of every testdata table, and of any small
    upstream extract — may scan as several size-based partitions, yet
    every row lands in the one partition that owns the row group, and
    every codegen'd stage fused onto that scan runs single-threaded.
    So a frame with fewer input files than the target gets one
    round-robin exchange of the (ideally pre-projected) frame, which
    spreads the rows across the target's tasks.

    The target is ``defaultParallelism``, bounded by input size
    (>= ~:data:`_SPREAD_MIN_TASK_BYTES` compressed bytes per task for
    local files), so a tiny dimension extract on a wide cluster never
    explodes into thousands of near-empty partitions. A frame with at
    least the target number of files — any real many-file table at
    production scale — is returned unchanged. Frames without input
    files (synth frames, plan-boundary cuts) compare their RDD
    partition count instead. Row order is not preserved — callers must
    be order-insensitive (every consumer here is an aggregation or
    per-row flag; their oracles re-certify value equality)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        nparts = len(files)
        paths = [
            unquote(urlparse(f).path) for f in files if f.startswith("file:")
        ]
        if len(paths) == nparts:
            try:
                total_bytes = sum(os.path.getsize(p) for p in paths)
            except OSError:
                pass
            else:
                target = min(
                    target, max(1, -(-total_bytes // _SPREAD_MIN_TASK_BYTES))
                )
    else:
        nparts = df.rdd.getNumPartitions()
    if nparts >= target or target <= 1:
        return df
    return df.repartition(target)
