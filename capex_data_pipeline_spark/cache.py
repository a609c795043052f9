"""Tracked persistence — a release handle for every block the engine
takes out, whether by ``persist()`` or by a ``localCheckpoint`` cut.

Several operators persist an intermediate frame that is consumed more
than once inside the plan they return (dedup signature frames, the
fail-open add-back frame, the q93 false-negative key set).  The persist
is a structural win — without it the producing subplan runs once per
consumer — but Spark never evicts MEMORY_AND_DISK blocks on its own, so
a long-lived session that calls these operators repeatedly would
accumulate cached blocks without bound. The capex pipeline's two
fan-out frames (tagged lineage, final processed) are cut with
:func:`plan_boundary` instead: a local checkpoint holds executor blocks
the same way, and is tracked the same way.

Every engine-internal ``persist`` therefore goes through
:func:`persisted`, and the pipeline's checkpoint cuts through
:func:`track`; both register the frame here.  Callers can release
everything with :func:`release_persisted` (e.g. between batches of a
long-lived service), and :class:`~capex_data_pipeline_spark.plans.pipeline.PipelineResult`
exposes a per-run ``unpersist()`` over just its own frames. All three
release paths go through :func:`release_frame`.
"""

from __future__ import annotations

import os
import threading
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: guards _TRACKED / _RELEASE_HOOKS — Spark driver apps routinely call
#: operators from multiple threads (concurrent job submission is the
#: documented way to overlap independent actions), so registry
#: mutations must not race. The lock is held only around list
#: mutations, never across JVM calls (persist/unpersist).
_LOCK = threading.RLock()
_TRACKED: list[DataFrame] = []
_RELEASE_HOOKS: list[Callable[[], "int | None"]] = []


def track(df: DataFrame) -> DataFrame:
    """Register a frame that holds blocks (a persist or a checkpoint
    cut) for later release; returns it."""
    with _LOCK:
        _TRACKED.append(df)
    return df


def persisted(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)`` + register the frame for later release."""
    return track(df.persist(level))


def checkpoint_rdd(df: DataFrame):
    """The JVM RDD behind a checkpoint cut (a frame whose analyzed plan
    is a ``LogicalRDD`` leaf, as ``localCheckpoint`` returns), else
    None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def release_frame(df: DataFrame, blocking: bool = False) -> None:
    """Drop the blocks behind one tracked frame. A persisted frame is
    unpersisted: readers of it recompute. A checkpoint cut's RDD is
    unpersisted: its lineage is gone, so a later read of the cut raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing —
    release a cut only when nothing will read it again."""
    rdd = checkpoint_rdd(df)
    if rdd is None:
        df.unpersist(blocking)
    else:
        rdd.unpersist(blocking)


def untrack(df: DataFrame) -> None:
    """Drop a frame from the release registry (identity match). Called
    by the per-run release paths (``PipelineResult.unpersist``) so an
    already-released frame neither lingers as a strong driver-side
    reference nor gets double-released later."""
    with _LOCK:
        for i in range(len(_TRACKED) - 1, -1, -1):
            if _TRACKED[i] is df:
                del _TRACKED[i]


def register_release_hook(hook: Callable[[], "int | None"]) -> None:
    """Run ``hook`` at the START of :func:`release_persisted`. Used by
    higher layers that memoize results built on persisted frames (the
    pipeline-plan cache): releasing the blocks under a live memo would
    leave it silently serving cold plans, so the memo registers its own
    invalidation here and the two release mechanisms stay coherent.
    A hook that releases frames itself should return how many, so the
    release_persisted total stays accurate."""
    with _LOCK:
        if hook not in _RELEASE_HOOKS:
            _RELEASE_HOOKS.append(hook)


def release_persisted(blocking: bool = False) -> int:
    """:func:`release_frame` every tracked frame; returns how many
    were released.

    Safe to call at any time: frames whose blocks were already evicted
    or whose session is gone are skipped.  A consumer holding a released
    *persisted* frame can still use it (the subplan recomputes); a
    released *checkpoint cut* (the pipeline's tagged and processed
    frames) cannot be read again. Registered release hooks (memo
    invalidation) run first.
    """
    released = 0
    with _LOCK:
        hooks = list(_RELEASE_HOOKS)
    for hook in hooks:
        try:
            n = hook()
            if isinstance(n, int):
                released += n
        except Exception:
            pass
    while True:
        with _LOCK:
            if not _TRACKED:
                break
            df = _TRACKED.pop()
        try:
            release_frame(df, blocking)
            released += 1
        except Exception:
            pass
    return released


def tracked_count() -> int:
    with _LOCK:
        return len(_TRACKED)


#: staging paths written by plan_boundary(mode='staging'), for
#: clear_staging() best-effort local cleanup
_STAGED_PATHS: list[str] = []
_STAGED_TABLES: list[str] = []


def plan_boundary(
    df: DataFrame,
    *,
    mode: str | None = None,
    staging_dir: str | None = None,
    eager: bool = False,
    label: str = "boundary",
    bucket_by: "list[str] | None" = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Cut the logical plan: return a DataFrame with ``df``'s data but
    a trivial producing plan, so downstream consumers stop re-walking
    (and the analyzer stops re-embedding) a deep upstream DAG.

    Two modes:

    - ``'local'`` (default): ``localCheckpoint(eager=...)`` — blocks
      live on executor-local storage. Fast, but blocks are LOST when
      an executor is decommissioned (dynamic allocation, spot kills);
      on such clusters use staging.
    - ``'staging'``: write the frame to a parquet staging table under
      ``staging_dir`` (or ``$SPARK_GRAFT_STAGING_DIR``) and read it
      back — the write is durable on the shared filesystem (HDFS/S3/
      DBFS), survives executor loss, and the read-back plan is a
      plain pruned scan. Always eager (the write runs now). Parquet
      round-trips every type the engine uses; staged files persist
      until :func:`clear_staging` (best-effort, local paths only) or
      external lifecycle rules remove them.

    ``mode=None`` resolves from ``$SPARK_GRAFT_BOUNDARY`` (default
    ``'local'``) so a cluster deployment can flip every internal
    boundary to staging without touching call sites.

    ``bucket_by`` (staging mode only): write the staged frame as a
    BUCKETED table on the given key (``sources.bucketed`` machinery,
    per-bucket sorted on the same key) instead of plain parquet. The
    read-back scan then reports hash partitioning on that key, so an
    iterative operator's round-over-round self-joins and aggregates
    on the key run with ZERO Exchange after the boundary — the
    boundary pays the one shuffle the later rounds would each have
    paid (pinned in tests/test_bucketed.py). Size ``n_buckets`` like
    shuffle partitions: one bucket of the frame per executor-memory
    unit at target scale.
    """
    mode = mode or os.environ.get("SPARK_GRAFT_BOUNDARY", "local")
    if mode == "local":
        if bucket_by:
            raise ValueError(
                "plan_boundary: bucket_by requires mode='staging' "
                "(localCheckpoint blocks carry no bucketing metadata)"
            )
        return df.localCheckpoint(eager=eager)
    if mode != "staging":
        raise ValueError(
            f"plan_boundary: unknown mode {mode!r} (use 'local' or 'staging')"
        )
    staging_dir = staging_dir or os.environ.get("SPARK_GRAFT_STAGING_DIR")
    if not staging_dir:
        raise ValueError(
            "plan_boundary: mode='staging' needs staging_dir= or "
            "$SPARK_GRAFT_STAGING_DIR (a shared filesystem path on "
            "real clusters)"
        )
    suffix = uuid.uuid4().hex
    path = staging_dir.rstrip("/") + f"/{label}-{suffix}"
    if bucket_by:
        import re

        from capex_data_pipeline_spark.sources.bucketed import write_bucketed

        # labels are caller-supplied and often hyphenated ('bpe-train');
        # sanitize so saveAsTable / DROP TABLE parse
        safe_label = re.sub(r"[^A-Za-z0-9_]", "_", label)
        table = f"staging_{safe_label}_{suffix}"
        write_bucketed(
            df,
            table,
            bucket_cols=list(bucket_by),
            n_buckets=n_buckets,
            sort_cols=list(bucket_by),
            path=path,
            mode="error",
        )
        with _LOCK:
            _STAGED_PATHS.append(path)
            _STAGED_TABLES.append(table)
        return df.sparkSession.table(table)
    df.write.mode("error").parquet(path)
    with _LOCK:
        _STAGED_PATHS.append(path)
    return df.sparkSession.read.parquet(path)


def clear_staging() -> int:
    """Best-effort removal of local staging paths written by
    :func:`plan_boundary` (returns how many were deleted), plus
    dropping any bucketed staging tables it registered in the session
    catalog (external tables — the data files are covered by the path
    removal). Paths on non-local filesystems are left to external
    lifecycle rules — the list is simply dropped."""
    import shutil

    with _LOCK:
        paths, _STAGED_PATHS[:] = list(_STAGED_PATHS), []
        tables, _STAGED_TABLES[:] = list(_STAGED_TABLES), []
    if tables:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            for t in tables:
                try:
                    spark.sql(f"DROP TABLE IF EXISTS `{t}`")
                except Exception:  # noqa: BLE001 - cleanup is best-effort
                    pass
    n = 0
    for p in paths:
        try:
            if os.path.isdir(p):
                shutil.rmtree(p)
                n += 1
        except OSError:
            pass
    return n


@contextmanager
def scoped_persists(blocking: bool = False):
    """Release just the frames persisted inside the ``with`` block —
    the operator-level counterpart of ``PipelineResult.unpersist``, so
    a long-lived service can free one dedup/enrichment computation
    without the all-or-nothing :func:`release_persisted` (which also
    invalidates the pipeline memo via its hook).

    Yields a ``release()`` callable for early release; exit releases
    whatever remains. Frames persisted by OTHER threads while the block
    runs are swept too (the registry is process-global) — serialize
    operator invocation, or use :func:`release_persisted` at a quiet
    point, if that matters. One more sharing caveat: Spark's
    CacheManager keys cached data by CANONICALIZED PLAN, not by
    DataFrame object — if an identical computation was persisted
    outside the scope, both share one cache entry and the scoped
    release drops its blocks for the outer consumer as well (which then
    simply recomputes).
    """
    with _LOCK:
        before = list(_TRACKED)

    def release() -> int:
        with _LOCK:
            new = [df for df in _TRACKED if not any(df is b for b in before)]
        n = 0
        for df in new:
            untrack(df)
            try:
                release_frame(df, blocking)
                n += 1
            except Exception:
                pass
        return n

    try:
        yield release
    finally:
        release()
