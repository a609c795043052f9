"""Tracked persistence — a release handle for every block the engine
takes out, whether by ``persist()`` or by a ``localCheckpoint`` cut.

Several operators persist an intermediate frame that is consumed more
than once inside the plan they return (dedup signature frames, the
fail-open add-back frame, the q93 false-negative key set).  The persist
is a structural win — without it the producing subplan runs once per
consumer — but Spark never evicts MEMORY_AND_DISK blocks on its own, so
a long-lived session that calls these operators repeatedly would
accumulate cached blocks without bound. The capex pipeline's two
fan-out frames (tagged lineage, final processed) and the enrichment's
two inputs (FN keys, audit) are cut with :func:`plan_boundary`
instead: a local checkpoint holds executor blocks the same way, and is
tracked the same way.

Every engine-internal ``persist`` therefore goes through
:func:`persisted`, and those checkpoint cuts through :func:`track`;
both register the frame here.  Callers can release
everything with :func:`release_persisted` (e.g. between batches of a
long-lived service), and :class:`~capex_data_pipeline_spark.plans.pipeline.PipelineResult`
exposes a per-run ``unpersist()`` over just its own frames. All three
release paths go through :func:`release_frame`.

:func:`plan_boundary` is the one place that decides how a plan is
cut: ``$SPARK_GRAFT_BOUNDARY`` (``local`` checkpoint by default, or
``staging`` parquet under ``$SPARK_GRAFT_STAGING_DIR``) flips every
cut in the engine at once; no operator takes a cut-mode argument.
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
    frames, the enrichment's FN keys and audit, and every frame built
    on them) cannot be read again. Registered release hooks (memo
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


#: staging paths written by plan_boundary under 'staging', for
#: clear_staging() best-effort local cleanup
_STAGED_PATHS: list[str] = []


def plan_boundary(
    df: DataFrame, *, eager: bool = False, label: str = "boundary"
) -> DataFrame:
    """Cut the logical plan: return a DataFrame with ``df``'s data but
    a trivial producing plan, so downstream consumers stop re-walking
    (and the analyzer stops re-embedding) a deep upstream DAG.

    This is the one place that decides HOW a plan is cut. Operators
    decide only WHERE (their own cut rule); the how is a deployment
    setting, read from ``$SPARK_GRAFT_BOUNDARY``:

    - ``local`` (default): ``localCheckpoint(eager=...)`` — blocks
      live on executor-local storage. Fast, but blocks are LOST when
      an executor is decommissioned (dynamic allocation, spot kills);
      on such clusters use staging.
    - ``staging``: write the frame as parquet under
      ``$SPARK_GRAFT_STAGING_DIR`` and read it back — the write is
      durable on the shared filesystem (HDFS/S3/DBFS), survives
      executor loss, and the read-back plan is a plain pruned scan.
      Always eager (the write runs now). Parquet round-trips every
      type the engine uses; staged files persist until
      :func:`clear_staging` (best-effort, local paths only) or
      external lifecycle rules remove them.

    ``label`` names the staging path (``<label>-<uuid>``).
    """
    mode = os.environ.get("SPARK_GRAFT_BOUNDARY", "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode != "staging":
        raise ValueError(
            f"plan_boundary: unknown $SPARK_GRAFT_BOUNDARY {mode!r} "
            "(use 'local' or 'staging')"
        )
    staging_dir = os.environ.get("SPARK_GRAFT_STAGING_DIR")
    if not staging_dir:
        raise ValueError(
            "plan_boundary: SPARK_GRAFT_BOUNDARY=staging needs "
            "$SPARK_GRAFT_STAGING_DIR (a shared filesystem path on "
            "real clusters)"
        )
    path = staging_dir.rstrip("/") + f"/{label}-{uuid.uuid4().hex}"
    df.write.mode("error").parquet(path)
    with _LOCK:
        _STAGED_PATHS.append(path)
    return df.sparkSession.read.parquet(path)


def clear_staging() -> int:
    """Best-effort removal of local staging paths written by
    :func:`plan_boundary` (returns how many were deleted). Paths on
    non-local filesystems are left to external lifecycle rules — the
    list is simply dropped."""
    import shutil

    with _LOCK:
        paths, _STAGED_PATHS[:] = list(_STAGED_PATHS), []
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
