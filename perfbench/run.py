"""Benchmark of the capex engine: one workload per invocation.

    python3 perfbench/run.py --workload capex_etl --seed 1 --seconds 10 --trace 0

Set-up starts a host-sized Spark session through ``session.get_spark``,
generates the inputs from ``--seed`` into a private scratch directory
(three times; the median counts) and warms the engine up, while the
registry's DuckDB oracles compute the expected outputs on the side.
The timed loop then runs the workload's operation back to back, one
client, for ``--seconds`` seconds (at least once). The session is
stopped, and the outputs the last operation wrote are checked.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(that run also enables Spark's event log and charges its jobs to the
spans in ``perfbench/spans.py``). The line before it records the host,
the inputs and every check. ``--smoke`` runs each workload once at a
tiny scale, without warm-up, with its checks. The scratch directory
(under ``.perfbench_scratch/`` in the checkout) is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: spans whose Spark cost is reported per layer, in pipeline order
LAYER_SPANS = [
    "session.get_spark",
    "sources.read_csv",
    "sources.write",
    "plans.run_pipeline",
    "plans.materialize",
    "operators.summary_report",
    "operators.validate_processed",
    "operators.enrich.build",
    "operators.enrich.exec",
    "cache.release",
    "dedup.jaccard.build",
    "dedup.jaccard.exec",
    "graph.cc",
    "state.save_cc",
    "state.cc_fold.build",
    "state.cc_fold.exec",
]
SPAN_FIELDS = {"wall_s": "s", "jobs": "count", "task_s": "s", "driver_gap_s": "s"}
EXTRA_LAYER_METRICS = {
    "registry.build_ms": "ms",
    "registry.exec_ms": "ms",
    "registry.query_p50_ms": "ms",
    "registry.jobs_per_query": "count",
    "registry.tasks_per_query": "count",
    "cache.tracked_after": "count",
    "dedup.pairs_out": "count",
    "run.jobs_per_op": "count",
    "run.shuffle_write_bytes": "bytes",
    "run.spill_bytes": "bytes",
    "run.parallel_eff": "ratio",
    "run.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.span_coverage": "ratio",
}
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
}
#: staging repetitions whose median is the staging part of setup_s
STAGE_REPS = 3


def layer_units() -> dict[str, str]:
    units = {f"{s}.{f}": u for s in LAYER_SPANS for f, u in SPAN_FIELDS.items()}
    units.update(EXTRA_LAYER_METRICS)
    return units


def host_info() -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_kb,
        "git_commit": commit,
        "loadavg": list(os.getloadavg()),
    }


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def start_spark(scratch: str, host: dict, event_dir: str | None):
    from capex_data_pipeline_spark.session import get_spark

    # driver heap: a quarter of the host's memory (the rest is shared)
    heap_mb = max(host["mem_total_kb"] // 4 // 1024, 1024)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        # one plain JSON-lines file (Spark 4 defaults to rolling, zstd)
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(
        app_name="perfbench", master=f"local[{host['nproc']}]", extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def become_subreaper() -> None:
    """Adopt orphaned descendants (such as Python workers the JVM forks),
    so that ``reap_children`` can stop them before this process exits."""
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def child_pids() -> list[int]:
    me, pids = str(os.getpid()), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = fh.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            pids.append(int(d))
    return pids


def reap_children(grace_s: float = 10) -> None:
    """Stop every process still left under this one and wait for each:
    SIGTERM, then SIGKILL once ``grace_s`` has passed."""
    deadline = time.time() + grace_s
    while pids := child_pids():
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)
        for pid in pids:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)


def stage(wl, ctx, rep: int) -> None:
    import datagen

    ctx.data_dir = os.path.join(ctx.scratch, f"data{rep}")
    ctx.rows = datagen.generate(ctx.data_dir, ctx.seed, wl.sf, wl.n_docs)
    wl.stage(ctx)


def subtree(tracer, idx: int) -> list:
    """The spans under span ``idx`` (itself included)."""
    out, todo = [], [idx]
    while todo:
        i = todo.pop()
        out.append(tracer.spans[i])
        todo.extend(j for j, s in enumerate(tracer.spans) if s.parent == i)
    return out


def layer_metrics(wl, ctx, ops: list[int], host: dict, rss_kb: int) -> dict:
    tr = ctx.tracer
    med = statistics.median
    m = dict.fromkeys(layer_units(), 0.0)
    per_op = [subtree(tr, i) for i in ops]
    for name in LAYER_SPANS:
        rows = [[s for s in spans if s.name == name] for spans in per_op]
        if name == "session.get_spark":
            rows = [[s for s in tr.spans if s.name == name]]
        if not any(rows):
            continue
        for f in SPAN_FIELDS:
            m[f"{name}.{f}"] = med(sum(getattr(s, f) for s in r) for r in rows)
    queries = [subtree(tr, j) for i in ops for j, s in enumerate(tr.spans)
               if s.parent == i and s.name == "registry.query"]
    if queries:
        m["registry.build_ms"] = 1000 * med(
            s.wall_s for q in queries for s in q if s.name == "registry.build")
        m["registry.exec_ms"] = 1000 * med(
            s.wall_s for q in queries for s in q if s.name == "registry.exec")
        m["registry.query_p50_ms"] = 1000 * med(q[0].wall_s for q in queries)
        m["registry.jobs_per_query"] = statistics.mean(
            sum(s.jobs for s in q) for q in queries)
        m["registry.tasks_per_query"] = statistics.mean(
            sum(s.tasks for s in q) for q in queries)
    m["cache.tracked_after"] = float(ctx.state.get("tracked_after", 0))
    if hasattr(wl, "pairs_out"):
        m["dedup.pairs_out"] = float(wl.pairs_out(ctx))
    walls = [tr.spans[i].wall_s for i in ops]
    task_s = sum(s.task_s for spans in per_op for s in spans)
    m["run.jobs_per_op"] = statistics.mean(sum(s.jobs for s in sp) for sp in per_op)
    m["run.shuffle_write_bytes"] = statistics.mean(
        sum(s.shuffle_write_bytes for s in sp) for sp in per_op)
    m["run.spill_bytes"] = statistics.mean(sum(s.spill_bytes for s in sp) for sp in per_op)
    m["run.parallel_eff"] = task_s / (sum(walls) * host["nproc"])
    m["run.peak_rss_mb"] = rss_kb / 1024
    m["trace.wall_s"] = med(walls)
    m["trace.span_coverage"] = med(
        sum(s.wall_s for s in tr.children(i)) / tr.spans[i].wall_s for i in ops)
    return m


def run_workload(wl, args, host, scratch, failures: list) -> tuple[dict, dict]:
    """Set up, time and check one workload; returns (metrics, record)."""
    import datagen
    from expected import Oracles
    from spans import Tracer, attribute
    from workloads import Context

    t = time.time() if args.smoke else T0
    # the expected outputs: DuckDB oracles over the same seeded corpus,
    # computed on the side while the session starts and inputs stage
    expected_dir = os.path.join(scratch, "expected")
    rows = datagen.generate(expected_dir, args.seed, wl.sf, wl.n_docs)
    expected = Oracles(scratch, expected_dir, rows, wl.oracles())
    tracer = Tracer()
    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    try:
        with tracer.span("session.get_spark"):
            spark = start_spark(scratch, host, event_dir)
    except BaseException:
        expected.stop()
        raise
    session_s = time.time() - t
    record = {"workload": wl.name, "seed": args.seed, "spark": spark.version}
    ctx = Context(spark, tracer, scratch, args.seed)
    walls, lat, ops, checks, attempted = [], [], [], [], 0
    stage_s, warm_s, oracle_wait_s = [], 0.0, 0.0
    try:
        for rep in range(STAGE_REPS if not args.smoke else 1):
            t = time.time()
            stage(wl, ctx, rep)
            stage_s.append(time.time() - t)
        t = time.time()
        if not args.smoke:
            with tracer.span("warmup"):
                wl.warmup(ctx)
        warm_s = time.time() - t
        t = time.time()
        expected.wait()
        oracle_wait_s = time.time() - t
        setup_s = session_s + statistics.median(stage_s) + warm_s + oracle_wait_s

        deadline = time.time() + args.seconds
        while True:
            idx = len(tracer.spans)
            with tracer.span("op") as op:
                try:
                    q = wl.run_once(ctx, attempted)
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    traceback.print_exc()
                    failures.append(f"op {attempted}")
                    q = None
            if q is not None:
                ops.append(idx)
                walls.append(op.wall_s)
                lat.extend(q or [op.wall_s])
            attempted += 1
            if time.time() >= deadline:
                break
        rss_kb = vm_hwm_kb(os.getpid()) + vm_hwm_kb(
            spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)
        expected.stop()

    # outputs were written to files: check them with the JVM gone
    if walls:
        try:
            checks = wl.check(ctx, expected)
        except Exception:  # noqa: BLE001 - a failed check is counted
            traceback.print_exc()
            checks = [("check", False, "raised")]
    attempted += len(checks)
    failures.extend(name for name, ok, _ in checks if not ok)
    record.update(
        rows=ctx.rows, input_rows=wl.input_rows(ctx), ops=len(walls),
        query_latencies_s=lat,
        setup={"session_s": session_s, "stage_s": stage_s, "warmup_s": warm_s,
               "oracle_wait_s": oracle_wait_s},
        checks=[{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
    )
    if not walls:
        return {}, record | {"attempted": attempted}
    wall = statistics.median(walls)
    if args.trace:
        record["spark_totals"] = attribute(tracer, event_dir)
        metrics = layer_metrics(wl, ctx, ops, host, rss_kb)
        units = layer_units()
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": record["input_rows"] / wall,
        }
        units = END_TO_END
    record["attempted"] = attempted
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run each workload (or --workload) once at sf0.001")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "capex_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no capex_data_pipeline_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.smoke:
        args.seconds = 0
        names = [args.workload] if args.workload else list(WORKLOADS)
    elif args.workload in WORKLOADS:
        names = [args.workload]
    else:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    become_subreaper()
    host = host_info()
    scratch = os.path.join(ROOT, ".perfbench_scratch", uuid.uuid4().hex)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    failures: list[str] = []
    metrics, records, attempted = {}, [], 0
    try:
        for name in names:
            wl = WORKLOADS[name]
            if args.smoke:
                wl.sf, wl.n_docs = 0.001, 200
            metrics, record = run_workload(wl, args, host, scratch, failures)
            attempted += record["attempted"]
            records.append(record)
    finally:
        reap_children()
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    host["loadavg_end"] = list(os.getloadavg())
    print(json.dumps({"host": host, "runs": records}))
    correct = not failures and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": len(failures) if failures else (0 if metrics else 1),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
