"""Capture ``explain('formatted')`` for registered queries.

Usage:
    python scripts/capture_plans.py <suffix> q161 q170 ...

Writes ``plans/<query>_<suffix>.txt`` (an ignored directory) for each
query name prefix given (suffix is e.g. ``before`` / ``after``).  The
data directory is ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 testdata)
so the captured plan is the shape the bench times.  NOTE: building
some queries runs driver-side actions (state writes, fixpoint loops) —
capture cost is the query-build cost, not a full execution.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from capex_data_pipeline_spark.registry import QUERIES  # noqa: E402
from capex_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    prefixes = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capex-capture-plans", master=f"local[{cpus}]")
    names = [
        n for n in QUERIES if any(n.startswith(p) for p in prefixes)
    ]
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
