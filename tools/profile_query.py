"""Per-query profiling harness (optimization rounds, guide §1).

Usage:
    python tools/profile_query.py q1 [q2 ...]       # profile named queries
    python tools/profile_query.py --plans q1 ...    # also dump explain("formatted")

For each query: runs it twice (cold excluded from the headline), reporting
per-run build time (fn() return — includes any internal actions), collect
time, and the number of Spark jobs each phase submitted (statusTracker
delta).  Job counts are the driver-round-trip signal the bench seconds hide:
at bench SF every job is mostly fixed scheduling+planning latency, and at
100 TB every job is a full cluster pass — both want the count down.

Plans go to plans/r14/<query>_<suffix>.txt when --plans/--suffix are given.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simsearch_spark.queries import REGISTRY
from simsearch_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _job_count(spark) -> int:
    t = spark.sparkContext.statusTracker()
    ids = t.getJobIdsForGroup(None)
    return len(ids)


def profile(spark, name: str, runs: int = 2, plans_dir: str | None = None,
            suffix: str = "before") -> None:
    fn, _sql = REGISTRY[name]
    sc = spark.sparkContext
    for i in range(runs):
        sc.setJobDescription(f"{name} run{i}")
        jobs0 = sc._jsc.sc().statusTracker().getJobIdsForGroup(None)
        n0 = len(jobs0)
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        n1 = len(sc._jsc.sc().statusTracker().getJobIdsForGroup(None))
        print(
            f"{name} run{i}: build={t1-t0:7.2f}s collect={t2-t1:7.2f}s "
            f"total={t2-t0:7.2f}s jobs={n1-n0} rows={len(rows)}"
        )
        if i == 0 and plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        spark.catalog.clearCache()
        sc.setJobDescription(None)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plans = "--plans" in sys.argv
    suffix = "before"
    for a in sys.argv[1:]:
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
    spark = get_spark(app_name="simsearch-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "plans", os.environ.get("PLANS_ROUND", "r15")) if plans else None
    for name in args:
        if name not in REGISTRY:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        profile(spark, name, plans_dir=plans_dir, suffix=suffix)
    spark.stop()


if __name__ == "__main__":
    main()
