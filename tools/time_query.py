"""Per-run timing probe for one registered query, mimicking the bench
loop (clearCache between QUERIES, 3 timed runs back-to-back).

Usage:
    python tools/time_query.py <query_name> [repo_root] [sf_dir] [runs]

Prints each run's wall time, Spark job counts and construction-phase
py4j call count separately so cache-reuse effects between run 1 and
runs 2/3 are visible (the bench reports the median, which hides whether
the first run paid a build the later runs reused). Each phase of a run
has its own job group, so the counts are exact: ``construct_jobs`` are
the eager jobs run while the query's DataFrame is built (literal
collects, checkpoints), ``collect_jobs`` those of its final collect.
``py4j`` counts the Python -> JVM commands sent while the DataFrame is
built, not while it is collected.
Used to attribute the round-12 `embedding_pairwise_cosine_moments`
level shift (VERDICT r12, What's wrong #1).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    name = sys.argv[1]
    root = sys.argv[2] if len(sys.argv) > 2 else "/root/repo"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    nruns = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    sys.path.insert(0, root)
    from veri_spark.plans.registry import QUERIES
    from veri_spark.session import count_py4j_calls, get_spark

    spark = get_spark("time-query")
    # same JIT warmup the bench does
    QUERIES["knn_euclidean"](spark, "/root/testdata/sf0.001").collect()
    spark.catalog.clearCache()
    sc = spark.sparkContext
    runs, construct_jobs, collect_jobs, py4j = [], [], [], []

    def jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for i in range(nruns):
        group = f"time_query_{name}_{i}"
        sc.setJobGroup(f"{group}_construct", name)
        t0 = time.time()
        with count_py4j_calls(spark) as calls:
            df = QUERIES[name](spark, sf_dir)
        sc.setJobGroup(f"{group}_collect", name)
        df.collect()
        runs.append(round(time.time() - t0, 3))
        construct_jobs.append(jobs(f"{group}_construct"))
        collect_jobs.append(jobs(f"{group}_collect"))
        py4j.append(calls.calls)
    s = sorted(runs)
    mid = len(s) // 2
    med = s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)
    print(json.dumps({"query": name, "root": root, "runs": runs,
                      "construct_jobs": construct_jobs,
                      "collect_jobs": collect_jobs, "py4j": py4j, "median": med}))
    spark.stop()


if __name__ == "__main__":
    main()
