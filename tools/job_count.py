"""Count Spark jobs (and wall time) per registry query.

Usage: python tools/job_count.py name1 name2 ...
For each query: runs it once untimed (warm), then once inside a job
group, and prints {name: {"jobs": n, "sec": s}} — the fixed-overhead
diagnostic for queries whose sf0.1 cost is scheduler latency, not
data (VERDICT r14 #7: the ANN job-count floor; r15 reachability
early-exit evidence).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    from ella_spark.queries import all_queries
    from ella_spark.session import get_session

    spark = get_session("job_count")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown query names: {unknown}")
    qs["q_distinct"](spark, SF_DIR).collect()  # JVM/footer warm
    out = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for n in names:
        qs[n](spark, SF_DIR).count()  # warm round (codegen, workers)
        group = f"jc_{n}"
        sc.setJobGroup(group, n)
        t0 = time.perf_counter()
        qs[n](spark, SF_DIR).count()
        sec = time.perf_counter() - t0
        jobs = tracker.getJobIdsForGroup(group)
        out[n] = {"jobs": len(jobs), "sec": round(sec, 3)}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
