"""Sub-second-tail forensics (VERDICT r11 item 7): for every registered
query, split wall time into
  construct = Python-side plan build (q.fn(spark, sf_dir) returning a DF)
  exec      = noop write of that DF (analysis + optimization + jobs)
and, for the exec side, how many Spark jobs and stages it ran.

Usage: python tools/tail_profile.py [sf_dir] [--max-sec 1.0]
Prints one JSON line per query plus an aggregate breakdown, so the
round can attack the top SHARED fixed cost once instead of 145 queries
individually (guide §1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_apache_cassandra_spark.caching import release_plan_caches
from cdc_apache_cassandra_spark.plans import QUERIES
from cdc_apache_cassandra_spark.session import get_spark


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    max_sec = 1e9
    for a in sys.argv[1:]:
        if a.startswith("--max-sec"):
            max_sec = float(a.split("=", 1)[1])
    names = args[1:] or list(QUERIES)

    spark = get_spark("tail-profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    sc = spark.sparkContext

    # warm like bench.py so first-touch JIT doesn't pollute attribution
    from pyspark.sql import functions as F

    from cdc_apache_cassandra_spark.sources.registry import load_table

    load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t")
    ).groupBy("t").count().write.format("noop").mode("overwrite").save()
    load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count() \
        .write.format("noop").mode("overwrite").save()
    load_table(spark, sf_dir, "events").groupBy("event_type").count() \
        .write.format("noop").mode("overwrite").save()

    tracker = sc.statusTracker()

    def job_counts(job_lo: int) -> tuple[int, int]:
        """(n_stages, n_jobs) for jobs with id >= job_lo, via the
        Python StatusTracker."""
        jobs = 0
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(None):
            if jid < job_lo:
                continue
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            stage_ids.update(info.stageIds)
        return len(stage_ids), jobs

    rows = []
    agg = {"construct": 0.0, "exec": 0.0, "n": 0, "jobs": 0}
    for name in names:
        q = QUERIES[name]
        # rep 1 = warmup (codegen/JIT); rep 2 measured
        best = None
        for rep in range(2):
            try:
                job_lo = (max(tracker.getJobIdsForGroup(None)) + 1
                          if tracker.getJobIdsForGroup(None) else 0)
                t0 = time.time()
                df = q.fn(spark, sf_dir)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            except Exception as e:
                rows.append({"query": name, "error": str(e)[:120]})
                release_plan_caches()
                best = None
                break
            release_plan_caches()
            rec = {
                "query": name,
                "construct": round(t1 - t0, 3),
                "exec": round(t2 - t1, 3),
            }
            if rep == 1:
                n_stages, n_jobs = job_counts(job_lo)
                rec["n_stages"] = n_stages
                rec["n_jobs"] = n_jobs
            best = rec
        if best is None:
            continue
        total = best["construct"] + best["exec"]
        if total > max_sec:
            continue
        rows.append(best)
        agg["construct"] += best["construct"]
        agg["exec"] += best["exec"]
        agg["jobs"] += best.get("n_jobs", 0)
        agg["n"] += 1

    rows.sort(key=lambda r: -(r.get("construct", 0) + r.get("exec", 0)))
    for r in rows:
        print(json.dumps(r))
    agg = {k: (round(v, 2) if isinstance(v, float) else v) for k, v in agg.items()}
    print(json.dumps({"AGGREGATE": agg}))


if __name__ == "__main__":
    main()
