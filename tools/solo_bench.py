"""Time individual registered queries in isolation (verdict item: stage
attribution for bench regressions). Usage:

    python tools/solo_bench.py [sf_dir] name1 name2 ...

Prints one JSON line per query: best/median of N reps (default 3,
$SPARK_GRAFT_BENCH_REPS), plus the top stages by wall time from the
Spark status API for the LAST rep — enough to attribute a regression to
a stage without the UI. Each stage row carries ``numTasks``, its wall
time and the task totals ``executorRunTime`` and ``executorCpuTime``
(both in ms), which tell per-task overhead from compute.
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
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    names = args or list(QUERIES)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    spark = get_spark("solo-bench")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    for name in names:
        if name not in QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        q = QUERIES[name]
        times = []
        stage_report = []
        for rep in range(reps):
            jg = f"solo::{name}::{rep}"
            sc.setJobGroup(jg, name)
            before = set(tracker.getActiveStageIds())
            t0 = time.time()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            release_plan_caches()
            sc.setJobGroup("idle", "")
            if rep == reps - 1:
                # stage attribution via the JVM status store (all
                # completed stages of this app; filter by submission
                # time inside this rep's window)
                try:
                    # the 5-argument stageList (statuses, details,
                    # withSummaries, quantiles, taskStatuses): py4j
                    # cannot resolve the Scala default arguments
                    store = sc._jsc.sc().statusStore()
                    empty = spark._jvm.java.util.ArrayList()
                    quantiles = sc._gateway.new_array(spark._jvm.double, 0)
                    it = store.stageList(
                        empty, False, False, quantiles, empty
                    ).iterator()
                    t0_ms = int(t0 * 1000)
                    rows = []
                    while it.hasNext():
                        s = it.next()
                        sub = s.submissionTime()
                        if not sub.isDefined():
                            continue
                        st = sub.get().getTime()
                        if st < t0_ms:
                            continue
                        comp = s.completionTime()
                        dur = (
                            comp.get().getTime() - st
                            if comp.isDefined()
                            else None
                        )
                        rows.append(
                            {
                                "stage": s.stageId(),
                                "name": str(s.name())[:80],
                                "tasks": s.numCompleteTasks(),
                                "numTasks": s.numTasks(),
                                "wall_ms": dur,
                                "executorRunTime": s.executorRunTime(),
                                "executorCpuTime": round(
                                    s.executorCpuTime() / 1e6
                                ),
                                "shuffle_read_mb": round(
                                    s.shuffleReadBytes() / 1e6, 1
                                ),
                                "shuffle_write_mb": round(
                                    s.shuffleWriteBytes() / 1e6, 1
                                ),
                            }
                        )
                    rows.sort(key=lambda r: -(r["wall_ms"] or 0))
                    stage_report = rows[:6]
                except Exception as exc:  # status API is best-effort
                    stage_report = [{"error": str(exc)[:120]}]
        print(
            json.dumps(
                {
                    "query": name,
                    "best": min(times),
                    "times": times,
                    "stages": stage_report,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
