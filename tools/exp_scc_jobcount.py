"""Job-per-round audit of the forced-distributed iterative gates
(VERDICT r17 #3/#4).

Counts the Spark JOBS each forced-distributed iterative operator pays:
the jobs in the app status store whose id is above the highest id seen
before the call (the UI is disabled in session.py, so no REST API).
Prints total jobs, rounds (LAST_*_ROUNDS) and jobs/round;
if trim or a convergence probe pays separable jobs, the total shows it.

Run: python tools/exp_scc_jobcount.py [scc|kcore|cc|bf|bfs|dedup] [reps]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fermor_spark import datasets, iterate
from fermor_spark.pipeline import dedup
from fermor_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "scc"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark(app_name=f"{which}-jobcount")
    sc = spark.sparkContext
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in datasets.TABLES:
        datasets.table(spark, SF_DIR, t).count()
    g = datasets.star_graph(spark, SF_DIR)
    g.E.count(); g.V.count()

    # Drive the REGISTERED bench gates (they run the ring/chain fixtures,
    # not the star graph — the star-graph variants measured a different
    # shape than the bench lines this audit is for).
    from fermor_spark import queries as q
    reg = q.all_queries()
    GATES = {"scc": ("g_scc_distributed", lambda: iterate.LAST_SCC_ROUNDS),
             "kcore": ("g_kcore_distributed",
                       lambda: iterate.LAST_KCORE_ROUNDS),
             "cc": ("g_cc_distributed", lambda: iterate.LAST_CC_ROUNDS),
             "bf": ("g_shortest_path_distributed",
                    lambda: iterate.LAST_BF_ROUNDS),
             "bfs": ("g_reachable_distributed",
                     lambda: iterate.LAST_BFS_ROUNDS),
             "dedup": ("dedup_clusters_distributed",
                       lambda: dedup.LAST_CLUSTER_ROUNDS)}
    gate, rounds_fn = GATES[which]

    def run():
        out = reg[gate](spark, SF_DIR)
        out.write.format("noop").mode("overwrite").save()
        return rounds_fn()

    store = sc._jsc.sc().statusStore()
    to_java = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def job_ids() -> list:
        # AppStatusStore works with the UI disabled; jobsList(null) = all
        # RETAINED jobs. The SCC floods run on worker threads whose jobs
        # don't inherit a thread-local job group, so the count goes by job
        # id: ids rise by one per submitted job, while the store trims its
        # oldest past spark.ui.retainedJobs (1,000), so a before/after
        # difference of its size undercounts once the store is full.
        return [j.jobId() for j in to_java.asJava(store.jobsList(None))]

    for rep in range(reps):
        before = max(job_ids(), default=-1)
        t0 = time.perf_counter()
        rounds = run()
        dt = round(time.perf_counter() - t0, 3)
        n = sum(1 for i in job_ids() if i > before)
        print(json.dumps({
            "rep": rep, "which": which, "sec": dt, "rounds": rounds,
            "n_jobs": n,
            "jobs_per_round": round(n / max(rounds, 1), 2),
        }), flush=True)


if __name__ == "__main__":
    main()
