"""Interleaved SUBPROCESS tree A/B — the adjudication convention for
"this bench line moved with NO code change" questions (established r15 on
dedup_minhash_lsh, reusable since r16).

Solo probes minutes apart read different numbers on the shared VM; the
decisive measurement alternates FRESH sessions over two whole source
trees at the same epoch:

    python tools/exp_tree_ab.py <gate> [--rev <git-rev>] [--reps N]
                                       [--runs M]

Arm A = the working tree (/root/repo HEAD + uncommitted), arm B = `git
archive <rev>` exported to a tempdir (default rev: the r13 close head).
Each rep spawns one subprocess per arm (fresh JVM, fresh page-cache
attribution) that warms the bench fixture (table counts + star graph),
pays one untimed warm-up run, then records M timed runs with bench.py's
release_caches + gc + System.gc boundary drain. The parent interleaves
A/B so a shared-VM episode hits both arms equally, and prints one JSON
summary: per-arm bests/medians, scheduler floors, and the B/A ratios.

Reading it: arms indistinguishable => the driver-record move was
ENVIRONMENT; arm A persistently slower => the move is in the CODE
between <rev> and HEAD (bisect next); both arms at the moved level =>
the epoch itself changed (page cache / disk / scheduler — check the
floor and disk probes).
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r'''
import gc, json, os, sys, time
tree, gate_name, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
sys.path.insert(0, tree)
from fermor_spark import queries as q
from fermor_spark.session import get_spark, release_caches

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="tree-ab-child")
spark.range(1_000_000).selectExpr("sum(id)").collect()
from fermor_spark.datasets import TABLES, star_graph, table
for t in TABLES:
    table(spark, SF_DIR, t).count()
g = star_graph(spark, SF_DIR)
g.E.count(); g.V.count()

def floor_probe():
    t0 = time.perf_counter()
    for _ in range(24):
        spark.range(1024).repartition(32).count()
    return round(time.perf_counter() - t0, 3)

def _force(df):
    df.write.format("noop").mode("overwrite").save()

registry = {**q.all_queries(), **getattr(q, "retired_queries", dict)()}
gate = registry[gate_name]

def one_run():
    t0 = time.perf_counter()
    _force(gate(spark, SF_DIR))
    dt = round(time.perf_counter() - t0, 3)
    release_caches()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)
    return dt

floor0 = floor_probe()
one_run()  # untimed warm-up: codegen + Arrow workers + managed caches
times = [one_run() for _ in range(runs)]
print("TREE_AB_CHILD " + json.dumps({
    "tree": tree, "gate": gate_name, "floor": floor0, "runs": times,
    "best": min(times)}), flush=True)
'''


def _export_tree(rev: str) -> str:
    out = os.path.join(tempfile.gettempdir(), f"fermor_tree_{rev}")
    if not os.path.exists(os.path.join(out, "fermor_spark")):
        os.makedirs(out, exist_ok=True)
        tar = os.path.join(out, "tree.tar")
        subprocess.run(["git", "-C", REPO, "archive", "-o", tar, rev],
                       check=True)
        subprocess.run(["tar", "-xf", tar, "-C", out], check=True)
        os.unlink(tar)
    return out


def _run_child(tree: str, *args: str, child: str = _CHILD) -> dict:
    """Run ``child`` with argv ``tree, *args``, in ``tree``: the Python
    worker daemon puts its cwd first on ``sys.path``, so from any other
    cwd holding a ``fermor_spark`` the workers would import that one."""
    r = subprocess.run([sys.executable, "-c", child, tree, *args],
                       capture_output=True, text=True, timeout=1800, cwd=tree)
    for line in reversed(r.stdout.splitlines()):
        if line.startswith("TREE_AB_CHILD "):
            return json.loads(line[len("TREE_AB_CHILD "):])
    raise RuntimeError(
        f"child produced no result (rc={r.returncode}):\n"
        f"{r.stdout[-2000:]}\n{r.stderr[-2000:]}")


def main() -> None:
    args = sys.argv[1:]
    gate = args[0]
    kv = dict(zip(args[1::2], args[2::2]))
    rev = kv.get("--rev", "6f8d1b7")  # r13 close head
    reps = int(kv.get("--reps", "3"))
    runs = int(kv.get("--runs", "3"))
    tree_b = _export_tree(rev)

    a_best, b_best, a_floors, b_floors = [], [], [], []
    for rep in range(reps):
        ra = _run_child(REPO, gate, str(runs))
        rb = _run_child(tree_b, gate, str(runs))
        a_best.append(ra["best"]); a_floors.append(ra["floor"])
        b_best.append(rb["best"]); b_floors.append(rb["floor"])
        print(f"rep {rep}: A(HEAD) runs={ra['runs']} floor={ra['floor']}  "
              f"B({rev}) runs={rb['runs']} floor={rb['floor']}", flush=True)

    med = lambda s: sorted(s)[len(s) // 2]
    print(json.dumps({
        "gate": gate, "rev_b": rev,
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR",
                                 "/root/testdata/sf0.1"),
        "A_best": min(a_best), "B_best": min(b_best),
        "A_median": med(a_best), "B_median": med(b_best),
        "A_bests": a_best, "B_bests": b_best,
        "A_floors": a_floors, "B_floors": b_floors,
        "ratio_best_A_over_B": round(min(a_best) / min(b_best), 3),
        "ratio_median_A_over_B": round(med(a_best) / med(b_best), 3),
    }))


if __name__ == "__main__":
    main()
