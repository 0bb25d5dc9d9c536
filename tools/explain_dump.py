"""Dump .explain("formatted") for named queries into plans/<tag>/.

Usage: python tools/explain_dump.py [--executed] <tag> <suffix> [query ...]
  tag     directory under plans/ (e.g. r17)
  suffix  'before' or 'after' (file name becomes <query>_<suffix>.txt)
  query   registered or retired query names; default = the bench list
  --executed  run the query and dump the executed plan of every SQL
              execution it starts (one `node name | description` line per
              node, expression and plan ids stripped so two runs diff cleanly).
              For queries that materialize inside the call (eager caches,
              a checkpointed result), whose formatted plan is one scan.

Plans are captured at sf0.001 (plan SHAPE is SF-invariant; building the
frame is cheap there) with the bench's shuffle-partition default so the
Exchange/ join-strategy evidence matches what the bench executes.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fermor_spark import get_spark  # noqa: E402
from fermor_spark import queries as q  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def fmt_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def executed_plans(spark, build) -> str:
    """Build and run one query; its executions' plan nodes, as text."""
    from tests.fixtures import executed_plan_nodes

    plans = executed_plan_nodes(
        spark, lambda: build().write.format("noop").mode("overwrite").save())
    out = []
    for n, nodes in enumerate(plans.values()):
        out.append(f"== execution {n} ==")
        out += [re.sub(r"#\d+L?|(?<=plan_id=)\d+", "", f"{name} | {desc}")
                for name, desc in nodes]
    return "\n".join(out) + "\n"


def main() -> None:
    args = sys.argv[1:]
    executed = "--executed" in args
    if executed:
        args.remove("--executed")
    tag, suffix = args[0], args[1]
    names = args[2:]
    reg = {**q.all_queries(), **q.retired_queries()}
    if not names:
        from bench import BENCH_QUERIES
        names = BENCH_QUERIES
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-dump")
    from fermor_spark.session import release_caches
    for name in names:
        try:
            if executed:
                plan = executed_plans(spark, lambda: reg[name](spark, SF))
            else:
                plan = fmt_plan(reg[name](spark, SF))
        except Exception as exc:  # capture the failure instead of dying
            plan = f"EXPLAIN FAILED: {exc!r}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
        release_caches()


if __name__ == "__main__":
    main()
