"""Per-layer metrics of the traced run.

Every metric listed under `per_layer` in BENCHMARK.json is reported on
every workload; a layer the workload does not call reads 0. Times are
medians over the traced cycle's operations of the summed span time per
operation, and counts are medians per operation. The `spark.*` group is
per operation over every traced call.
"""

from __future__ import annotations

import functools
import importlib
import os
import statistics

import probes
import workloads

# the public pipeline functions the crawl composition calls, by span name.
# The composition imports them when it runs, so replacing the module
# attribute puts a span around every call.
PIPELINE_CALLS = {
    "warc.write": ("warc", ["write_warc"]),
    "warc.read": ("warc", ["read_warc"]),
    "html.extract": ("html", ["html_to_text"]),
    "url.gates": ("url", ["url_normalize", "url_host", "domain_filter", "robots_filter"]),
    "text.quality": ("text", ["repetition_metrics", "classifier_score"]),
    "similarity.semdedup": ("similarity", ["semantic_dedup"]),
    "sample.split": ("sample", ["hash_split"]),
}
KINDS = {**workloads.GraphWorkload.kinds, **workloads.CorpusWorkload.kinds}


class PipelineSpans:
    """Wrap the pipeline's public functions for the traced cycle only. A
    lazy result is materialized inside its span (eager local checkpoint),
    so each stage's span holds its own execution and not its upstream's."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.saved: list = []

    def __enter__(self):
        for span, (mod, fns) in PIPELINE_CALLS.items():
            m = importlib.import_module(f"fermor_spark.pipeline.{mod}")
            for fn in fns:
                orig = getattr(m, fn)
                self.saved.append((m, fn, orig))
                setattr(m, fn, self._wrap(span, orig))
        return self

    def _wrap(self, span, orig):
        from pyspark.sql import DataFrame

        tracer = self.tracer

        @functools.wraps(orig)
        def call(*a, **kw):
            with tracer.span(span, fn=orig.__name__) as rec:
                out = orig(*a, **kw)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
                if span == "warc.write":
                    rec.update(probes.dir_stats(a[1]))
            return out
        return call

    def __exit__(self, *exc):
        for m, fn, orig in self.saved:
            setattr(m, fn, orig)


def _dur(s) -> float:
    return s["end"] - s["start"]


def _delta(s, key) -> float:
    return s["counters_end"][key] - s["counters_start"][key]


def _per_op(spans, name, value) -> float:
    """Median over operations of the per-operation sum of `value` over the
    spans called `name`; 0 when no span has that name."""
    by_op: dict = {}
    for s in spans:
        if s["name"] == name:
            by_op[s["op_id"]] = by_op.get(s["op_id"], 0.0) + value(s)
    return statistics.median(by_op.values()) if by_op else 0.0


def _writers_per_task(s) -> float:
    """Tasks of the write stage that wrote at least one file, per task:
    empty hash buckets show here."""
    return min(1.0, s["writers"] / max(1, s["stage_tasks"]))


def _total_cpu(cpu: dict) -> float:
    return sum(statistics.median(v) for v in cpu.values() if v)


def per_layer(wl, tracer, traced: dict, warm: dict) -> dict:
    spans = tracer.spans
    builds = getattr(wl, "build_s", None)
    out: dict = {"graph.build_s": statistics.median(builds) if builds else 0.0}
    for n in ("add_edges", "set_documents", "fork", "verify"):
        out[f"graph.{n}_s"] = _per_op(spans, f"graph.{n}", _dur)
    route = {
        "route.exec_s": _dur,
        "route.jobs": lambda s: s["jobs"],
        "route.tasks": lambda s: _delta(s, "tasks"),
        "route.shuffle_bytes": lambda s: _delta(s, "shuffle_write"),
        "route.broadcast_joins": lambda s: s["bhj"],
        "route.smj_joins": lambda s: s["smj"],
        # wasted work: rows the joins produced per result row
        "route.rows_per_result": lambda s: s["join_rows"] / max(1, s["result_rows"]),
    }
    out["route.plan_s"] = _per_op(spans, "route.plan", _dur)
    out.update({k: _per_op(spans, "route.exec", f) for k, f in route.items()})
    for a in workloads.ALGOS:
        name = f"iterate.{a}"
        out[f"{name}.s"] = _per_op(spans, name, _dur)
        out[f"{name}.jobs"] = _per_op(spans, name, lambda s: s["jobs"])
        out[f"{name}.shuffle_bytes"] = _per_op(spans, name, lambda s: _delta(s, "shuffle_write"))
        out[f"{name}.task_skew"] = _per_op(spans, name, lambda s: s["task_skew"])
        if a in workloads.ROUNDS:
            # observed: the engine's round telemetry, None once it is gone;
            # 0 rounds means the driver-side local finish did all the work
            rounds = [s["rounds"] for s in spans if s["name"] == name]
            r = None if None in rounds else statistics.median(rounds) if rounds else 0
            out[f"{name}.rounds"] = r
            out[f"{name}.jobs_per_round"] = None if r is None else out[f"{name}.jobs"] / max(1, r)
            out[f"{name}.local_finish"] = None if r is None else int(bool(rounds) and r == 0)
    out["pipeline.crawl_s"] = _per_op(spans, "pipeline.crawl", _dur)
    for span in PIPELINE_CALLS:
        out[f"{span}_s"] = _per_op(spans, span, _dur)
    out["warc.bytes"] = _per_op(spans, "warc.write", lambda s: s["bytes"])
    out["warc.nonempty_task_ratio"] = _per_op(spans, "warc.write", _writers_per_task)
    for n in ("write", "read", "lookup"):
        out[f"sink.{n}_s"] = _per_op(spans, f"sink.{n}", _dur)
    out["sink.bytes"] = _per_op(spans, "sink.write", lambda s: s["bytes"])
    out["sink.nonempty_task_ratio"] = _per_op(spans, "sink.write", _writers_per_task)

    top = [s for s in spans if s["parent"] is None]
    n_ops = max(1, traced["attempted"])
    wall = sum(map(_dur, top))
    run_s = sum(_delta(s, "run_ms") for s in top) / 1000
    out.update({
        "spark.jobs": sum(s["jobs"] for s in spans) / n_ops,
        "spark.stages": sum(s["stages"] for s in spans) / n_ops,
        "spark.tasks": sum(_delta(s, "tasks") for s in top) / n_ops,
        "spark.shuffle_read_bytes": sum(_delta(s, "shuffle_read") for s in top) / n_ops,
        "spark.shuffle_write_bytes": sum(_delta(s, "shuffle_write") for s in top) / n_ops,
        "spark.spill_bytes": sum(s["spill_bytes"] for s in spans) / n_ops,
        "spark.executor_run_s": run_s / n_ops,
        "spark.gc_s": sum(_delta(s, "gc_ms") for s in top) / 1000 / n_ops,
        "spark.busy_share": run_s / (wall * (os.cpu_count() or 1)) if wall else 0.0,
        "spark.python_nodes": sum(s["python_nodes"] for s in spans) / n_ops,
        "spark.python_one_partition_inputs":
            sum(s["python_one_partition_inputs"] for s in spans) / n_ops,
    })
    # which kind moved a role's end-to-end sum: each kind's median warm
    # call from the untraced loop
    for k in KINDS:
        out[f"op.{k}_cpu_s"] = statistics.median(warm["cpu"].get(k) or [0.0])
    out["trace.overhead_share"] = _total_cpu(traced["cpu"]) / _total_cpu(warm["cpu"]) - 1
    return out
