"""Seeded end-to-end benchmark for fermor_spark.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 1 --trace 0

Run from the repository root. One run starts a session on local[nproc],
sets up the workload's state three times, computes the oracles, then runs
the workload's closed loop (one client thread), checking every output:
one cold cycle, which pays first-call costs and is left out of the
metrics, then warm cycles until WARM_CYCLES have run and `--seconds` have
passed. The end-to-end metrics are CPU seconds of the threads that do the
work (probes.cpu_seconds): `setup_s`, the median set-up, and for each
role (read, write, batch) the CPU time of one call of each of the role's
kinds, summed over the kinds, each kind taken at its median warm call.

With `--trace 1` the loop then runs one more warm cycle, with spans and
Spark counters around every call into a layer. The per-layer metrics
come from it; the tracing overhead compares it with the untraced warm
cycle before it. The spans, with their self times, are written to
`.perfbench_work/trace-<workload>-<seed>.json`.

The metric names and units are those of `BENCHMARK.json`. The last stdout
line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The run record (environment stamp, every wall and CPU sample, probes) goes
to `.perfbench_work/record-<workload>-<seed>-<trace>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import probes
import workloads

T_START = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
WARM_CYCLES = 1


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def metric_units(group: str) -> dict[str, str]:
    """name -> unit of the `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[group]}


def configure_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, size the driver
    heap from the host, and put the engine on the Python workers' path."""
    tmp = os.path.join(run_dir, "tmp")
    conf = os.path.join(run_dir, "conf")
    os.makedirs(tmp)
    os.makedirs(conf)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.ui.showConsoleProgress false\n"
                 f"spark.local.dir {tmp}\n"
                 # -XX:-UsePerfData: no hsperfdata file under /tmp
                 f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\nappender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\n"
                 "appender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    ncpu = os.cpu_count() or 1
    ram_gb = probes.host_ram_bytes() / 2**30
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_CONF_DIR": conf,
        "SPARK_GRAFT_CPUS": str(ncpu),
        "FERMOR_SHUFFLE_PARTITIONS": str(ncpu),
        "FERMOR_DRIVER_MEMORY": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)


def run_loop(wl, ops, n_ops: int, seconds: float, tracer) -> dict:
    """Closed loop, one client: issue the next operation when the previous
    one returns (after an untimed drain), until `n_ops` operations have
    run and `seconds` have passed. A wrong or failed output is counted,
    reported and kept. Resident memory is sampled between operations."""
    cpu: dict[str, list[float]] = {k: [] for k in wl.kinds}
    cpu_all: dict[str, list[float]] = {k: [] for k in wl.kinds}
    wall: dict[str, list[float]] = {k: [] for k in wl.kinds}
    attempted = failed = 0
    peak = 0.0
    t0 = time.perf_counter()
    while attempted < n_ops or time.perf_counter() - t0 < seconds:
        op = next(ops)
        probes.drain(wl.spark)
        tracer.op_id = attempted
        ts, cs = time.perf_counter(), probes.cpu_seconds()
        try:
            ok = op.run()
        except Exception:
            log(f"operation {op.kind} raised:\n{traceback.format_exc()}")
            ok = False
        wall[op.kind].append(time.perf_counter() - ts)
        ce = probes.cpu_seconds()
        cpu_all[op.kind].append(ce[0] - cs[0])
        cpu[op.kind].append(ce[1] - cs[1])
        peak = max(peak, probes.rss_mb())
        attempted += 1
        if not ok:
            failed += 1
            log(f"WRONG OUTPUT: operation {op.kind} disagrees with its oracle")
    return {"wall": wall, "cpu": cpu, "cpu_all": cpu_all, "attempted": attempted, "failed": failed,
            "peak_rss_mb": peak}


def role_cpu(wl, cpu: dict) -> dict[str, float]:
    """Per role, the sum over its kinds of each kind's median CPU call."""
    return {r: sum(statistics.median(cpu[k]) for k, role in wl.kinds.items() if role == r)
            for r in workloads.ROLES}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, run_dir: str) -> int:
    configure_env(run_dir)
    from fermor_spark import get_spark

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    layer = {"session.start_s": time.perf_counter() - t}
    loops = []
    try:
        # the start-of-run probes double as the session's warm-up job
        t = time.perf_counter()
        record = {"args": vars(args), "sched_floor_s": [probes.scheduler_floor(spark)],
                  "disk_mbps": [probes.disk_mbps(run_dir)]}
        layer["session.warm_s"] = time.perf_counter() - t
        record["env"] = probes.env_stamp(spark)

        wl = workloads.WORKLOADS[args.workload](spark, args.seed, run_dir)
        setups, setup_cpu, setup_cpu_all = [], [], []
        for rep in range(SETUP_REPS):
            probes.drain(spark)
            cs = probes.cpu_seconds()
            setups.append(wl.setup(rep))
            ce = probes.cpu_seconds()
            setup_cpu_all.append(ce[0] - cs[0])
            setup_cpu.append(ce[1] - cs[1])
        setup_rss_mb = probes.rss_mb()
        wl.prepare_oracles()
        log(f"set-up done at {time.perf_counter() - T_START:.1f} s")

        n_cold = len(workloads.cycle(wl, cold=True))
        n_warm = len(workloads.cycle(wl))
        ops = wl.stream(args.seed, workloads.NoTrace())
        cold = run_loop(wl, ops, n_cold, 0, workloads.NoTrace())
        warm = run_loop(wl, ops, WARM_CYCLES * n_warm, args.seconds, workloads.NoTrace())
        loops += [cold, warm]
        if args.trace:
            # one traced warm cycle; the overhead is judged against the
            # untraced warm cycle just before it
            import layers

            tracer = probes.Tracer(spark)
            with layers.PipelineSpans(tracer):
                traced = run_loop(wl, wl.stream(args.seed, tracer, cold=False), n_warm, 0,
                                  tracer)
            loops.append(traced)
            tracer.attribute()
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
            layer.update(layers.per_layer(wl, tracer, traced, warm))

        record["sched_floor_s"].append(probes.scheduler_floor(spark))
        record["disk_mbps"].append(probes.disk_mbps(run_dir))
    finally:
        probes.stop_session(spark)

    attempted = sum(lp["attempted"] for lp in loops)
    failed = sum(lp["failed"] for lp in loops)
    record.update({
        "setup_wall_s": setups,
        "setup_cpu_s": setup_cpu,
        "setup_cpu_all_s": setup_cpu_all,
        "cold_wall_s": cold["wall"],
        "cold_cpu_s": cold["cpu"],
        "wall_s": warm["wall"],
        "cpu_s": warm["cpu"],
        "cpu_all_s": warm["cpu_all"],
        "error_rate": failed / attempted,
        "peak_rss_mb": max([setup_rss_mb] + [lp["peak_rss_mb"] for lp in loops]),
    })
    with open(os.path.join(WORK, f"record-{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    log(f"setup cpu s {[round(x, 2) for x in setup_cpu]}  warm cpu s "
        f"{ {k: [round(x, 2) for x in v] for k, v in warm['cpu'].items()} }  "
        f"error_rate {record['error_rate']}  sched_floor_s "
        f"{[round(x, 3) for x in record['sched_floor_s']]}  disk_mbps "
        f"{[round(x) for x in record['disk_mbps']]}")

    if args.trace:
        units = metric_units("per_layer")
        if layer.keys() != units.keys():
            raise RuntimeError("per-layer metrics differ from BENCHMARK.json: "
                               f"{sorted(layer.keys() ^ units.keys())}")
        values = layer
    else:
        # CPU seconds: wall time on a shared host moves with other tenants
        units = metric_units("end_to_end")
        values = {"setup_s": statistics.median(setup_cpu),
                  **{f"{r}_cpu_s": v for r, v in role_cpu(wl, warm["cpu"]).items()}}
    out = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
