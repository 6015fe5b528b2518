"""Benchmark of stakgraph_spark on local[nproc].

    python3 perfbench/run.py --workload {batch_build,query_serving} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates the workload's input from
the seed, sets up, measures a closed loop for S seconds, checks every
output against a DuckDB reference, and prints one line per metric
("metric <name> <value> <unit>") followed, as the last line, by one
JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the JSON metrics are the end-to-end ones; with --trace 1 a
traced run reports the per-layer ones instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_build", "query_serving")


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "stakgraph_spark", "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a smaller input, and forcing checks to fail
    p.add_argument("--turns", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--inject-wrong", type=int, default=0, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not _program_present():
        print(f"perfbench: no stakgraph_spark program next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import engine
    import probes
    import workloads

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    engine.prepare_env(work)
    r = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                      turns=args.turns, inject_wrong=args.inject_wrong)
    load_before, steal_before = engine.loadavg(), engine.cpu_steal_s()
    t_run = time.perf_counter()
    try:
        getattr(workloads, args.workload)(r)
        r.info["env"] = engine.describe(r.spark)
        r.e2e["peak_rss_mb"] = (engine.peak_rss_mb(), "MB")
        r.info["bench_process_peak_rss_mb"] = round(engine.own_peak_rss_mb(), 1)
    finally:
        if r.spark is not None:
            engine.shutdown(r.spark)
    if r.eventlog is not None:
        log_dir, app, t0, t1, ops = r.eventlog
        r.layers.update(probes.spark_counters(log_dir, app, t0, t1, ops))
    if r.trace:
        r.tracer.write(os.path.join(HERE, ".work", "traces", f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    r.info["loadavg_before"] = load_before
    r.info["loadavg_after"] = engine.loadavg()
    r.info["cpu_steal_s"] = round(engine.cpu_steal_s() - steal_before, 2)
    r.info["run_wall_s"] = round(time.perf_counter() - t_run, 2)
    error_rate = r.failed / max(r.attempted, 1)
    for k, v in r.info.items():
        print(f"info {k} {json.dumps(v)}")
    print(f"metric error_rate {error_rate} ratio")
    for name, (v, unit) in r.e2e.items():
        # a traced run's end-to-end figures carry the tracing overhead
        print(f"{'traced' if r.trace else 'metric'} {name} {v} {unit}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        layer_units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    if r.trace:
        for name, unit in layer_units.items():
            print(f"metric {name} {r.layers[name]} {unit}")
    metrics = (
        {n: {"value": r.layers[n], "unit": u} for n, u in layer_units.items()}
        if r.trace
        else {n: {"value": v, "unit": u} for n, (v, u) in r.e2e.items()}
    )
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
