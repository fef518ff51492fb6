"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One run is one fresh process: Spark
starts, the workload stages its seeded inputs and warms up (together
``setup_s``), then it measures for ``--seconds`` and checks every output
against DuckDB.  The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics.  With
``--trace 1`` the window is split in two halves, the first untraced and
the second with spans around every call into a layer; the metrics are
the per-layer metrics of the traced half, plus ``trace.overhead_pct``,
the change of ``latency_p50_ms`` between the halves.  The spans are
written to ``perfbench/.out/``.  The line before the result holds the
run's details: input hash, parameters, warm-up passes, sample counts and
host noise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402
from harness import Session, Tracer, Window, metric  # noqa: E402


def end_to_end(res, win: Window, heap_mb: float, setup_s: float) -> dict:
    lat = res.latencies_ms
    return {
        "setup_s": metric(setup_s, "s"),
        "throughput_per_s": metric(res.throughput, "ops/s"),
        "latency_p50_ms": metric(statistics.median(lat), "ms"),
        "latency_p90_ms": metric(harness.quantile(lat, 0.9), "ms"),
        "cpu_ms_per_op": metric(sum(win.cpu_ms.values()) / res.ops, "ms"),
        "live_heap_mb": metric(heap_mb, "MB"),
    }


def job_counts(session: Session, groups: list[str]) -> tuple[int, int, int]:
    """Jobs, stages and tasks of the traced window's job groups; read
    before any later job pushes them out of the status store."""
    session.drain_listener_bus()
    jobs = stages = tasks = 0
    for group in groups:
        j, s, t = session.job_counts(group)
        jobs, stages, tasks = jobs + j, stages + s, tasks + t
    return jobs, stages, tasks


def per_layer(res, win: Window, tracer: Tracer, counts: tuple,
              overhead_pct: float, extras: dict) -> dict:
    spans = tracer.self_ms()
    med = {name: harness.median_or_zero(v) for name, v in spans.items()}
    jobs, stages, tasks = counts
    ops = res.ops
    values = {
        "plans.optimize_ms": med.get("plans.optimize", 0.0),
        "pipeline.compile_ms": med.get("pipeline.compile", 0.0),
        "operators.build_ms": med.get("operators.build", 0.0),
        "exec.action_ms": med.get("exec.action", 0.0),
        "exec.jobs_per_op": jobs / ops,
        "exec.stages_per_op": stages / ops,
        "exec.tasks_per_op": tasks / ops,
        "exec.gc_ms_per_op": win.gc_ms / ops,
        "sink.ms": med.get("sink", 0.0),
        "proc.driver_cpu_ms": win.cpu_ms["driver"] / ops,
        "proc.jvm_cpu_ms": win.cpu_ms["jvm"] / ops,
        "proc.worker_cpu_ms": win.cpu_ms["worker"] / ops,
        "host.steal_pct": win.steal_pct,
        "host.loadavg_1m": win.loadavg_1m,
        "trace.overhead_pct": overhead_pct,
    }
    values.update(res.layers)
    values.update(extras)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    return {m["name"]: metric(values.get(m["name"], 0.0), m["unit"])
            for m in spec}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from workloads import WORKLOADS, p90_backing

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}: "
                 f"choose from {sorted(WORKLOADS)}")
    work = harness.reset_dir(os.path.join(
        HERE, ".work", f"{args.workload}-{os.getpid()}"))
    tracer = Tracer(False)
    session = wl = None
    try:
        session = Session(work)
        phases = {"session_s": harness.process_age_s()}
        wl = WORKLOADS[args.workload](session, args.seed, tracer, work)
        input_hash = wl.stage()
        phases["stage_s"] = harness.process_age_s() - phases["session_s"]
        warm_passes = wl.warm()
        setup_s = harness.process_age_s()
        overhead = 0.0
        if args.trace:
            with Window(session, wl.exclude_pids) as win:
                plain = wl.measure(args.seconds / 2)
            tracer.enabled = True
            with Window(session, wl.exclude_pids) as win:
                res = wl.measure(args.seconds / 2)
            counts = job_counts(session, res.job_groups)
            p50 = statistics.median(plain.latencies_ms)
            overhead = (statistics.median(res.latencies_ms) - p50) / p50 * 100
        else:
            with Window(session, wl.exclude_pids) as win:
                res = wl.measure(args.seconds)
        heap_mb = session.live_heap_mb()
        t_check = harness.process_age_s()
        failed = wl.check()
        phases["check_s"] = harness.process_age_s() - t_check
        if args.trace:
            metrics = per_layer(res, win, tracer, counts, overhead,
                                wl.traced_extras())
            tracer.dump(os.path.join(
                harness.OUT_DIR, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(res, win, heap_mb, setup_s)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "input_sha256": input_hash, "params": wl.params, "why": wl.why,
            "phases": phases, "warm_pass_s": warm_passes,
            "window_s": res.elapsed_s,
            "latency_samples": len(res.latencies_ms),
            "latency_units": len(set(res.units)),
            "units_beyond_p90": p90_backing(res.latencies_ms, res.units),
            "host_steal_pct": win.steal_pct,
            "host_loadavg_1m": win.loadavg_1m,
        }
    finally:
        t_close = harness.process_age_s()
        if wl is not None:
            wl.close()
        if session is not None:
            session.close()
        shutil.rmtree(work, ignore_errors=True)
    detail["phases"]["close_s"] = harness.process_age_s() - t_close
    print(json.dumps(detail), flush=True)
    harness.emit(failed == 0, res.ops, min(failed, res.ops), metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
