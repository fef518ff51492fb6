"""Smoke test of the benchmark itself, at tiny sizes, in one Spark session.

    python3 perfbench/smoke.py

For every workload it checks that the outputs pass their DuckDB check,
that every end-to-end and per-layer metric of BENCHMARK.json is produced
with its unit, and that a deliberately corrupted result is caught.
Exits 0 when all of that holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402
import run  # noqa: E402
from harness import Session, Tracer, Window  # noqa: E402

TINY = {
    "stream_fresh": {"rate": 2000, "backlog": 2000, "drains": 1,
                     "drain_reserve_s": 2.0, "warm_batches": 1},
    "stream_upsert": {"batches": 2, "warm_batches": 1, "per_batch": 100,
                      "users": 50},
    "batch_curate": {"docs": 60},
    "pipeline_burst": {"orders": 200, "customers": 20, "pass_requests": 2},
}


def corrupt(wl) -> None:
    """Change one output so that the check must report it."""
    if wl.name == "pipeline_burst":
        template, sql, _digest = wl.served[0]
        wl.served[0] = (template, sql, "0" * 64)
    elif wl.name == "batch_curate":
        wl.results[0].pop(next(iter(wl.results[0])))
    elif wl.name == "stream_upsert":
        from pyspark.sql import functions as F

        ctx = wl.targets[0]
        ctx.collections["profiles"] = ctx.collections["profiles"].withColumn(
            "value", F.col("value") + 1)
    else:
        user = next(iter(wl.last))
        n, points, last_ms = wl.last[user]
        wl.last[user] = (n + 1, points, last_ms)


def expect_units(got: dict, spec: list[dict], label: str) -> list[str]:
    errors = []
    for m in spec:
        if m["name"] not in got:
            errors.append(f"{label}: {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{label}: {m['name']} unit "
                          f"{got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        errors.append(f"{label}: unexpected metrics {sorted(extra)}")
    return errors


def main() -> int:
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = harness.reset_dir(os.path.join(HERE, ".work",
                                          f"smoke-{os.getpid()}"))
    errors: list[str] = []
    session = Session(work)
    try:
        for name, params in TINY.items():
            wl = WORKLOADS[name](session, 7, Tracer(True),
                                 os.path.join(work, name), params)
            os.makedirs(wl.work)
            before = len(errors)
            try:
                wl.stage()
                wl.warm()
                with Window(session, wl.exclude_pids) as win:
                    res = wl.measure(6)
                counts = run.job_counts(session, res.job_groups)
                heap = session.live_heap_mb()
                failed = wl.check()
                if failed:
                    errors.append(f"{name}: {failed} ops failed the check")
                e2e = run.end_to_end(res, win, heap, 1.0)
                layers = run.per_layer(res, win, wl.tracer, counts, 0.0,
                                       wl.traced_extras())
                errors += expect_units(e2e, spec["end_to_end"], name)
                errors += expect_units(layers, spec["per_layer"], name)
                corrupt(wl)
                if wl.check() == 0:
                    errors.append(f"{name}: corrupted result not caught")
                print(f"{name}: " + ("ok" if len(errors) == before
                                     else "FAIL"), flush=True)
            except Exception:
                errors.append(f"{name}: {traceback.format_exc()}")
            finally:
                wl.close()
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("smoke: " + ("FAIL" if errors else "ok"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
