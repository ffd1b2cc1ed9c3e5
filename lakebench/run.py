"""Run one benchmark workload against the olake_spark engine in this checkout.

    python3 lakebench/run.py --workload maintain|lookup --seed N \
        --seconds S --trace 0|1

Set-up (JVM start, Python workers, inputs, tables, warm-up cycles) is timed
as `setup_s`; then timed cycles run until S seconds have passed. The last
line of standard output is the result JSON (`correct`, `attempted`,
`failed`, `metrics`); the line before it holds the run's details: sample
counts, tail percentiles, host steal share and load average, the slope of
the timed cycle walls and, when traced, the per-phase table and the trace
file. `--trace 1` reports the per-layer metrics of a traced run instead of
the end-to-end ones; the metric names and units are BENCHMARK.json's.
`--scale tiny` and `--break-oracle` serve the self-test (selftest.py);
`--n` overrides the image count (the N/4 vs N probe in NOTES.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["maintain", "lookup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--break-oracle", action="store_true")
    ap.add_argument("--n", type=int, default=None)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "olake_spark", "__init__.py")):
        print("lakebench: no olake_spark package next to lakebench/; run it "
              "from the root of a checkout of the repository", file=sys.stderr)
        return 2
    # import lakebench as a package; its own directory would shadow stdlib
    sys.path[:] = [ROOT] + [p for p in sys.path if p != HERE]
    from lakebench import report, session
    from lakebench.spans import Tracer
    from lakebench.workloads import SIZES, WORKLOADS, Bench

    if args.n:
        SIZES[args.scale][args.workload]["n"] = args.n
    base = os.path.join(ROOT, ".lakebench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    slots = session.task_slots()
    cpu0 = session.cpu_times()
    spark = session.start_spark(work, slots)
    try:
        session.prespawn_python_workers(spark, slots)
        tracer = Tracer(spark, os.path.join(work, "warehouse"))
        b = Bench(spark, slots, work, args.seed, args.scale, tracer,
                  bool(args.trace), args.break_oracle)
        b.t_start = t_start
        WORKLOADS[args.workload](b, args.seconds)
        res = b.res
        detail = {
            "workload": args.workload, "seed": args.seed, "slots": slots,
            "scale": args.scale, "sizes": SIZES[args.scale][args.workload],
            "meaning": report.MEANING[args.workload],
            "warmup_walls_s": res.warmup_walls,
            "cycle_walls_s": res.cycle_walls,
            # over warm-up and untraced timed cycles: negative while the
            # walls still fall, i.e. warm-up unfinished
            "cycle_slope_share": report.slope_share(res.warmup_walls + [
                w for w, tr in zip(res.cycle_walls, res.cycle_traced)
                if not tr]),
            "work_dir_fs": session.fs_type(work),
            "notes": res.notes,
        }
        for key in ("op", "op2"):
            vals = res.samples.get(key, [])
            if vals:
                value, pct = report.tail(vals)
                detail[key] = {"n": len(vals), "p50_ms": statistics.median(vals)
                               * 1e3, "tail_ms": value * 1e3, "tail_pct": pct}
        detail["phase_p50_s"] = {
            k[6:]: statistics.median(v) for k, v in res.samples.items()
            if k.startswith("phase.") and "@" not in k
        }
        if args.trace:
            metrics = layer_metrics(report, tracer, res, slots, detail)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            path = os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}-"
                f"{os.getpid()}.json")
            tracer.dump(path, {"detail": detail})
            detail["trace_file"] = os.path.relpath(path, ROOT)
            units = report.PER_LAYER
        else:
            metrics, extra = report.end_to_end(res)
            detail.update(extra)
            units = report.END_TO_END
        if set(metrics) != set(units):
            raise RuntimeError(
                "computed metrics differ from BENCHMARK.json: "
                f"{sorted(set(metrics) ^ set(units))}")
    finally:
        session.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    detail["steal_share"] = session.steal_share(cpu0, session.cpu_times())
    detail["loadavg_1m"] = os.getloadavg()[0]
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


def layer_metrics(report, tracer, res, slots: int, detail: dict) -> dict:
    """Median over traced cycles of each per-layer metric, plus tails and the
    tracing overhead (traced minus untraced cycle median)."""
    per_cycle, tables = [], []
    for c in res.layer_cycles:
        m, phases = report.layers(
            tracer, c["idx"], c["since_ms"], slots, c["user_bytes"],
            c["live_user_bytes"], c["table_bytes"])
        per_cycle.append(m)
        tables.append(phases)
    metrics = {k: statistics.median(m[k] for m in per_cycle)
               for k in per_cycle[0]}
    for key in ("op", "op2"):
        vals = res.samples.get(key) or res.samples.get(key + "@traced")
        metrics[key + "_tail_ms"] = report.tail(vals)[0] * 1e3
    traced = [w for w, t in zip(res.cycle_walls, res.cycle_traced) if t]
    plain = [w for w, t in zip(res.cycle_walls, res.cycle_traced) if not t]
    metrics["trace.overhead_ms"] = (
        statistics.median(traced) - statistics.median(plain)) * 1e3
    detail["traced_cycles"] = len(traced)
    detail["phases_first_traced_cycle"] = tables[0]
    return metrics


if __name__ == "__main__":
    sys.exit(main())
