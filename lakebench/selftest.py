"""Self-test of the benchmark at tiny size (about five minutes on 4 cores).

    python3 lakebench/selftest.py [workload ...]

For each workload it checks that:

1. a traced run is correct and emits every per-layer metric, with a nonzero
   value for each layer that workload runs (and zero Python-UDF time on
   `lookup`, which must bypass every rewrite operator);
2. a second traced run with the same seed repeats every exact counter;
3. a run with a deliberately broken oracle reports failed operations and
   `correct: false`.

Exits 1 and names the failed checks if any fail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layers each workload runs: their metrics must read nonzero when traced
RUNS = {
    "maintain": [
        "compact.self_s", "compact.bins", "compact.delete_files_in",
        "cluster.self_s", "zorder.py_udf_s", "verify.py_udf_s",
        "merge.self_s", "merge.rows_in", "merge.delete_files_out",
        "table.plan_ms", "table.manifest_lookups", "table.files_scanned",
        "table.delete_files_applied", "table.commit_ms",
        "table.commit_attempts", "table.commits", "table.write_s",
        "fileio.rename_ms", "fileio.files_renamed", "stats.harvest_ms",
        "stats.files", "manifests.ms", "expire.ms", "expire.orphans_removed",
        "spark.jobs", "spark.tasks", "spark.task_run_s", "spark.jvm_cpu_s",
        "spark.shuffle_bytes", "spark.slot_util", "proc.cpu_s",
        "storage.write_amp", "storage.bytes_per_user_byte",
    ],
    "lookup": [
        "table.plan_ms", "table.manifest_lookups", "table.files_scanned",
        "table.files_pruned", "table.delete_files_applied",
        "bloom.filter_ms", "bloom.files_kept", "bloom.live_files",
        "spark.jobs", "spark.tasks", "proc.cpu_s",
        "storage.bytes_per_user_byte",
    ],
}
# layers a workload must bypass: their metrics must read exactly zero
BYPASSES = {
    "maintain": ["bloom.filter_ms"],
    "lookup": ["zorder.py_udf_s", "verify.py_udf_s", "compact.self_s",
               "cluster.self_s", "merge.self_s", "table.commits"],
}
# counters that must repeat exactly across runs with the same seed
EXACT = [
    "spark.jobs", "spark.tasks", "table.manifest_lookups",
    "table.manifests_read",
    "table.files_scanned", "table.files_pruned", "table.commit_attempts",
    "table.commits", "bloom.files_kept", "bloom.live_files", "compact.bins",
    "merge.rows_in",
]


def run(workload: str, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} {extra}: exit {out.returncode}\n"
                           f"{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(workload: str) -> list[str]:
    from lakebench.report import PER_LAYER

    bad = []
    first = run(workload, "--trace", "1")
    m = {k: v["value"] for k, v in first["metrics"].items()}
    if set(m) != set(PER_LAYER):
        bad.append(f"{workload}: per-layer names differ from BENCHMARK.json")
    if not first["correct"] or first["failed"]:
        bad.append(f"{workload}: traced run not correct: {first}")
    bad += [f"{workload}: {k} is 0 but its layer runs"
            for k in RUNS[workload] if not m.get(k)]
    bad += [f"{workload}: {k} = {m.get(k)} but the workload bypasses it"
            for k in BYPASSES[workload] if m.get(k) != 0]
    second = run(workload, "--trace", "1")
    bad += [
        f"{workload}: {k} not exact: {m[k]} then {second['metrics'][k]['value']}"
        for k in EXACT if second["metrics"][k]["value"] != m[k]
    ]
    broken = run(workload, "--break-oracle")
    if broken["correct"] or not broken["failed"]:
        bad.append(f"{workload}: broken oracle not counted: {broken}")
    return bad


def main() -> int:
    sys.path.insert(0, ROOT)
    bad = []
    for w in sys.argv[1:] or list(RUNS):
        problems = check(w)
        print(f"{w}: {'ok' if not problems else 'FAILED'}", flush=True)
        bad += problems
    for b in bad:
        print("  " + b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
