"""Turn one run's samples and trace into the benchmark's metrics."""

from __future__ import annotations

import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit of every metric, as BENCHMARK.json at the checkout root
# declares them; MEANING says what the end-to-end names are per workload
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

# what the generic names mean on each workload, as the notes name them
MEANING = {
    "maintain": {"op": "rewrite (verified compact + Hilbert cluster) wall",
                 "op2": "full maintenance cycle wall",
                 "work": "images through compact + cluster per second "
                         "of their wall (rewrite_img_per_s)"},
    "lookup": {"op": "point lookup latency (point_p50_ms)",
               "op2": "phash range count latency (range_p50_ms)",
               "work": "lookups answered per second of lookup wall"},
}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) below eleven samples."""
    s = sorted(values)
    if len(s) < 11:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def slope_share(walls: list[float]) -> float:
    """Least-squares slope of successive walls, as a share of their median
    per step (negative: still speeding up, i.e. warm-up unfinished)."""
    if len(walls) < 2:
        return 0.0
    xs = range(len(walls))
    mx, my = statistics.fmean(xs), statistics.fmean(walls)
    num = sum((x - mx) * (y - my) for x, y in zip(xs, walls))
    den = sum((x - mx) ** 2 for x in xs)
    return num / den / statistics.median(walls)


def end_to_end(res) -> tuple[dict, dict]:
    """Medians over the untraced timed ops that passed their check (0 when
    none did: such a run is reported incorrect anyway)."""
    op, op2 = res.samples.get("op", []), res.samples.get("op2", [])
    metrics = {
        "op_p50_ms": statistics.median(op) * 1e3 if op else 0.0,
        "op2_p50_ms": statistics.median(op2) * 1e3 if op2 else 0.0,
        "work_per_s": res.work / res.work_s if res.work_s else 0.0,
        "setup_s": res.setup_s,
    }
    detail = {"samples": {"op": len(op), "op2": len(op2)}}
    return metrics, detail


def _self(tr, sp) -> float:
    return sp.dur - sum(tr.spans[c].dur for c in sp.children)


def layers(tr, cycle_idx: int, since_ms: int, slots: int,
           user_bytes: float, live_user_bytes: float, table_bytes: float):
    """Per-layer numbers of one traced cycle, plus its per-phase table."""
    root = tr.spans[cycle_idx]
    sub: list = []
    stack = [cycle_idx]
    while stack:
        i = stack.pop()
        sub.append(tr.spans[i])
        stack.extend(tr.spans[i].children)
    ancestors = {}

    def names_above(sp) -> set:
        if sp.idx not in ancestors:
            up = set()
            p = sp.parent
            while p is not None and p != cycle_idx:
                up.add(tr.spans[p].name)
                p = tr.spans[p].parent
            ancestors[sp.idx] = up
        return ancestors[sp.idx]

    def spans(name):
        return [s for s in sub if s.name == name]

    def dur(name, outer=()):
        return sum(s.dur for s in spans(name)
                   if not names_above(s) & ({name} | set(outer)))

    def cnt(name, key):
        return sum(s.counters.get(key, 0) for s in spans(name))

    m = {
        "compact.plan_ms": dur("compact.plan") * 1e3,
        "compact.self_s": sum(_self(tr, s) for s in spans("compact")),
        "compact.bins": cnt("compact", "bins"),
        "compact.delete_files_in": sum(
            s.counters.get("deletes", 0) for s in spans("table.entries")
            if tr.spans[s.parent].name == "compact.plan"
        ),
        "cluster.boundary_s": dur("cluster.boundary"),
        "cluster.self_s": sum(_self(tr, s) for s in spans("cluster")),
        "merge.self_s": sum(_self(tr, s) for s in spans("merge")),
        "merge.rows_in": cnt("merge", "rows_in"),
        "merge.delete_files_out": sum(
            s.counters.get("delete_files_out", 0)
            for s in spans("table.write_deletes") if "merge" in names_above(s)
        ),
        "table.plan_ms": 1e3 * (
            dur("table.scan", ("table.entries", "table.commit"))
            + dur("table.entries", ("table.scan", "table.commit"))
        ),
        "table.manifest_lookups": sum(s.counters.get("manifest_lookups", 0)
                                      for s in sub),
        "table.manifests_read": sum(s.counters.get("manifests_read", 0)
                                    for s in sub),
        "table.files_scanned": cnt("table.scan", "files_scanned"),
        "table.files_pruned": cnt("table.scan", "files_pruned"),
        "table.delete_files_applied": cnt("table.scan", "delete_files_applied"),
        "table.commit_ms": dur("table.commit") * 1e3,
        "table.commit_attempts": sum(
            s.counters.get("commit_attempts", 0) for s in sub
            if s.name == "table.commit" or "table.commit" in names_above(s)
        ),
        "table.commits": cnt("table.commit", "commits"),
        "table.write_s": dur("table.write"),
        "fileio.rename_ms": dur("fileio.rename") * 1e3,
        "fileio.files_renamed": cnt("fileio.rename", "files_renamed"),
        "stats.harvest_ms": dur("stats.harvest") * 1e3,
        "stats.files": cnt("stats.harvest", "files"),
        "bloom.filter_ms": dur("bloom.filter") * 1e3,
        "bloom.files_kept": cnt("bloom.filter", "files_kept"),
        "bloom.live_files": cnt("bloom.filter", "live_files"),
        "manifests.ms": dur("manifests") * 1e3,
        "expire.ms": dur("expire") * 1e3,
        "expire.orphans_removed": cnt("expire", "orphans_removed"),
    }

    # Spark status-store events, attributed by submission time to the phase
    # (and innermost span) open then; totals and per-phase rows alike
    phases = [s for s in sub if s.name.startswith("phase.")]
    stage_keys = ("tasks", "task_run_s", "jvm_cpu_s", "gc_s",
                  "shuffle_bytes", "spill_bytes")
    sp_tot = dict.fromkeys(("jobs",) + stage_keys, 0)
    per_phase = {s.name[6:]: {"wall_s": 0.0, "self_s": 0.0, "layers_self_s": {},
                              **sp_tot} for s in phases}
    curve = mapped = 0.0
    for ev in tr.spark_events(since_ms):
        owner = tr.owner_of(ev["t"], [s.idx for s in phases])
        if owner is None:
            continue
        osp = tr.spans[owner]
        chain = names_above(osp) | {osp.name}
        if ev["kind"] == "sql":
            curve += ev["curve_udf_s"]
            if chain & {"compact", "cluster"}:
                mapped += ev["map_udf_s"]
            continue
        ph = next(n[6:] for n in chain if n.startswith("phase."))
        for row in (sp_tot, per_phase[ph]):
            if ev["kind"] == "job":
                row["jobs"] += 1
            else:
                for k in stage_keys:
                    row[k] += ev[k]
    m["zorder.py_udf_s"] = curve
    m["verify.py_udf_s"] = mapped
    for k, v in sp_tot.items():
        m["spark." + k] = v
    m["spark.slot_util"] = sp_tot["task_run_s"] / (root.dur * slots)
    # sampled at one level only (phases, or the whole cycle for sub-second
    # ops), so summing over the cycle counts each interval once
    m["spark.py_workers_started"] = sum(
        s.counters.get("spark.py_workers_started", 0) for s in sub)
    m["proc.cpu_s"] = sum(s.counters.get("proc.cpu_s", 0) for s in sub)
    written = sum(s.counters.get("storage.bytes_written", 0) for s in sub)
    m["storage.write_amp"] = written / user_bytes if user_bytes else 0.0
    m["storage.bytes_per_user_byte"] = (
        table_bytes / live_user_bytes if live_user_bytes else 0.0)

    for s in sub:
        up = [n for n in names_above(s) if n.startswith("phase.")]
        if s.name.startswith("phase."):
            row = per_phase[s.name[6:]]
            row["wall_s"] += s.dur
            row["self_s"] += _self(tr, s)
        elif up:
            layers = per_phase[up[0][6:]]["layers_self_s"]
            layers[s.name] = layers.get(s.name, 0.0) + _self(tr, s)
    for row in per_phase.values():
        row["unaccounted_share"] = row["self_s"] / row["wall_s"] \
            if row["wall_s"] else 0.0
    phase_wall = sum(r["wall_s"] for r in per_phase.values())
    m["trace.unaccounted_share"] = (
        sum(r["self_s"] for r in per_phase.values()) / phase_wall
        if phase_wall else 0.0)
    return m, per_phase
