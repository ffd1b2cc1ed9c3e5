"""Span tracing of olake_spark from outside the engine.

`Tracer.install()` wraps the engine's public entry points (operators, table
planning/commit/write, FileIO promote, footer-stat harvest, Bloom filter) in
place; `uninstall()` restores the originals. Spans record name, start, end
and parent and stay in memory until `dump()` writes them out. Counters are
added to the innermost open span, so ratios are measured where the work
happens.

Spark runtime numbers (jobs, tasks, CPU, GC, shuffle, spill) and Python-UDF
time come from the application and SQL status stores, which Spark keeps with
the UI off. They are read once per traced cycle and attributed to the
innermost span open when the job, stage or SQL execution was submitted.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    idx: int
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers cost one attribute check."""

    def __init__(self, spark=None, work_root: str | None = None):
        self.spark = spark
        self.work_root = work_root
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._workers_seen: set[int] = set()
        self._files_seen: dict[str, int] = {}

    # ------------------------------------------------------------- spans

    @contextmanager
    def _open(self, name: str, sample: bool):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent, len(self.spans))
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sp.idx)
        self._stack.append(sp.idx)
        if sample:
            cpu0, _ = self._proc_sample()
        try:
            yield sp
        finally:
            if sample:
                cpu1, started = self._proc_sample()
                sp.counters["proc.cpu_s"] = cpu1 - cpu0
                sp.counters["spark.py_workers_started"] = started
                if self.work_root:
                    sp.counters["storage.bytes_written"] = self._new_bytes()
            sp.end = time.time()
            self._stack.pop()

    def span(self, name: str, sample: bool = False):
        """Context manager; `sample=True` (phase spans) also measures process
        tree CPU, Python workers started and table bytes written."""
        if not self.enabled:
            return nullcontext(None)
        return self._open(name, sample)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled and self._stack:
            c = self.spans[self._stack[-1]].counters
            c[key] = c.get(key, 0) + n

    # ------------------------------------------------- process / storage

    def _proc_sample(self) -> tuple[float, int]:
        """(CPU seconds of this process tree, Python workers first seen now).

        Forked pyspark workers carry the daemon's command line; a worker is a
        `pyspark.daemon` process whose parent is one too."""
        procs: dict[int, tuple[int, float, str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    cmd = f.read(4096).decode(errors="replace")
            except OSError:
                continue
            rest = raw[raw.rindex(")") + 2:].split()
            ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
            procs[int(d)] = (int(rest[1]), ticks / _CLK_TCK, cmd)
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _, _) in procs.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        cpu = sum(procs[p][1] for p in tree if p in procs)
        workers = {
            p for p in tree
            if p in procs and "pyspark.daemon" in procs[p][2]
            and procs[p][0] in procs and "pyspark.daemon" in procs[procs[p][0]][2]
        }
        new = len(workers - self._workers_seen)
        self._workers_seen |= workers
        return cpu, new

    def _new_bytes(self) -> int:
        """Bytes of table files that appeared since the previous call."""
        seen = self._files_seen
        now: dict[str, int] = {}
        for dirpath, _, names in os.walk(self.work_root):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    now[p] = os.path.getsize(p)
                except OSError:
                    pass
        self._files_seen = now
        return sum(sz for p, sz in now.items() if p not in seen)

    # ------------------------------------------------------ entry points

    def install(self) -> None:
        """Wrap the engine's entry points; idempotent per install/uninstall."""
        if self._patches:
            return
        from olake_spark.icelite import bloom, fileio, stats, table
        from olake_spark.operators import (cluster, compact, expire,
                                           manifests, merge)

        T = table.Table
        self._wrap_fn(compact, "run_compaction", "compact", self._on_compact)
        self._wrap_fn(compact, "plan_compaction", "compact.plan", None)
        self._wrap_fn(cluster, "run_cluster_rewrite", "cluster", None)
        self._wrap_fn(merge, "merge_into", "merge", self._on_merge)
        self._wrap_fn(manifests, "rewrite_manifests", "manifests", None)
        self._wrap_fn(expire, "run_expire", "expire", self._on_expire)
        self._wrap_fn(stats, "collect_file_stats", "stats.harvest", self._on_stats)
        self._wrap_fn(bloom, "bloom_file_filter", "bloom.filter", self._on_bloom)
        self._wrap_fn(table, "_read_manifest", None,
                      functools.partial(self._on_manifest_read, table))
        self._wrap_attr(T, "scan", "table.scan", self._on_scan)
        self._wrap_attr(T, "entries", "table.entries", self._on_entries)
        self._wrap_attr(T, "_commit", "table.commit", self._on_commit)
        self._wrap_attr(T, "_stage_write", "table.write", None)
        self._wrap_attr(T, "_write_delete_files", "table.write_deletes",
                        self._on_delete_files)
        self._wrap_attr(fileio.FileIO, "rename_many", "fileio.rename",
                        self._on_rename)
        self._wrap_attr(type(fileio.default_io()), "atomic_create_json", None,
                        self._on_attempt)
        # the concrete (classic) DataFrame class defines the method
        self._wrap_attr(type(self.spark.range(0)), "approxQuantile",
                        "cluster.boundary", None)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:  # the wrapper shadowed an inherited method
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    def _wrapper(self, fn, name: str | None, on_result):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if name is None:  # counter-only hook, called before the call
                on_result(args, kwargs)
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None and sp is not None:
                    on_result(sp, args, kwargs, out)
                return out

        return wrapped

    def _wrap_attr(self, owner, attr: str, name, on_result) -> None:
        own = owner.__dict__.get(attr)
        setattr(owner, attr,
                self._wrapper(own or getattr(owner, attr), name, on_result))
        self._patches.append((owner, attr, own))

    def _wrap_fn(self, module, attr: str, name, on_result) -> None:
        """Replace a module function everywhere the engine bound it by name
        (`from x import f` copies the reference into the importer)."""
        orig = getattr(module, attr)
        w = self._wrapper(orig, name, on_result)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("olake_spark") and \
                    mod.__dict__.get(attr) is orig:
                setattr(mod, attr, w)
                self._patches.append((mod, attr, orig))

    # ------------------------------------------------------ result hooks

    def _on_compact(self, sp, a, kw, out):
        sp.counters["bins"] = out.get("bins_executed", 0)

    def _on_merge(self, sp, a, kw, out):
        sp.counters["rows_in"] = (out.get("summary") or {}).get("added-records", 0)

    def _on_expire(self, sp, a, kw, out):
        sp.counters["orphans_removed"] = out.get("orphans_removed", 0)

    def _on_stats(self, sp, a, kw, out):
        sp.counters["files"] = len(out)

    def _live_files(self, sp) -> int:
        """Data files listed by the `Table.entries` calls inside `sp`."""
        return sum(self.spans[i].counters.get("data", 0) for i in sp.children
                   if self.spans[i].name == "table.entries")

    def _on_bloom(self, sp, a, kw, out):
        live = self._live_files(sp)
        sp.counters["live_files"] = live
        sp.counters["files_kept"] = live if out is None else len(out)

    def _on_manifest_read(self, table, a, kw):
        """Every manifest the planner asks for, and those actually read from
        storage (hits in the engine's manifest cache read nothing)."""
        self.count("manifest_lookups")
        if (a[0] if a else kw["path"]) not in table._MANIFEST_CACHE:
            self.count("manifests_read")

    def _on_entries(self, sp, a, kw, out):
        deletes = sum(1 for e in out if e.content != 0)
        sp.counters["data"] = len(out) - deletes
        sp.counters["deletes"] = deletes

    def _on_scan(self, sp, a, kw, out):
        files = out.inputFiles()
        scanned = sum(1 for p in files if "/data/" in p)
        sp.counters["files_scanned"] = scanned
        sp.counters["files_pruned"] = max(0, self._live_files(sp) - scanned)
        sp.counters["delete_files_applied"] = sum(
            1 for p in files if "/deletes/" in p
        )

    def _on_commit(self, sp, a, kw, out):
        sp.counters["commits"] = 1

    def _on_attempt(self, a, kw):
        self.count("commit_attempts")

    def _on_delete_files(self, sp, a, kw, out):
        sp.counters["delete_files_out"] = len(out)

    def _on_rename(self, sp, a, kw, out):
        pairs = a[1] if len(a) > 1 else kw.get("pairs", [])
        sp.counters["files_renamed"] = len(pairs)

    # ------------------------------------------------ Spark status stores

    def spark_events(self, since_ms: int) -> list[dict]:
        """Stages, jobs and SQL executions submitted at or after `since_ms`,
        flattened to dicts with a submission time in seconds."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()  # the stores are fed asynchronously
        app = sc.statusStore()
        out: list[dict] = []
        for j in conv.asJava(app.jobsList(None)):
            sub = j.submissionTime()
            if sub.isEmpty() or sub.get().getTime() < since_ms:
                continue
            out.append({"kind": "job", "t": sub.get().getTime() / 1000.0})
        stages = app.stageList(
            None, False, False, getattr(app, "stageList$default$4")(), None
        )
        for s in conv.asJava(stages):
            sub = s.submissionTime()
            if sub.isEmpty() or sub.get().getTime() < since_ms:
                continue
            out.append({
                "kind": "stage", "t": sub.get().getTime() / 1000.0,
                "tasks": s.numCompleteTasks(),
                "task_run_s": s.executorRunTime() / 1e3,
                "jvm_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in conv.asJava(sql.executionsList()):
            if e.submissionTime() < since_ms:
                continue
            eid = e.executionId()
            vals = conv.asJava(sql.executionMetrics(eid))
            py = {"ArrowEvalPython": 0.0, "MapInPandas": 0.0}
            for node in conv.asJava(sql.planGraph(eid).allNodes()):
                kind = node.name()
                if kind not in py:
                    continue
                for m in conv.asJava(node.metrics()):
                    if m.name() == "time to run Python workers":
                        py[kind] += _parse_timing(vals.get(m.accumulatorId()))
            out.append({"kind": "sql", "t": e.submissionTime() / 1000.0,
                        "curve_udf_s": py["ArrowEvalPython"],
                        "map_udf_s": py["MapInPandas"]})
        return out

    def owner_of(self, t: float, roots: list[int]) -> int | None:
        """Innermost span under one of `roots` that was open at time `t`."""
        best = None
        for r in roots:
            sp = self.spans[r]
            if not sp.start <= t <= sp.end:
                continue
            best = r
            descended = True
            while descended:
                descended = False
                for i in self.spans[best].children:
                    c = self.spans[i]
                    if c.start <= t <= c.end:
                        best, descended = i, True
                        break
        return best

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "counters": s.counters}
                    for s in self.spans
                ],
                **extra,
            }, f)


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_timing(text) -> float:
    """Seconds from a Spark timing metric string ("total (...)\\n5.1 s (...)"
    or "11 ms")."""
    if not text:
        return 0.0
    line = str(text).splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
