"""The two closed-loop workloads, one client each.

- `maintain`: every cycle builds a fresh table of N images and runs the full
  maintenance path on it: fragmented ingest, MERGE of N/10 changes, verified
  bin-pack compaction, verified Hilbert cluster, manifest rewrite, expire
  with orphan reaping. Rewrite-heavy.
- `lookup`: a clustered table with a Bloom index on `image_id` and one
  unfolded MERGE (live equality deletes). A round is a fixed list of point
  lookups (every fifth one a deleted id) and fixed-width `phash` range
  counts. Read path only: no rewrite operator and no Python UDF runs.

Inputs come from `--seed`: image ids start at seed * 10^7 and the change
feed is drawn from numpy's generator seeded with the seed. Every timed
operation is checked against an oracle computed outside the engine; a failed
check counts as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

# sizes per scale; `tiny` is the self-test's
SIZES = {
    "full": {
        "maintain": {"n": 4000, "files": 32},
        "lookup": {"n": 4000, "points": 8, "ranges": 4},
    },
    "tiny": {
        "maintain": {"n": 400, "files": 16},
        "lookup": {"n": 600, "points": 5, "ranges": 2},
    },
}
WARMUP_CYCLES = {"maintain": 2, "lookup": 3}
ID_STRIDE = 10_000_000
RANGE_WIDTH = 1 << 58  # 1/64 of the phash space
DELETED_EVERY = 5  # every fifth point lookup probes a deleted id


@dataclass
class Result:
    """What one run measured: per-op samples, counts and per-cycle walls."""
    samples: dict = field(default_factory=dict)  # metric -> [values]
    cycle_walls: list = field(default_factory=list)
    cycle_traced: list = field(default_factory=list)
    warmup_walls: list = field(default_factory=list)
    layer_cycles: list = field(default_factory=list)  # per traced cycle
    attempted: int = 0
    failed: int = 0
    work: float = 0.0  # work items done by timed ops
    work_s: float = 0.0  # wall of the timed ops that did them
    setup_s: float = 0.0
    notes: dict = field(default_factory=dict)

    def add(self, key: str, value: float, traced: bool = False) -> None:
        """Samples of traced cycles are kept apart: they carry the tracing
        overhead."""
        self.samples.setdefault(key + ("@traced" if traced else ""), []) \
            .append(value)


class Bench:
    """Shared state of one run: session, tracer, oracle helpers, counters."""

    def __init__(self, spark, slots: int, work: str, seed: int, scale: str,
                 tracer, trace: bool, break_oracle: bool):
        self.spark = spark
        self.slots = slots
        self.work = work
        self.wh = os.path.join(work, "warehouse")
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.trace = trace
        self.break_oracle = break_oracle
        self.res = Result()
        self.rng = np.random.default_rng(seed)
        os.makedirs(self.wh, exist_ok=True)

    # ------------------------------------------------------------ inputs

    def images_df(self, start: int, n: int):
        """Deterministic bench-size images for ids [start, start+n)."""
        from olake_spark import datagen

        def gen(batches):
            for b in batches:
                yield pd.DataFrame(
                    [datagen._make_row(int(i), True) for i in b["id"]]
                )

        return self.spark.range(start, start + n, 1, self.slots).mapInPandas(
            gen, datagen.IMAGES_SCHEMA
        )

    def change_batch(self, live: dict, sizes: dict, next_id: int, batch: int,
                     n: int):
        """n distinct-key changes over `live` (id -> caption): 50% updates,
        30% inserts of fresh ids, 20% deletes. Folds them into `live` (the
        oracle) and `sizes` (id -> payload bytes) and returns (pandas batch,
        next fresh id, payload bytes handed in, deleted ids)."""
        from olake_spark import datagen

        n_upd, n_ins = n // 2, (3 * n) // 10
        n_del = n - n_upd - n_ins
        keys = sorted(live)
        pick = self.rng.choice(len(keys), size=n_upd + n_del, replace=False)
        upd = [keys[i] for i in pick[:n_upd]]
        dels = [keys[i] for i in pick[n_upd:]]
        ins = list(range(next_id, next_id + n_ins))
        ts = pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=batch)
        rows, payload = [], 0
        for op, ids in (("u", upd), ("c", ins)):
            for i in ids:
                r = datagen._make_row(i, True)
                r["caption"] = f"{'updated' if op == 'u' else 'inserted'} " \
                               f"b{batch}: {r['caption']}"
                live[i] = r["caption"]
                sizes[i] = len(r["bytes"]) + len(r["caption"])
                payload += sizes[i]
                rows.append({**r, "_op_type": op})
        for i in dels:
            del live[i]
            sizes.pop(i, None)
            rows.append({"image_id": f"img-{i:012d}", "bytes": None, "w": None,
                         "h": None, "fmt": None, "caption": None, "phash": None,
                         "_op_type": "d"})
        pdf = pd.DataFrame(rows)
        pdf["_cdc_timestamp"] = ts
        pdf["_olake_timestamp"] = ts
        return pdf, next_id + n_ins, payload, dels

    def changes_df(self, pdf):
        from olake_spark import datagen

        return self.spark.createDataFrame(pdf, datagen.CHANGES_SCHEMA)

    def new_table(self, name: str):
        from olake_spark import datagen
        from olake_spark.icelite import PartitionField, PartitionSpec, Table

        root = os.path.join(self.wh, name)
        shutil.rmtree(root, ignore_errors=True)
        return Table.create(
            self.spark, root, datagen.IMAGES_SCHEMA,
            PartitionSpec((PartitionField("image_id", "bucket", 8),)),
            identifier_fields=("image_id",),
            properties={"write.parquet.compression-codec": "uncompressed"},
        )

    # ------------------------------------------------------------ oracles

    def digest(self, df, cols: list[str]) -> tuple:
        """(rows, sum of 64-bit row hashes): equal multisets give equal
        digests; any changed, lost or extra row changes it."""
        from pyspark.sql import functions as F

        r = df.select(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (r["n"], int(r["h"] or 0))

    def expect(self, got, want) -> bool:
        """Oracle comparison; `--break-oracle` perturbs the expectation so the
        self-test can show failures are counted."""
        if self.break_oracle:
            want = ("broken", want)
        return got == want

    @contextmanager
    def untraced(self):
        """Oracle work inside a traced cycle stays out of the layer numbers."""
        was, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = was

    def payload_sizes(self, t) -> dict:
        """id -> payload bytes (image + caption) of every row of `t`."""
        from pyspark.sql import functions as F

        rows = t.scan(columns=["image_id", "bytes", "caption"]).select(
            "image_id", (F.length("bytes") + F.length("caption")).alias("n")
        ).collect()
        return {int(r["image_id"][4:]): r["n"] for r in rows}

    # ------------------------------------------------------------ timing

    @contextmanager
    def phase(self, name: str, walls: dict, sample: bool = True):
        """A timed step of a cycle; `sample` phases also read process CPU,
        worker starts and bytes written (too dear for sub-second ops)."""
        with self.tracer.span("phase." + name, sample=sample):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                walls[name] = time.perf_counter() - t0

    def run_cycles(self, cycle: Callable[[bool], None], seconds: float,
                   warmup: int, sample_cycle: bool = False) -> None:
        """Warm-up cycles (untimed, part of set-up), then timed cycles until
        `seconds` have passed. A traced run alternates traced and untraced
        cycles, so tracing overhead is measured inside one process."""
        for _ in range(warmup):
            t0 = time.perf_counter()
            cycle(False)
            self.res.warmup_walls.append(time.perf_counter() - t0)
        self.res.setup_s = time.perf_counter() - self.t_start
        deadline = time.perf_counter() + seconds
        k = 0
        # traced runs: at least traced, untraced, traced, so a linear drift
        # of the walls cancels out of the overhead
        while k < (3 if self.trace else 1) or time.perf_counter() < deadline:
            traced = self.trace and k % 2 == 0
            self.tracer.enabled = traced
            if traced:
                self.tracer.install()
                since_ms = int(time.time() * 1000)
            t0 = time.perf_counter()
            with self.tracer.span("cycle", sample=sample_cycle) as sp:
                cycle(True)
            wall = time.perf_counter() - t0
            if traced:
                self.tracer.uninstall()
                self.tracer.enabled = False
                self.res.layer_cycles.append({
                    "idx": sp.idx, "since_ms": since_ms,
                    "table_bytes": sum(self.tracer._files_seen.values()),
                    "user_bytes": self.res.notes.get("user_bytes", 0),
                    "live_user_bytes": self.res.notes.get("live_user_bytes", 0),
                })
            self.res.cycle_walls.append(wall)
            self.res.cycle_traced.append(traced)
            k += 1

    def sample(self, key: str, wall: float, work: float = 0.0) -> None:
        """Record a timed op; traced cycles are kept apart and do not count
        toward throughput, since they carry the tracing overhead."""
        traced = self.tracer.enabled
        self.res.add(key, wall, traced)
        if work and not traced:
            self.res.work += work
            self.res.work_s += wall

    def timed_op(self, fn: Callable[[], bool]) -> float | None:
        """Run one checked operation; returns its wall, or None if it raised
        or its check failed (both count as a failed operation)."""
        self.res.attempted += 1
        t0 = time.perf_counter()
        try:
            ok = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        if not ok:
            self.res.failed += 1
            return None
        return wall


# ---------------------------------------------------------------- maintain

def maintain(b: Bench, seconds: float) -> None:
    from pyspark.sql import functions as F

    from olake_spark import datagen
    from olake_spark.operators import (cluster, compact, expire, manifests,
                                       merge)
    from olake_spark.verify import verify_table_scan

    cfg = SIZES[b.scale]["maintain"]
    n, base = cfg["n"], b.seed * ID_STRIDE
    src = os.path.join(b.work, "maintain-src")
    chg = os.path.join(b.work, "maintain-chg")
    b.images_df(base, n).write.mode("overwrite").parquet(src)
    live = {i: datagen._caption(i) for i in range(base, base + n)}
    pdf, _, _, _ = b.change_batch(live, {}, base + n, 0, n // 10)
    b.changes_df(pdf).write.mode("overwrite").parquet(chg)
    src_df, chg_df = b.spark.read.parquet(src), b.spark.read.parquet(chg)
    cols = [f.name for f in datagen.IMAGES_SCHEMA.fields]
    oracle = merge.apply_changes_oracle(src_df, chg_df, ["image_id"])
    want = b.digest(oracle, cols)
    payload = F.length("bytes") + F.length("caption")
    user_bytes = (
        src_df.select(F.sum(payload)).collect()[0][0]
        + chg_df.select(F.sum(F.coalesce(payload, F.lit(0)))).collect()[0][0]
    )
    live_bytes = oracle.select(F.sum(payload)).collect()[0][0]
    b.res.notes.update(n_images=n, changes=n // 10, rows_after_merge=want[0])
    state = {"cycle": 0, "table": None}

    def cycle(timed: bool) -> None:
        walls: dict = {}
        state["cycle"] += 1
        t = b.new_table(f"maintain-{state['cycle']}")
        if state["table"] is not None:
            shutil.rmtree(state["table"].root, ignore_errors=True)
        state["table"] = t

        def run() -> bool:
            with b.phase("ingest", walls):
                datagen.fragmented_append(t, b.spark.read.parquet(src), n,
                                          n_files=cfg["files"])
            with b.phase("merge", walls):
                merge.merge_into(t, b.spark.read.parquet(chg))
            with b.phase("compact", walls):
                total = sum(e.file_size_bytes for e in t.entries()
                            if e.content == 0)
                target = max(1 << 22, total // 64)
                compact.run_compaction(t, "compact", fill_ratio=1.0,
                                       target_bytes=target, verify=True)
            with b.phase("cluster", walls):
                cluster.run_cluster_rewrite(t, "cluster", curve="hilbert",
                                            target_bytes=target, verify=True)
            with b.phase("manifests", walls):
                manifests.rewrite_manifests(t, target_entries=512)
            with b.phase("expire", walls):
                expire.run_expire(t, keep_last=1, grace_seconds=0.0)
            return True

        if not timed:
            run()
            return
        wall = b.timed_op(run)
        if wall is None:
            return
        with b.untraced():
            ok = b.expect(b.digest(t.scan(), cols), want)
        if not ok:
            b.res.failed += 1
            return
        rewrite = walls["compact"] + walls["cluster"]
        b.sample("op", rewrite, work=want[0])
        b.sample("op2", sum(walls.values()))
        for k, v in walls.items():
            b.sample("phase." + k, v)
        b.res.notes["user_bytes"] = user_bytes
        b.res.notes["live_user_bytes"] = live_bytes

    b.run_cycles(cycle, seconds, WARMUP_CYCLES["maintain"])

    # decoded-pixel check of the last timed table against the generator:
    # PNG bit-exact, JPEG PSNR >= 40 dB, generated caption intact, one row
    # per oracle id
    def pixels() -> bool:
        s = verify_table_scan(state["table"].scan(), bench=True)
        b.res.notes["min_psnr_db"] = s["min_psnr_db"]
        return b.expect(
            (s["rows"], s["pixel_failures"], s["caption_failures"]),
            (want[0], 0, 0),
        )

    b.timed_op(pixels)


# ------------------------------------------------------------------ lookup

def lookup(b: Bench, seconds: float) -> None:
    from olake_spark import datagen
    from olake_spark.icelite import bloom
    from olake_spark.operators import cluster, merge

    cfg = SIZES[b.scale]["lookup"]
    n, base = cfg["n"], b.seed * ID_STRIDE
    t = b.new_table("lookup")
    t.append(b.images_df(base, n))
    cluster.run_cluster_rewrite(t, "setup", curve="hilbert", verify=True)
    bloom.build_bloom_index(t, "image_id")
    live = {i: datagen._caption(i) for i in range(base, base + n)}
    sizes = b.payload_sizes(t)
    pdf, _, _, deleted = b.change_batch(live, sizes, base + n, 1,
                                        max(10, n // 100))
    merge.merge_into(t, b.changes_df(pdf))  # left unfolded: reads apply deletes

    phash = {
        int(r["image_id"][4:]): r["phash"]
        for r in t.scan(columns=["image_id", "phash"]).collect()
    }
    if set(phash) != set(live):
        raise RuntimeError("lookup set-up: table ids differ from the oracle")
    keys = sorted(live)
    vals = np.array(list(phash.values()), dtype=np.int64)

    def draw_round() -> list:
        """A fresh round of queries from the seeded generator: points with a
        deleted id at every DELETED_EVERY-th position, ranges interleaved."""
        ops = []
        per = max(1, cfg["points"] // cfg["ranges"])
        for j in range(cfg["points"]):
            if j % DELETED_EVERY == DELETED_EVERY - 1:
                ops.append(("point", deleted[int(b.rng.integers(len(deleted)))]))
            else:
                ops.append(("point", keys[int(b.rng.integers(len(keys)))]))
            if j % per == per - 1 and j // per < cfg["ranges"]:
                a = int(b.rng.integers(-(1 << 63), (1 << 63) - RANGE_WIDTH))
                z = a + RANGE_WIDTH
                ops.append(("range", (a, z, int(((vals >= a) & (vals < z)).sum()))))
        return ops

    b.res.notes.update(n_images=n, points=cfg["points"], ranges=cfg["ranges"])

    def point(i: int) -> bool:
        iid = f"img-{i:012d}"
        df = bloom.point_lookup(t, "image_id", [iid],
                                columns=["image_id", "caption"])
        with b.tracer.span("spark.exec"):
            rows = df.collect()
        want = [(iid, live[i])] if i in live else []
        return b.expect([(r["image_id"], r["caption"]) for r in rows], want)

    def count_range(q: tuple) -> bool:
        a, z, want = q
        df = t.scan(columns=["phash"],
                    predicates=[("phash", ">=", a), ("phash", "<", z)])
        with b.tracer.span("spark.exec"):
            got = df.count()
        return b.expect(got, want)

    def cycle(timed: bool) -> None:
        walls: dict = {}
        for kind, arg in draw_round():
            fn = (lambda: point(arg)) if kind == "point" else \
                (lambda: count_range(arg))
            with b.phase(kind, walls, sample=False):
                if not timed:
                    fn()
                    continue
                wall = b.timed_op(fn)
            if wall is not None:
                b.sample("op" if kind == "point" else "op2", wall, work=1)

    b.res.notes.update(user_bytes=0, live_user_bytes=sum(sizes.values()))
    b.run_cycles(cycle, seconds, WARMUP_CYCLES["lookup"], sample_cycle=True)


WORKLOADS = {"maintain": maintain, "lookup": lookup}
