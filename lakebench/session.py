"""Noise-controlled Spark session for the benchmark, and host readings.

Every knob here is a benchmark setting, passed through the engine's own
`get_spark(extra_conf=...)`; nothing in `olake_spark/` changes:

- task slots = half the CPUs this process may run on, so the driver, GC, JIT
  and Python workers keep the other half;
- a fixed heap: -Xms pinned to the size `get_spark` gives -Xmx for these
  slots, so the heap is the engine's own and never resizes; pinned GC / JIT
  compiler thread counts;
- warehouse, `spark.local.dir` and every temp dir inside the work directory
  of the checkout (the benchmark writes nowhere else);
- status-store retention raised so a traced run keeps every job, stage and
  SQL execution it attributes to spans.
"""

from __future__ import annotations

import os
import sys
import tempfile


def task_slots() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_spark(work: str, slots: int):
    """A local[slots] session whose files all live under `work`."""
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Python workers import the engine from the checkout, and put their temp
    # files in it; SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case something already cached /tmp
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    # the spark-submit launcher JVM: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_DRIVER_MEM", None)

    from olake_spark.session import _heap_gb, get_spark

    java_opts = " ".join([
        f"-Xms{_heap_gb(slots)}g",
        f"-XX:ParallelGCThreads={slots}",
        "-XX:ConcGCThreads=1",
        "-XX:CICompilerCount=2",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
    ])
    return get_spark(
        "olake-lakebench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": local_dir,
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def prespawn_python_workers(spark, slots: int) -> None:
    """Start and keep (worker reuse) the Python workers the rewrite stages
    use: a task that chains a map-in-pandas stage and a pandas UDF holds two
    workers at once, so every slot runs one such task."""
    from pyspark.sql import functions as F

    from olake_spark.functions.zorder import hilbert_key_col

    df = spark.range(0, slots * 4096, 1, slots).mapInPandas(
        lambda it: it, "id long"
    )
    df.select(
        hilbert_key_col(F.col("id"), (F.col("id") % 64).cast("int"),
                        (F.col("id") % 64).cast("int")).alias("k")
    ).agg(F.max("k")).collect()


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM's stdin (it exits on EOF)
    and wait for it, so no process outlives the run."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    try:
        sc._gateway.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: do not leave it running
            proc.kill()
            proc.wait(timeout=10)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two /proc/stat reads."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind
