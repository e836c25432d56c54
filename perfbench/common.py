"""Shared plumbing of the KG-build benchmark: checkout paths, the Spark
session it measures, host probes (RSS high-water mark, CPU steal) and the
order-insensitive output digest.

Everything the benchmark writes (fixtures, oracle digests, Spark scratch,
sinks, traces) lives under ``<checkout>/.perfbench_cache``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

# Session conf, identical for every workload and every commit compared.
# local[4] matches the 4-CPU host; one shuffle partition per core keeps the
# per-task overhead of these small fixtures from swamping the per-row work
# (the engine's default of 32, sized for local[32], measured ~2x the EP1
# wall at sf0.01 on local[4]).
N_CORES = 4
SHUFFLE_PARTITIONS = 4
ARROW_MAX_RECORDS = 10_000
DRIVER_MEM = "2g"


def session_conf() -> dict:
    """The stated session settings (printed with every result)."""
    return {"master": f"local[{N_CORES}]",
            "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
            "spark.sql.execution.arrow.maxRecordsPerBatch": ARROW_MAX_RECORDS,
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.relpath(_local_dir(), ROOT)}


def spec() -> dict:
    """``BENCHMARK.json``: workload names and every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _local_dir() -> str:
    return os.path.join(CACHE, "spark-local")


def prepare_env() -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into the checkout, and make the engine importable by workers."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(_local_dir(), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too): temp files in the
    # checkout, no /tmp/hsperfdata_* entry
    # compiler threads live as long as the JVM, so their CPU can be read
    # and set apart from the work CPU (CpuMeter)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_LOCAL_DIRS"] = _local_dir()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    """A fresh session through the engine's public factory."""
    from arekit_r335_spark.config import ScaleConfig
    from arekit_r335_spark.session import get_spark

    scale = ScaleConfig(
        shuffle_partitions=SHUFFLE_PARTITIONS,
        max_records_per_batch=ARROW_MAX_RECORDS,
        extra_conf={"spark.local.dir": _local_dir(),
                    "spark.ui.showConsoleProgress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{N_CORES}]",
                      scale=scale)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - TimeoutExpired: make sure it ends
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Resident-set high-water mark (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str]:
    """Fields of a ``/proc/.../stat`` line after ``(comm)``: state, ppid,
    ..., utime stime cutime cstime at [11:15]."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) of a process and
    all its descendants: the driver Python, the JVM it launched and the
    JVM's Python workers."""
    root = os.getpid() if root is None else root
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            rest = _stat_fields(f"/proc/{pid}/stat")
        except OSError:   # the process ended while we looked
            continue
        stats[int(pid)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / _CLK_TCK


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads (``C1/C2
    CompilerThread*``; they live as long as the JVM, see prepare_env)."""
    ticks = 0
    task = f"/proc/{jvm}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre",
                                            "C2 CompilerThre")):
                    continue
            ticks += sum(int(x) for x in
                         _stat_fields(f"{task}/{tid}/stat")[11:13])
        except OSError:
            continue
    return ticks / _CLK_TCK


class CpuMeter:
    """CPU seconds of the whole process tree, split into the workload's
    own work and the JVM's JIT compilation. JIT work still runs for many
    iterations after the cold one and its amount per iteration depends on
    how busy the host is, so it is reported apart from the work CPU."""

    def __init__(self, jvm: int) -> None:
        self.jvm = jvm

    def read(self) -> tuple[float, float]:
        jit = jit_cpu_s(self.jvm)
        return tree_cpu_s() - jit, jit


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[1] - t0[1]) / max(1, t1[0] - t0[0])


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


class Clock:
    """Wall-clock stopwatch (``time.perf_counter``)."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0


# ------------------------------------------------------------------ digest
#
# Order-insensitive multiset digest in the style of tools/check_oracles.py
# (norm_frame + value_hash): columns sorted by name, floats rounded to 6
# places, every value rendered as a string. Spark computes it — on the
# engine's output as an Observation riding on the measured action (no
# extra job), and on the oracle's rows through createDataFrame — so both
# sides render values identically.

def digest_aggs(df) -> list:
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = sorted(df.columns)
    vals = []
    for c in cols:
        e = F.col(c)
        if isinstance(df.schema[c].dataType, (DoubleType, FloatType)):
            e = F.round(e, 6)
        vals.append(F.coalesce(e.cast("string"), F.lit("\u0000")))
    row = F.concat_ws("\u0002", F.lit("\u0001".join(cols)), *vals)
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(row).cast("decimal(38,0)")).alias("h1"),
            F.sum(F.hash(row).cast("decimal(38,0)")).alias("h2")]


def digest_str(values: dict) -> str:
    return f"{values['n']}:{values['h1']}:{values['h2']}"


def observe_digest(df, name: str):
    """(observed df, Observation) — read ``digest_of(obs)`` after an action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *digest_aggs(df)), obs


def digest_of(obs) -> str:
    return digest_str(obs.get)


def digest_df(df) -> str:
    return digest_str(df.agg(*digest_aggs(df)).first().asDict())
