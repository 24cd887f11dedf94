"""The benchmark's Spark session: ``session.get_spark``'s settings on a
context the benchmark starts itself, so it can add event logs and keep
every file the run writes inside the checkout."""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from docling_core_spark.session import get_spark

# small enough for a shared box, ample for the benchmark corpora
DRIVER_MEM = "2g"
# a fixed young generation: G1's adaptive young sizing follows the
# allocation rate, which made the JVM's resident size track box speed.
# No perf-data file: HotSpot writes it under /tmp whatever the tmpdir.
JAVA_OPTS = "-Xmn256m -XX:-UsePerfData"


def start(work: str, cores: int, event_dir: Optional[str] = None
          ) -> SparkSession:
    """A fresh SparkContext at local[cores], then get_spark() on top of
    it (get_spark's SQL settings apply to the session; the context
    settings here are the ones that must exist before the JVM starts).
    ``event_dir`` turns on uncompressed event logs with process-tree
    memory polling."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = (SparkConf().setMaster(f"local[{cores}]").setAppName("perfbench")
            .set("spark.driver.memory", DRIVER_MEM)
            .set("spark.driver.extraJavaOptions",
                 f"{JAVA_OPTS} -Djava.io.tmpdir={tmp}")
            .set("spark.local.dir", os.path.join(work, "spark-local"))
            .set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
            .set("spark.ui.enabled", "false")
            .set("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf = (conf.set("spark.eventLog.enabled", "true")
                .set("spark.eventLog.dir", "file://" + event_dir)
                .set("spark.eventLog.compress", "false")
                .set("spark.executor.processTreeMetrics.enabled", "true")
                .set("spark.executor.metrics.pollingInterval", "100ms"))
    SparkContext(conf=conf).setLogLevel("ERROR")
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores)


def shutdown_jvm() -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait
    until it and every process it started - the Python worker daemon
    and its workers - have exited."""
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    started = _tree(proc.pid) if proc is not None else []
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark's Python workers outlived the JVM")
        time.sleep(0.05)


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list:
    """``root`` and every process under it."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(stat_path: str, reaped: bool = True) -> int:
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime, stime, then cutime, cstime: reaped children
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads, which live as long
    as the JVM."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read()
        except OSError:
            continue
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", False)
    return total


def cpu_s() -> float:
    """CPU seconds used so far by the JVM and every process under it,
    reaped children included, less the JVM's JIT compiler threads: how
    much compiling lands inside a pass follows the compiler's timing,
    not the pass's work."""
    jvm = SparkContext._gateway.proc.pid
    ticks = (sum(_cpu_ticks(f"/proc/{pid}/stat") for pid in _tree(jvm))
             - _jit_ticks(jvm))
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the JVM plus every process under
    it - the Python worker daemon and its forked workers."""
    proc = SparkContext._gateway.proc
    return sum(_hwm_kb(pid) for pid in _tree(proc.pid)) / 1024.0
