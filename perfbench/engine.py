"""Process environment and Spark session lifecycle for the benchmark.

Everything the benchmark or Spark writes stays under ``perfbench/.work`` of
the checkout: the JVM temp dir, the shuffle/spill dir, the SQL warehouse dir,
Python temp files and the per-repetition kgforge warehouses. ``setup_env``
must run before pyspark is imported, because the JVM and its Python workers
inherit the environment at launch.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# with local[4], four task threads plus their Python workers oversubscribe a
# 4-core host; local[3] is steadier and faster there
CORES = 3


def setup_env() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["KGFORGE_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("KGFORGE_DRIVER_MEM", "2g")


def start_spark():
    """A local[3] session; after ``spark.stop()`` it is re-created in the
    same JVM."""
    from kgforge.session import get_spark

    spark = get_spark(
        master=f"local[{CORES}]",
        app_name="kgforge-perfbench",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # a fixed, pre-touched heap keeps the JVM's resident size from
            # depending on when G1 decides to grow it; peak_rss_mb then moves
            # with off-heap, metaspace and Python worker memory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
                f"-Xms{os.environ['KGFORGE_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            # the status store must still hold every stage of the runs it reports
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of the Spark JVM and every process under it (the Python
    workers), in MiB."""
    total_kb = 0
    for pid in descendants(jvm_pid(spark)):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_s(spark=None) -> float:
    """CPU seconds used so far by this process and, given a session, the
    Spark JVM and every process under it (children that already exited
    count through their parent)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    pids = [os.getpid(), *(descendants(jvm_pid(spark)) if spark is not None else [])]
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its workers are gone."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    procs = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in procs[1:]:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, not yet reaped process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
