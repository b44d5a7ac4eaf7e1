"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a 100 TB / 1000-executor deployment and scaled down for
the local[32] sandbox:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow transport on for every pandas UDF boundary (per-row Python is banned
  by the contract, BASELINE.json input_hint).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE coalescing + `spark.sql.adaptive.coalescePartitions`.
- A codegen cache that holds a whole pipeline call
  (`spark.sql.codegen.cache.maxEntries`, see CODEGEN_CACHE_ENTRIES). It is a
  static SQL conf: it applies only to sessions this factory creates. A
  session created elsewhere and passed in, as `__spark_entry__.entry`
  receives one, keeps Spark's default of 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# One run_pipeline call generates about 133 distinct classes. Spark's default
# LRU codegen cache holds 100, smaller than the loop, so it thrashes: every
# warm call re-ran Janino on 99-116 classes and the JIT re-warmed each fresh
# class. Sized for a whole call with headroom for the registry ops.
CODEGEN_CACHE_ENTRIES = 1000


def _mem_total_gib() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 0


def _default_driver_mem() -> str:
    """Derive the local-mode heap from the host instead of hard-coding the
    bench box: 48g on a 128 GiB host, but a JVM asked for more heap than the
    machine has fails to START — degrade to ~40% of MemTotal (min 2g) on
    smaller hosts."""
    total = _mem_total_gib()
    if total >= 120:
        return "48g"
    return f"{max(2, int(total * 0.4))}g" if total else "4g"


def _default_local_dir() -> str:
    """Shuffle spill on tmpfs only when it plausibly fits: /dev/shm is
    capped at ~50% of RAM, and filling it mid-job competes with the heap for
    the same physical memory. Require ≥16 GiB free in /dev/shm; otherwise
    fall back to the default disk local dir (slower, but degrades instead of
    failing)."""
    try:
        st = os.statvfs("/dev/shm")
        free_gib = st.f_bavail * st.f_frsize / (1 << 30)
        if free_gib >= 16:
            return "/dev/shm/kgforge-spark"
    except OSError:
        pass
    return ""


def get_spark(
    master: str | None = None,
    app_name: str = "kgforge",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with kgforge defaults.

    ``master=None`` defers to an existing session / spark-submit config so the
    same code runs under ``spark-submit --py-files`` on a real cluster.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(sp),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Broadcast threshold: dictionary tables are a few MB; keep default 10MB
        # but make intent explicit (we also force with F.broadcast where the
        # contract names the algorithm).
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # local[N] runs every task in the driver JVM: N concurrent tasks'
        # shuffle/agg buffers share this heap, and an undersized heap shows
        # up as GC stalls that flatten core-count scaling (measured: 8g gave
        # local[32] only 1.6x over local[8] on a 3M-turn run). Sized from
        # the host (48g on the 128 GiB bench box, ~40% of RAM elsewhere).
        "spark.driver.memory": os.environ.get("KGFORGE_DRIVER_MEM", _default_driver_mem()),
    }
    # Shuffle spill medium: the single local disk (~500 MB/s, shared by all
    # task slots) is a hard serial bottleneck that flattens core-count
    # scaling. On a real cluster every executor brings its own disks, so
    # aggregate shuffle bandwidth scales with the cluster; tmpfs is the
    # single-box equivalent — used only when it has real headroom (see
    # _default_local_dir). Opt out with KGFORGE_LOCAL_DIR=/tmp.
    local_dir = os.environ.get("KGFORGE_LOCAL_DIR", _default_local_dir())
    if local_dir:
        conf["spark.local.dir"] = local_dir
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
