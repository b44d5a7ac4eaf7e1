"""Per-partition lineage + counter metrics and resumable checkpoints
(SURVEY.md §2.A A9/A10, §3.3; BASELINE.json: "checkpoints per-partition …
with lineage and counter metrics for resumability").

``lineage_part = pmod(xxhash64(conv_id), n)`` is a STABLE partition key,
independent of Spark's physical partitioning, so checkpoint rows mean the
same thing across runs, cluster sizes, and AQE decisions.

The checkpoint table lives in the warehouse like any other table (merged on
(run_id, stage, lineage_part) — idempotent), so a restarted driver reads it
back and anti-joins done partitions out of the input.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.io.tableio import Warehouse

N_LINEAGE_PARTS = 64
CHECKPOINT_TABLE = "_checkpoints"


def with_lineage_part(df: DataFrame, key: str = "conv_id", n: int = N_LINEAGE_PARTS) -> DataFrame:
    return df.withColumn("lineage_part", F.pmod(F.xxhash64(key), F.lit(n)).cast("int"))


def with_lineage_part_of(df: DataFrame, cols: list[str], n: int = N_LINEAGE_PARTS) -> DataFrame:
    """lineage_part derived from the given columns — for triples, the MERGE
    keys (subj, pred, obj) rather than the provenance conv_id, so a
    re-emitted triple with a different first-emission conv_id keeps its
    lineage part. pipeline.merge_triples keeps this column but writes the
    table unpartitioned."""
    return df.withColumn(
        "lineage_part", F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")
    )


def record_stage_cached(
    wh: Warehouse, df_cached: DataFrame, stage: str, run_id: str
) -> None:
    """Per-lineage-part counters via ONE aggregation over an already-cached
    DataFrame, landed driver-side with a pyarrow merge (no Spark write job).
    Use when the stage output is persisted in memory; use
    record_stage_from_files when it has just been written to disk."""
    import pandas as pd

    counts = (
        df_cached.groupBy("lineage_part")
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .toPandas()
    )
    counts["run_id"] = run_id
    counts["stage"] = stage
    counts["status"] = "done"
    counts["wall_ms"] = int(time.time() * 1000)
    wh.merge_local(
        CHECKPOINT_TABLE,
        counts[["run_id", "stage", "lineage_part", "rows_out", "status", "wall_ms"]],
        keys=["run_id", "stage", "lineage_part"],
    )


def record_stage_from_files(
    wh: Warehouse, table: str, stage: str, run_id: str
) -> None:
    """Per-lineage-part counters from the snapshot's parquet FOOTERS — zero
    Spark jobs. A snapshot partitioned by lineage_part gets one row per
    directory (partition-aligned writes guarantee one dir per part); an
    unpartitioned one gets a single row, ``lineage_part = -1``, counted from
    its manifest. A job-based aggregation of a table we just wrote would
    re-scan it; at 10^12 turns the metadata already knows the answer."""
    import glob

    import pandas as pd
    import pyarrow.parquet as pq

    snap = wh.latest_snapshot(table)
    data_dir = os.path.join(wh.root, table, snap)
    counts: dict[int, int] = {}
    for part_dir in glob.glob(os.path.join(data_dir, "lineage_part=*")):
        part = int(part_dir.rsplit("=", 1)[1])
        n = sum(
            pq.read_metadata(f).num_rows
            for f in glob.glob(os.path.join(part_dir, "*.parquet"))
        )
        counts[part] = counts.get(part, 0) + n
    if not counts:
        counts[-1] = wh.rows(table, snap)
    now_ms = int(time.time() * 1000)
    pdf = pd.DataFrame(
        {
            "run_id": run_id,
            "stage": stage,
            "lineage_part": list(counts),
            "rows_out": list(counts.values()),
            "status": "done",
            "wall_ms": now_ms,
        }
    )
    wh.merge_local(CHECKPOINT_TABLE, pdf, keys=["run_id", "stage", "lineage_part"])


def done_parts(wh: Warehouse, spark: SparkSession, stage: str, run_id: str) -> DataFrame | None:
    """lineage_parts already completed for (run_id, stage), or None when
    there are none. Decided on the driver from the checkpoint table's
    parquet (written by merge_local), so a run starts no Spark job to learn
    whether it is resuming."""
    if not wh.exists(CHECKPOINT_TABLE):
        return None
    cp = wh.read_local(CHECKPOINT_TABLE)
    parts = cp.loc[
        (cp["run_id"] == run_id) & (cp["stage"] == stage) & (cp["status"] == "done"),
        "lineage_part",
    ].unique()
    if len(parts) == 0:
        return None
    return spark.createDataFrame([(int(p),) for p in parts], "lineage_part int")


def filter_resume(df_with_lineage: DataFrame, done: DataFrame | None) -> DataFrame:
    """Drop lineage parts already completed (anti-join on the checkpoint set)."""
    if done is None:
        return df_with_lineage
    return df_with_lineage.join(F.broadcast(done), "lineage_part", "left_anti")
