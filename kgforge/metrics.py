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
    """lineage_part derived from the given columns. Use the table's MERGE
    keys for any table that gets partition-scoped merges: the scoped path is
    only sound when the partition column is a function of the merge keys
    (kgforge/io/tableio.py merge docstring) — e.g. the triples table
    partitions on hash(subj, pred, obj), NOT on the provenance conv_id, so a
    re-emitted triple with a different first-emission conv_id still lands in
    (and is anti-joined against) the same partition."""
    return df.withColumn(
        "lineage_part", F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")
    )


def record_stage_cached(
    wh: Warehouse, df_cached: DataFrame, stage: str, run_id: str
) -> None:
    """Per-lineage-part counters via ONE aggregation over an already-cached
    DataFrame, landed driver-side with a pyarrow merge (no Spark write job).
    Use when the stage output is persisted in memory; use
    record_stage_from_files when it's on disk partitioned by lineage_part."""
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
    Spark jobs. Requires the snapshot to be partitioned by lineage_part
    (partition-aligned writes guarantee one dir per part). A job-based
    aggregation of a table we just wrote would re-scan it; at 10^12 turns the
    metadata already knows the answer."""
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
    """lineage_parts already completed for (run_id, stage), or None."""
    if not wh.exists(CHECKPOINT_TABLE):
        return None
    cp = wh.read(spark, CHECKPOINT_TABLE)
    return (
        cp.where(
            (F.col("run_id") == run_id)
            & (F.col("stage") == stage)
            & (F.col("status") == "done")
        )
        .select("lineage_part")
        .distinct()
    )


def filter_resume(df_with_lineage: DataFrame, done: DataFrame | None) -> DataFrame:
    """Drop lineage parts already completed (anti-join on the checkpoint set)."""
    if done is None:
        return df_with_lineage
    return df_with_lineage.join(F.broadcast(done), "lineage_part", "left_anti")
