"""Shared file-source replay harness: materialize a DataFrame as an
n-file parquet directory whose part order (and therefore FileStreamSource
micro-batch order) follows ``order_cols``.

Mechanics every caller relies on: range partitioning makes part order =
sort order; FileStreamSource orders files by modification time, and a
single write commit gives every part the same mtime, so ascending mtimes
are stamped in part order. The transcript ingestion stream
(kg_ingest.transcripts_stream) delegates here.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def replay_parquet_dir(
    df: DataFrame,
    order_cols: list[str],
    n_files: int = 4,
    prefix: str = "kgforge_replay_",
) -> str:
    """Write ``df`` as ``n_files`` range-partitioned parquet files with
    ascending mtimes in ``order_cols`` order; returns the directory."""
    out = tempfile.mkdtemp(prefix=prefix)
    (
        df.repartitionByRange(n_files, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(out)
    )
    parts = sorted(
        f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = int(os.path.getmtime(os.path.join(out, parts[0])))
    for i, f in enumerate(parts):
        os.utime(os.path.join(out, f), (base + i, base + i))
    return out


def replay_stream(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list[str],
    n_files: int = 4,
    max_files_per_trigger: int = 1,
    prefix: str = "kgforge_replay_",
) -> DataFrame:
    """``df`` replayed as a file-source stream, micro-batched in
    ``order_cols`` order (``max_files_per_trigger`` files per batch)."""
    path = replay_parquet_dir(df, order_cols, n_files=n_files, prefix=prefix)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
