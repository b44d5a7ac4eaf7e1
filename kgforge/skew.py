"""Explicit skew handling: salted repartition by conv_id with hot-key
splitting (BASELINE.json north_star: "salted repartition by conv_id with
explicit skew splitting of hot conversations").

AQE's skew-join splitting only fixes join-stage skew; a conversation with
5,000–20,000 turns still lands on ONE task at the UDF/extraction stage. The
fix is semantic: extraction is per-turn, so a hot conversation can be split
across partitions by a turn-derived salt without changing any result
(SURVEY.md §4.3). Ops that need whole conversations (cross-turn windows) run
AFTER extraction on mention-level data, which is orders of magnitude smaller.

The salt is ``turn_idx // target_rows``: a conversation longer than
``target_rows`` splits into slices of consecutive turns of about that size,
and every shorter conversation keeps salt 0 on one partition. No count pass
is needed, because turn_idx already says how long a conversation has run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(
    transcripts: DataFrame,
    num_partitions: int,
    hot_threshold: int = 2000,
    target_rows: int = 1000,
) -> DataFrame:
    """Repartition transcripts by (conv_id, salt), splitting hot conversations.

    Salt derives from the data itself — ``salt = turn_idx // target_rows`` —
    so a conversation longer than target_rows splits into consecutive-turn
    slices while short conversations keep salt 0 and stay co-located. No
    counting pass: the original design paid a full extra scan + broadcast
    join just to learn which conversations were hot; turn_idx already encodes
    it. (hot_threshold is kept in the signature for compatibility; splitting
    is governed by target_rows alone.)
    """
    del hot_threshold  # see docstring — turn_idx-derived salting needs no count
    with_salt = transcripts.withColumn(
        "salt", (F.col("turn_idx") / F.lit(target_rows)).cast("int")
    )
    return with_salt.repartition(num_partitions, "conv_id", "salt").drop("salt")
