"""Streaming KG ingestion: transcripts arrive as a stream; each micro-batch
runs the batch pipeline's own extract → link stage (pipeline.extract_link)
and MERGEs into the warehouse; canonicalization + triple materialization run
on the merged table (triples are corpus-level — cross-turn adjacency can
span micro-batches, so they finalize after ingestion; at production scale
this is the periodic compaction pass over a continuously-ingested linked
table).

Each micro-batch MERGEs into ``linked`` as one unpartitioned snapshot (the
whole table is anti-joined and rewritten, like every parquet-warehouse
merge). Idempotence: mention keys (conv_id, turn_idx, m_idx) are
deterministic, so a replayed micro-batch (failure/retry) merges to a no-op —
the streaming equivalent of the bot's create-or-update writes.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from kgforge import canon, metrics, pipeline, triples
from kgforge.io.tableio import Warehouse
from kgforge.streaming import replay


def transcripts_stream(
    spark: SparkSession,
    transcripts: DataFrame,
    n_files: int = 4,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay a transcript DataFrame as a file-source stream (micro-batches
    split by conversation ranges; ascending mtimes fix source order)."""
    return replay.replay_stream(
        spark,
        transcripts,
        ["conv_id", "turn_idx"],
        n_files=n_files,
        max_files_per_trigger=max_files_per_trigger,
        prefix="kgforge_tr_replay_",
    )


def ingest(
    stream: DataFrame,
    dictionary: DataFrame,
    warehouse_root: str,
) -> None:
    """Drain the transcript stream through extract+link into the warehouse."""
    wh = Warehouse(warehouse_root)

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        # a micro-batch keeps the parallelism it arrives with (one task per
        # source split): the batch default of 32 partitions builds the
        # matcher once per task, which on a small micro-batch costs more
        # than the matching itself
        mentions, linked = pipeline.extract_link(
            bdf, dictionary, bdf.rdd.getNumPartitions(), pipeline.TARGET_ROWS
        )
        # one unpartitioned file set per micro-batch: a batch's conversations
        # hash into most of the 64 lineage parts, so rewriting only the parts
        # it touches saved nothing (tableio ``merge`` docstring). The
        # lineage_part column stays, as in run_pipeline's linked table.
        wh.merge(
            bdf.sparkSession, "linked", metrics.with_lineage_part(linked),
            keys=["conv_id", "turn_idx", "m_idx"],
        )
        mentions.unpersist()

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="kgforge_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def finalize(
    spark: SparkSession,
    dictionary: DataFrame,
    xref_edges: DataFrame,
    warehouse_root: str,
) -> DataFrame:
    """Post-ingestion compaction: triples + canonicalization over the merged
    linked table — identical code path to the batch pipeline's stage 3."""
    wh = Warehouse(warehouse_root)
    linked_all = wh.read(spark, "linked").persist()
    cmap = canon.canonical_map_auto(dictionary.select("entity_id").distinct(), xref_edges)
    # manifest row count decides the dedup shape — no count job
    two_level = wh.rows("linked") >= triples.TWO_LEVEL_MIN_ROWS
    pipeline.merge_triples(
        spark, wh, pipeline.build_triples(linked_all, cmap, two_level=two_level)
    )
    linked_all.unpersist()
    return wh.read(spark, "triples")
