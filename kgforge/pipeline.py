"""End-to-end KG-construction pipeline: extract → link → canonicalize →
materialize (BASELINE.json north_star), resumable and idempotent.

Stage boundaries and their shuffle/process crossings (SURVEY.md §3.2):

  read + salted repartition   1 shuffle (repartition by conv_id+salt)
  extract (mapInPandas)       Arrow JVM↔Python boundary, no shuffle
  link (broadcast + SMJ)      broadcast + 1 shuffle for the tail join
  triples (windows)           1 shuffle (partitionBy conv_id[,turn_idx])
  canonicalize (CC loop)      2 shuffles × O(log d) iterations
  materialize (MERGE)         1 shuffle (dedup) + snapshot write

Resume unit = (stage, lineage_part): the expensive extract+link stage writes
per-partition checkpoint rows; a rerun with the same run_id anti-joins done
parts and merges only the remainder (ids are deterministic hashes, so MERGE
is a no-op for re-processed rows).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from kgforge import canon, extract, link, metrics, skew, triples
from kgforge.io.tableio import Warehouse


# PipelineConfig defaults; the registry's session cuts
# (corpus.derive_linked) extract with the same layout
NUM_PARTITIONS = 32
TARGET_ROWS = 1000


@dataclass
class PipelineConfig:
    warehouse_root: str
    run_id: str = "run-1"
    num_partitions: int = NUM_PARTITIONS
    hot_threshold: int = 2000
    target_rows: int = TARGET_ROWS
    observed: dict = field(default_factory=dict)


def extract_link(
    transcripts: DataFrame,
    dictionary: DataFrame,
    num_partitions: int,
    target_rows: int,
) -> tuple[DataFrame, DataFrame]:
    """transcripts → (mentions, linked): salted repartition, the matcher,
    then linking. ``mentions`` comes back persisted — the broadcast head and
    the sort-merge tail of link_mentions both read it, and without the cut
    the Python matcher runs once per join side — so the caller unpersists it
    once ``linked`` has been materialized."""
    # project to the extraction columns BEFORE the shuffle — role/tool/ts
    # would otherwise ride the repartition + Arrow transfer for nothing
    salted = skew.salted_repartition(
        transcripts.select("conv_id", "turn_idx", "text"),
        num_partitions,
        target_rows=target_rows,
    )
    mentions = extract.extract_mentions(salted, dictionary).persist()
    return mentions, link.link_mentions(mentions, dictionary)


def build_triples(linked: DataFrame, cmap: DataFrame, two_level: bool) -> DataFrame:
    """linked mentions → canonical, first-emission deduplicated triples.
    ``two_level`` picks the dedup shape (triples.TWO_LEVEL_MIN_ROWS); callers
    decide it from metadata, never from a count job."""
    raw = triples.build_raw_triples(linked)
    return triples.dedup_triples(canon.remap_triples(raw, cmap), two_level=two_level)


def merge_triples(spark: SparkSession, wh: Warehouse, final: DataFrame) -> None:
    """MERGE deduplicated triples into the warehouse's ``triples`` table."""
    # lineage_part for the TRIPLES table derives from the merge keys, not
    # from the provenance conv_id: the partition-scoped merge is only sound
    # when partition = f(keys) (tableio merge docstring). conv_id is
    # provenance here — an incremental batch can re-emit an existing triple
    # with a different first-emission conv_id, which under conv_id
    # partitioning would dodge the scoped anti-join and duplicate the row.
    final = metrics.with_lineage_part_of(final, ["subj", "pred", "obj"])
    # source_unique: dedup_triples output is grouped by exactly these keys —
    # the sink's defensive dropDuplicates would re-shuffle the whole table
    wh.merge(spark, "triples", final, keys=["subj", "pred", "obj"],
             partition_by=["lineage_part"], source_unique=True,
             part_determined_by_keys=True)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    xref_edges: DataFrame,
    cfg: PipelineConfig,
) -> dict[str, DataFrame]:
    """Run all stages; returns the materialized tables (read from warehouse)."""
    wh = Warehouse(cfg.warehouse_root)
    t0 = time.time()
    t_prev = t0

    def mark(stage: str) -> None:
        nonlocal t_prev
        now = time.time()
        cfg.observed[f"t_{stage}"] = round(now - t_prev, 2)
        t_prev = now

    # ---- stage 1: extract + link (resumable per lineage_part) -----------
    tr = metrics.with_lineage_part(transcripts)
    done = metrics.done_parts(wh, spark, "linked", cfg.run_id)
    todo = metrics.filter_resume(tr, done)
    mentions, linked = extract_link(
        todo, dictionary, cfg.num_partitions, cfg.target_rows
    )
    linked = metrics.with_lineage_part(linked)
    resuming = done is not None and done.limit(1).count() > 0
    if resuming:
        # merge reads linked once and the caller gets the merged table, so
        # a cache of linked would be reused by nothing
        wh.merge(spark, "linked", linked, keys=["conv_id", "turn_idx", "m_idx"])
        linked_all = wh.read(spark, "linked").persist()
    else:
        # materialized by the snapshot write; reused by every branch below
        linked = linked.persist()
        # unpartitioned write: partitioning `linked` by lineage_part would
        # cost an extra full shuffle of the biggest table in the pipeline;
        # resume granularity only needs the checkpoint ROWS, not the layout
        wh.write_snapshot("linked", linked)
        linked_all = linked  # fresh run: the cache IS the table contents
    mentions.unpersist()
    # one cheap aggregation over the cache, landed driver-side (no write job)
    metrics.record_stage_cached(wh, linked_all, "linked", cfg.run_id)
    cfg.observed["linked_rows"] = wh.rows("linked")
    mark("extract_link")

    # ---- stage 2: canonical map (CC over same-as edges, size-adaptive) ---
    cmap = canon.canonical_map_auto(
        dictionary.select("entity_id").distinct(), xref_edges
    ).persist()
    wh.write_snapshot("canonical_map", cmap)
    mark("canonicalize")

    # ---- stage 3: triples + canonical remap + dedup + MERGE --------------
    # two-level dedup only above the threshold — decided from the manifest
    # row count (zero Spark jobs; cfg.observed["linked_rows"] is already it)
    final = build_triples(
        linked_all, cmap,
        two_level=cfg.observed["linked_rows"] >= triples.TWO_LEVEL_MIN_ROWS,
    )
    merge_triples(spark, wh, final)
    metrics.record_stage_from_files(wh, "triples", "triples", cfg.run_id)
    mark("triples_merge")

    # ---- stage 4: nodes ---------------------------------------------------
    tri = wh.read(spark, "triples")
    nodes = triples.build_nodes(tri)
    wh.merge(spark, "nodes", nodes, keys=["node_id"], source_unique=True)
    mark("nodes")

    cfg.observed["triples_rows"] = wh.rows("triples")
    cfg.observed["wall_s"] = time.time() - t0
    return {
        "triples": tri,
        "nodes": wh.read(spark, "nodes"),
        "linked": linked_all,
        "canonical_map": cmap,
    }
