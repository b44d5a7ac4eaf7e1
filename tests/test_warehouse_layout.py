"""What ``run_pipeline`` leaves in the warehouse after a fresh call and a
second, conversation-disjoint call into the same warehouse.

- Triples: one unpartitioned file set per snapshot. The ``lineage_part``
  column stays in the schema, and building a DataFrame over the table
  starts no Spark job (no partition discovery, no schema inference).
- Nodes: the degrees of the whole triples table, not the degrees a node
  had when it was first inserted.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kgforge import metrics, triples
from kgforge.io.tableio import Warehouse
from kgforge.pipeline import PipelineConfig, run_pipeline
from tests.test_resume import _release


@pytest.fixture(scope="module")
def two_merges(spark, spark_corpus, tmp_path_factory):
    """Warehouse after two runs over conversation-disjoint halves of the
    corpus, with the triples snapshot each run left."""
    tr, d, e = spark_corpus
    root = str(tmp_path_factory.mktemp("layout") / "wh")
    wh = Warehouse(root)
    part = metrics.with_lineage_part(tr)
    snaps, out = [], None
    for run_id, parity in (("a", 0), ("b", 1)):
        if out is not None:
            _release(out)
        half = part.where(F.col("lineage_part") % 2 == parity).drop("lineage_part")
        cfg = PipelineConfig(warehouse_root=root, run_id=run_id,
                             num_partitions=8, hot_threshold=200, target_rows=100)
        out = run_pipeline(spark, half, d, e, cfg)
        snaps.append(wh.latest_snapshot("triples"))
    yield wh, snaps, out
    _release(out)


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_triples_snapshots_are_unpartitioned(two_merges):
    wh, snaps, _ = two_merges
    assert len(set(snaps)) == 2
    for snap in snaps:
        data_dir = os.path.join(wh.root, "triples", snap)
        assert glob.glob(os.path.join(data_dir, "lineage_part=*")) == []
        assert glob.glob(os.path.join(data_dir, "*.parquet"))


def test_triples_keep_lineage_part_column(spark, two_merges):
    wh, _, _ = two_merges
    assert "lineage_part" in wh.read(spark, "triples").columns


def test_triples_read_starts_no_job(spark, two_merges):
    wh, _, _ = two_merges
    before = _job_ids(spark)
    wh.read(spark, "triples")
    assert _job_ids(spark) - before == set()


def test_triples_checkpoint_row_counts_the_snapshot(spark, two_merges):
    wh, _, _ = two_merges
    cp = wh.read_local(metrics.CHECKPOINT_TABLE)
    rows = cp[(cp["stage"] == "triples") & (cp["run_id"] == "b")]
    assert rows["lineage_part"].tolist() == [-1]
    assert rows["rows_out"].tolist() == [wh.rows("triples")]


def test_nodes_match_the_whole_triples_table(two_merges):
    _, _, out = two_merges
    got = {tuple(r) for r in out["nodes"].collect()}
    want = {tuple(r) for r in triples.build_nodes(out["triples"]).collect()}
    assert got == want


def test_done_parts_decided_without_a_job(spark, two_merges):
    wh, _, _ = two_merges
    before = _job_ids(spark)
    assert metrics.done_parts(wh, spark, "linked", "c") is None
    done = metrics.done_parts(wh, spark, "linked", "a")
    assert _job_ids(spark) - before == set()
    assert done is not None and done.limit(1).count() == 1
