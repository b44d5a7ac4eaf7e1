"""Structured Streaming gate for KG ingestion: transcripts replayed as
micro-batches through the foreachBatch extract+link sink must reproduce the
batch pipeline's triples, and leave the warehouse layout run_pipeline
leaves."""

from __future__ import annotations

import glob
import os

from kgforge.io.tableio import Warehouse

SF = "/root/testdata/sf0.001"


def test_streaming_kg_ingestion_equals_batch(spark, spark_corpus, tmp_path_factory):
    """Transcripts replayed as micro-batches through the foreachBatch
    extract+link sink, then compacted, must yield the SAME (subj, pred, obj)
    set as the one-shot batch pipeline."""
    from kgforge import canon, extract, link, triples
    from kgforge.streaming import kg_ingest

    tr, d, e = spark_corpus

    # batch ground truth (same operator chain)
    m = extract.extract_mentions(tr, d)
    linked = link.link_mentions(m, d)
    raw = triples.build_raw_triples(linked)
    cmap = canon.canonical_map_auto(d.select("entity_id"), e)
    batch = {
        (r["subj"], r["pred"], r["obj"])
        for r in triples.dedup_triples(canon.remap_triples(raw, cmap)).collect()
    }

    wh_root = str(tmp_path_factory.mktemp("stream_kg"))
    stream = kg_ingest.transcripts_stream(spark, tr, n_files=4)
    kg_ingest.ingest(stream, d, wh_root)
    tri = kg_ingest.finalize(spark, d, e, wh_root)
    streamed = {(r["subj"], r["pred"], r["obj"]) for r in tri.collect()}

    assert streamed == batch
    # replay the whole stream again — MERGE must make it a no-op
    stream2 = kg_ingest.transcripts_stream(spark, tr, n_files=4)
    kg_ingest.ingest(stream2, d, wh_root)
    tri2 = kg_ingest.finalize(spark, d, e, wh_root)
    assert {(r["subj"], r["pred"], r["obj"]) for r in tri2.collect()} == batch


def test_streaming_ingest_writes_linked_unpartitioned(spark, tmp_path_factory):
    """Each micro-batch MERGEs into one unpartitioned ``linked`` snapshot:
    no lineage_part directories, the lineage_part column still in the
    schema, and building a DataFrame over the table starts no Spark job
    (the manifest schema is read, not inferred)."""
    from kgforge import corpus
    from kgforge.streaming import kg_ingest

    tr = corpus.derive_transcripts(spark, SF)
    d = corpus.derive_dictionary(spark, SF)
    wh_root = str(tmp_path_factory.mktemp("stream_layout"))
    stream = kg_ingest.transcripts_stream(spark, tr, n_files=3)
    kg_ingest.ingest(stream, d, wh_root)
    wh = Warehouse(wh_root)
    snaps = [m["snapshot_id"] for m in wh.snapshots("linked")]
    assert len(snaps) == 3  # one snapshot per micro-batch
    for snap in snaps:
        data_dir = os.path.join(wh_root, "linked", snap)
        assert glob.glob(os.path.join(data_dir, "lineage_part=*")) == []
        assert glob.glob(os.path.join(data_dir, "*.parquet"))

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    linked = wh.read(spark, "linked")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert "lineage_part" in linked.columns
