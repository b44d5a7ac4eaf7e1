"""Structured Streaming gate: micro-batch replay of the events table must
reproduce the batch results (the batch ops are themselves DuckDB-verified,
so equality here closes the loop streaming → batch → oracle)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from kgforge.io.tableio import Warehouse
from kgforge.streaming import jobs
from kgforge.tables import load

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark):
    from kgforge.ops.streaming_batch import stream_tumble_batch

    stream = jobs.events_stream(spark, SF)
    got = jobs.run_available_now(
        jobs.tumbling_counts(stream), "complete", "tumble_test"
    )
    want = stream_tumble_batch(spark, SF)
    cols = ["wstart", "wend", "event_type", "n", "total"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_dedup_drops_duplicates(spark):
    ev = load(spark, SF, "events")
    n_distinct = ev.select("event_id").distinct().count()
    stream = jobs.events_stream(spark, SF)
    got = jobs.run_available_now(jobs.dedup_stream(stream), "append", "dedup_test")
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_stateful_counts_reach_batch_totals(spark):
    """applyInPandasWithState emits a running count per batch; the final
    (max) count per user must equal the batch groupBy count."""
    stream = jobs.events_stream(spark, SF)
    got = jobs.run_available_now(
        jobs.stateful_user_counts(stream), "update", "state_test"
    )
    final = got.groupBy("user_id").agg(F.max("n_events").alias("n"))
    want = load(spark, SF, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert _rows(final, ["user_id", "n"]) == _rows(want, ["user_id", "n"])


def test_foreach_batch_merge_sink_idempotent(spark):
    root = tempfile.mkdtemp(prefix="kgforge_stream_wh_")
    stream = jobs.events_stream(spark, SF)
    jobs.merge_sink(stream, root, "events_sink", keys=["event_id"])
    wh = Warehouse(root)
    n1 = wh.read(spark, "events_sink").count()
    # replay the whole stream again (fresh checkpoint): merge must no-op
    stream2 = jobs.events_stream(spark, SF)
    jobs.merge_sink(stream2, root, "events_sink", keys=["event_id"])
    n2 = wh.read(spark, "events_sink").count()
    assert n1 == n2 == load(spark, SF, "events").select("event_id").distinct().count()


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


def test_streaming_ingest_uses_partition_scoped_merge(spark, tmp_path_factory):
    """Micro-batches 2..N must take the PARTITION-SCOPED merge on the linked
    table (lineage_part = f(conv_id) with conv_id a merge key): the snapshot
    manifest records the merge scope, and lineage partitions untouched by a
    batch are hard-linked (same inode) from the prior snapshot instead of
    rewritten — per-batch sink cost proportional to the batch, not the
    table."""
    import glob
    import os

    from kgforge import corpus
    from kgforge.io.tableio import Warehouse
    from kgforge.streaming import kg_ingest

    # the derived sf0.001 corpus has enough conversations (~130) that each
    # micro-batch's lineage parts are a strict subset of the table's
    tr = corpus.derive_transcripts(spark, SF)
    d = corpus.derive_dictionary(spark, SF)
    wh_root = str(tmp_path_factory.mktemp("stream_scoped"))
    stream = kg_ingest.transcripts_stream(spark, tr, n_files=3)
    kg_ingest.ingest(stream, d, wh_root)
    wh = Warehouse(wh_root)
    manifests = wh.snapshots("linked")
    assert len(manifests) >= 2  # one snapshot per micro-batch
    scoped = [m for m in manifests if "merge_scope" in m]
    assert scoped, "no micro-batch took the partition-scoped merge path"
    m2 = scoped[-1]
    prev, snap = m2["parent"], m2["snapshot_id"]
    scope_dirs = {f"lineage_part={v}" for v in m2["merge_scope"]}
    prev_parts = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(wh_root, "linked", prev, "lineage_part=*"))
    }
    untouched = prev_parts - scope_dirs
    assert untouched, "every partition touched — fixture can't prove linking"
    for part in sorted(untouched):
        old = sorted(glob.glob(os.path.join(wh_root, "linked", prev, part, "*.parquet")))
        new = sorted(glob.glob(os.path.join(wh_root, "linked", snap, part, "*.parquet")))
        assert old and [os.stat(f).st_ino for f in old] == [
            os.stat(f).st_ino for f in new
        ]


def test_streaming_degree_maintenance_equals_batch(spark, tmp_path_factory):
    """Edge CDC feed streamed in micro-batches into the degrees state table:
    the final state must equal a from-scratch degree count of the NEW
    snapshot (the streaming mirror of graph_triangles_cdc's incremental ==
    rebuild contract, on the per-node scalar state)."""
    from kgforge.io.tableio import Warehouse
    from kgforge.ops import graph
    from kgforge.streaming import graph_maintain as gm

    sf = "/root/testdata/sf0.001"
    und = graph.undirected_entity_edges(spark, sf)
    tagged = und.withColumn(
        "nib", graph._edge_nib(F.col("a"), F.col("b"))
    ).persist()
    old_e = tagged.where(F.col("nib") < graph.CDC_INS_MIN).select("a", "b")
    new_e = tagged.where(F.col("nib") >= graph.CDC_DEL_MAX).select("a", "b")
    feed = (
        tagged.where(F.col("nib") < graph.CDC_DEL_MAX)
        .select("a", "b", F.lit("delete").alias("change_type"))
        .unionAll(
            tagged.where(F.col("nib") >= graph.CDC_INS_MIN)
            .select("a", "b", F.lit("insert").alias("change_type"))
        )
    )
    assert feed.count() > 0  # the nib split must actually change something

    root = str(tmp_path_factory.mktemp("deg_wh"))
    wh = Warehouse(root)
    wh.write_snapshot("degrees", gm.undirected_degrees(old_e))
    gm.maintain_degrees(gm.edge_changes_stream(spark, feed, n_files=3), root)

    got = {(r["node"], r["deg"]) for r in wh.read(spark, "degrees").collect()}
    want = {
        (r["node"], r["deg"]) for r in gm.undirected_degrees(new_e).collect()
    }
    assert got == want and got

    # at-least-once replay safety: re-draining the SAME ordered feed (fresh
    # stream + fresh checkpoint, identical batch ids) must be a no-op — the
    # applied_batch_id marker commits atomically with each degrees snapshot
    snap_before = wh.latest_snapshot("degrees")
    gm.maintain_degrees(gm.edge_changes_stream(spark, feed, n_files=3), root)
    assert wh.latest_snapshot("degrees") == snap_before
    rerun = {(r["node"], r["deg"]) for r in wh.read(spark, "degrees").collect()}
    assert rerun == want


def test_streaming_triangle_maintenance_equals_batch_key(spark, tmp_path_factory):
    """VERDICT r03 #7: per-node TRIANGLE counts maintained as warehouse
    state through the edge CDC stream must equal the registered
    graph_triangles_cdc key's output on the same deterministic nib split —
    making the delta path's cost delta-shaped end to end (old counts come
    from the state table, never a recompute). Also asserts the exactly-once
    re-drain no-op and that untouched state partitions hard-link (same
    inode) across commits."""
    import glob
    import os

    from kgforge.io.tableio import Warehouse
    from kgforge.ops import graph
    from kgforge.streaming import graph_maintain as gm

    sf = "/root/testdata/sf0.001"
    und = graph.undirected_entity_edges(spark, sf)
    tagged = und.withColumn(
        "nib", graph._edge_nib(F.col("a"), F.col("b"))
    ).persist()
    old_e = tagged.where(F.col("nib") < graph.CDC_INS_MIN).select("a", "b")
    feed = (
        tagged.where(F.col("nib") < graph.CDC_DEL_MAX)
        .select("a", "b", F.lit("delete").alias("change_type"))
        .unionAll(
            tagged.where(F.col("nib") >= graph.CDC_INS_MIN)
            .select("a", "b", F.lit("insert").alias("change_type"))
        )
    )
    assert feed.count() > 0

    root = str(tmp_path_factory.mktemp("tri_wh"))
    wh = Warehouse(root)
    gm.init_triangle_state(root, old_e)
    gm.maintain_triangles(gm.edge_changes_stream(spark, feed, n_files=3), root)

    got = {
        (r["node_id"], r["triangles"])
        for r in wh.read(spark, "triangles").select("node_id", "triangles").collect()
    }
    want = {
        (r["node_id"], r["triangles"])
        for r in graph.graph_triangles_cdc(spark, sf).collect()
    }
    assert got == want and got

    # exactly-once: re-draining the same ordered feed is a no-op
    tri_before = wh.latest_snapshot("triangles")
    edg_before = wh.latest_snapshot("tri_edges")
    gm.maintain_triangles(gm.edge_changes_stream(spark, feed, n_files=3), root)
    assert wh.latest_snapshot("triangles") == tri_before
    assert wh.latest_snapshot("tri_edges") == edg_before

def test_triangle_state_partition_scoped_hard_links(spark, tmp_path_factory):
    """The scoped state write must rewrite ONLY partitions holding touched
    nodes/edges: after a single-edge-pair batch on a graph with two disjoint
    triangle clusters, the untouched cluster's partitions hard-link (same
    inodes) into the new snapshot. (The sf0.001 equivalence test can't
    assert this — its entity graph is dense enough that every batch touches
    every populated partition.)"""
    import glob
    import os

    from kgforge.io.tableio import Warehouse
    from kgforge.ops import graph
    from kgforge.streaming import graph_maintain as gm

    old_edges = spark.createDataFrame(
        [
            ("n0", "n1"), ("n0", "n2"), ("n1", "n2"),   # triangle A
            ("n3", "n4"), ("n3", "n5"), ("n4", "n5"),   # triangle B (untouched)
            ("n6", "n7"),                                # open wedge base
        ],
        "a string, b string",
    )
    feed = spark.createDataFrame(
        [
            ("n6", "n8", "insert"), ("n7", "n8", "insert"),  # closes a triangle
            ("n0", "n1", "delete"),                          # destroys triangle A
        ],
        "a string, b string, change_type string",
    )
    root = str(tmp_path_factory.mktemp("tri_scoped"))
    wh = Warehouse(root)
    gm.init_triangle_state(root, old_edges, n_parts=64)
    gm.maintain_triangles(gm.edge_changes_stream(spark, feed, n_files=1), root)

    got = {
        (r["node_id"], r["triangles"])
        for r in wh.read(spark, "triangles").select("node_id", "triangles").collect()
    }
    new_edges = old_edges.exceptAll(
        spark.createDataFrame([("n0", "n1")], "a string, b string")
    ).unionByName(
        spark.createDataFrame([("n6", "n8"), ("n7", "n8")], "a string, b string")
    )
    want = {
        (r["node_id"], r["triangles"])
        for r in graph.triangle_counts(new_edges).collect()
    }
    assert got == want and got

    meta = wh.snapshot_meta("triangles")
    assert "replace_scope" in meta, "scoped path never engaged"
    cur_dir = os.path.join(root, "triangles", meta["snapshot_id"])
    par_dir = os.path.join(root, "triangles", meta["parent"])
    linked = rewritten = 0
    for entry in os.listdir(cur_dir):
        if not entry.startswith("npart="):
            continue
        cur_files = sorted(glob.glob(os.path.join(cur_dir, entry, "*.parquet")))
        par_files = sorted(glob.glob(os.path.join(par_dir, entry, "*.parquet")))
        if par_files and [os.stat(f).st_ino for f in cur_files] == [
            os.stat(f).st_ino for f in par_files
        ]:
            linked += 1
        else:
            rewritten += 1
    assert linked > 0, "no partition was hard-linked"
    assert rewritten > 0, "no partition was rewritten"


def test_streaming_sft_pairs_equal_batch_across_microbatches(spark):
    """The stateful streaming SFT miner must reproduce the batch pair_sft
    even when a pair's turns arrive in DIFFERENT micro-batches: one turn
    per replay file, so both fixture pairs (direct user->assistant and the
    two-turn user->tool->assistant) straddle batch boundaries and can only
    be found through the buffered per-conversation state."""
    from kgforge.ops import convo
    from kgforge.streaming import kg_ingest, sft

    tr = spark.createDataFrame(
        [
            ("c1", 0, "assistant", "none", "warmup line"),
            ("c1", 1, "user", "none", "q one"),
            ("c1", 2, "assistant", "none", "a one is longer"),
            ("c1", 3, "user", "none", "q two"),
            ("c1", 4, "tool", "search", "tool output"),
            ("c1", 5, "assistant", "none", "a two"),
        ],
        "conv_id string, turn_idx int, role string, tool string, text string",
    ).withColumn(
        "ts",
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0, turn_idx * 37)"
        ),
    )
    want = convo.sft_pairs(tr)
    cols = [
        "conv_id", "turn_idx", "prompt_hash", "response_hash",
        "prompt_tokens", "response_tokens",
    ]
    want_rows = _rows(want, cols)
    assert len(want_rows) == 2  # non-vacuous: both rule branches present

    stream = kg_ingest.transcripts_stream(spark, tr, n_files=6)
    got = jobs.run_available_now(
        sft.sft_pairs_stream(stream), "append", "sft_pairs_test"
    )
    assert _rows(got, cols) == want_rows


def test_streaming_sft_state_evicted_after_watermark(spark):
    """ADVICE r04: the SFT miner's per-conversation state must be EVICTED
    once the watermark passes its last turn by EVICT_DELAY — otherwise the
    live-key set grows with every conversation ever seen. Replay order (by
    the global seq key, one row per micro-batch):

      batch0  conv a, user turn, ts 00:00   -> state armed, timeout 02:00
      batch1  conv b, user turn, ts 06:00   -> watermark advances to 05:00
      batch2  conv b, assistant, ts 06:02   -> pair for b emitted; conv a
              has NO data this batch and 05:00 > 02:00, so a TIMES OUT and
              its buffer is removed
      batch3  conv a, assistant, ts 06:03   -> fresh/empty state: NO pair

    Batch pair_sft on the same rows finds BOTH pairs (it has no time rule),
    so streaming emitting exactly b's pair proves the eviction fired — the
    documented semantic cost of bounded state, not an accident."""
    from kgforge.ops import convo
    from kgforge.streaming import replay, sft

    tr = spark.createDataFrame(
        [
            (0, "a", 0, "user", "none", "orphan question"),
            (1, "b", 0, "user", "none", "live question"),
            (2, "b", 1, "assistant", "none", "live answer"),
            (3, "a", 1, "assistant", "none", "answer after eviction"),
        ],
        "seq int, conv_id string, turn_idx int, role string,"
        " tool string, text string",
    ).withColumn(
        "ts",
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0,"
            "   CASE seq WHEN 0 THEN 0 WHEN 1 THEN 21600"
            "            WHEN 2 THEN 21720 ELSE 21780 END)"
        ),
    )
    batch_pairs = convo.sft_pairs(tr.drop("seq"))
    assert batch_pairs.count() == 2  # batch (no eviction) pairs BOTH convs

    stream = replay.replay_stream(
        spark, tr, ["seq"], n_files=4, prefix="kgforge_sft_evict_"
    ).drop("seq")
    got = jobs.run_available_now(
        sft.sft_pairs_stream(stream), "append", "sft_evict_test"
    ).collect()
    assert len(got) == 1
    assert got[0].conv_id == "b"


def test_streaming_sft_late_turn_keeps_eviction_arm(spark):
    """A micro-batch holding only a late but accepted turn must not pull
    its conversation's eviction earlier (ADVICE r05 #3). Replay order (one
    row per micro-batch, watermark delay 1 h, EVICT_DELAY 2 h):

      batch0  conv a, user turn, ts 10:00  -> armed at 12:00
      batch1  conv a, tool turn, ts 09:30  -> late (watermark 09:00) but
              accepted; arming from this batch alone would give 11:30
      batch2  conv b, user turn, ts 12:40  -> watermark advances to 11:40
      batch3  conv b, assistant, ts 12:42  -> conv a has no data; 11:40
              passes an 11:30 arm but not the 12:00 one, so a stays live
      batch4  conv a, assistant, ts 12:43  -> user->tool->assistant pair

    Both conversations' pairs must come out, as in batch pair_sft."""
    from kgforge.ops import convo
    from kgforge.streaming import replay, sft

    tr = spark.createDataFrame(
        [
            (0, "a", 0, "user", "none", "question before a late tool turn"),
            (1, "a", 1, "tool", "search", "late tool output"),
            (2, "b", 0, "user", "none", "other question"),
            (3, "b", 1, "assistant", "none", "other answer"),
            (4, "a", 2, "assistant", "none", "answer after the late turn"),
        ],
        "seq int, conv_id string, turn_idx int, role string,"
        " tool string, text string",
    ).withColumn(
        "ts",
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0,"
            "   CASE seq WHEN 0 THEN 36000 WHEN 1 THEN 34200"
            "            WHEN 2 THEN 45600 WHEN 3 THEN 45720 ELSE 45780 END)"
        ),
    )
    cols = [
        "conv_id", "turn_idx", "prompt_hash", "response_hash",
        "prompt_tokens", "response_tokens",
    ]
    want_rows = _rows(convo.sft_pairs(tr.drop("seq")), cols)
    assert [r[0] for r in want_rows] == ["a", "b"]

    stream = replay.replay_stream(
        spark, tr, ["seq"], n_files=5, prefix="kgforge_sft_late_"
    ).drop("seq")
    got = jobs.run_available_now(
        sft.sft_pairs_stream(stream), "append", "sft_late_arm_test"
    )
    assert _rows(got, cols) == want_rows


def test_streaming_asof_maintenance_equals_batch(spark):
    """The stateful as-of maintainer must converge to the batch
    latest-wins answer even when winners are OVERTURNED across
    micro-batches, and a batch that loses (stale assertion arriving after
    a newer winner) must emit nothing for that key. Replay order follows
    the explicit seq column (one row per micro-batch), deliberately NOT
    doc_seq order, so the late-stale path is actually exercised."""
    from kgforge.ops import convo
    from kgforge.streaming import asof, replay

    n_convs = 20
    rows = [
        # seq, subj, pred, obj, conv_id, turn_idx, m_idx   (doc_seq)
        (0, "e1", "p", "old", "c000001", 0, 0),    # 1
        (1, "e2", "p", "only", "c000003", 0, 2),   # 3
        (2, "e1", "p", "mid", "c000001", 1, 5),    # 21
        (3, "e1", "p", "new", "c000002", 1, 0),    # 22
        (4, "e1", "p", "stale", "c000004", 0, 0),  # 4 — arrives last, loses
    ]
    schema = (
        "seq int, subj string, pred string, obj string,"
        " conv_id string, turn_idx long, m_idx long"
    )
    rem = spark.createDataFrame(rows, schema)
    want = {
        (r.subj, r.pred): (r.obj, r.asof_seq)
        for r in convo.asof_triples(rem, n_convs, 10**9).collect()
    }
    assert want[("e1", "p")] == ("new", 22)  # non-vacuous fixture

    stream = replay.replay_stream(
        spark, rem, ["seq"], n_files=5, prefix="kgforge_asof_"
    )
    enc = asof.encode_assertions(stream.drop("seq"), n_convs)
    got = jobs.run_available_now(
        asof.asof_stream(enc), "update", "asof_maintain_test"
    ).collect()

    by_key: dict = {}
    for r in got:
        by_key.setdefault((r.subj, r.pred), []).append((r.asof_seq, r.obj))
    # final state == batch answer
    final = {k: max(v) for k, v in by_key.items()}
    assert {k: (o, s) for k, (s, o) in final.items()} == want
    # winners were actually overturned across batches (3 emissions for e1:
    # old -> mid -> new), and the late-stale batch emitted nothing
    assert sorted(by_key[("e1", "p")]) == [(1, "old"), (21, "mid"), (22, "new")]
    assert len(by_key[("e2", "p")]) == 1
