"""Contract invariants (BASELINE.json input_hint): per-turn text equality
under stable (conv_id, turn_idx) ordering, and determinism of the whole
dataflow across reruns and parallelism levels."""

from __future__ import annotations

from kgforge import canon, extract, link, triples
from kgforge.io.tableio import Warehouse
from kgforge.skew import salted_repartition


def test_per_turn_text_equality_through_warehouse(spark, spark_corpus, tmp_path):
    """Round-trip transcripts through the salted repartition + snapshot
    warehouse; text must be byte-identical per (conv_id, turn_idx)."""
    tr, _, _ = spark_corpus
    wh = Warehouse(str(tmp_path))
    salted = salted_repartition(tr, 8, hot_threshold=200, target_rows=100)
    wh.write_snapshot("transcripts", salted)
    back = wh.read(spark, "transcripts")

    want = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tr.collect()}
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in back.collect()}
    assert got == want


def _run_triples(spark, tr, d, e) -> list[tuple]:
    m = extract.extract_mentions(tr, d)
    linked = link.link_mentions(m, d)
    raw = triples.build_raw_triples(linked)
    cmap = canon.canonical_map(d.select("entity_id"), e)
    final = triples.dedup_triples(canon.remap_triples(raw, cmap))
    return sorted(map(tuple, final.collect()))


def test_triples_deterministic_across_runs(spark, spark_corpus):
    tr, d, e = spark_corpus
    assert _run_triples(spark, tr, d, e) == _run_triples(spark, tr, d, e)


def test_triples_invariant_to_partition_count(spark, spark_corpus):
    """Same logical result regardless of physical parallelism — the property
    that makes local[8]-vs-local[32] scaling evidence meaningful."""
    tr, d, e = spark_corpus
    a = _run_triples(spark, tr.repartition(2), d, e)
    b = _run_triples(spark, tr.repartition(16), d, e)
    assert a == b


def test_mention_ids_stable(spark, spark_corpus):
    """A mention's key (conv_id, turn_idx, m_idx) and span must not depend
    on the physical layout: the warehouse MERGE is keyed on them."""
    tr, d, _ = spark_corpus
    cols = ["conv_id", "turn_idx", "m_idx", "surface", "begin", "end"]
    m1 = extract.extract_mentions(tr, d).select(*cols)
    m2 = extract.extract_mentions(tr.repartition(7), d).select(*cols)
    rows1 = sorted(map(tuple, m1.collect()))
    assert rows1 and rows1 == sorted(map(tuple, m2.collect()))


def test_dedup_triples_two_level_equals_single_level(spark):
    """The size-adaptive dedup must be a pure physical choice: both shapes
    (per-conv pre-aggregation vs single global aggregation) yield the
    identical first-emission triple set."""
    import random

    from kgforge.triples import dedup_triples

    rng = random.Random(17)
    rows = []
    for i in range(500):
        rows.append((
            f"e{rng.randrange(20)}", "co_occurs", f"e{rng.randrange(20)}",
            f"c{rng.randrange(30)}", rng.randrange(50), rng.randrange(5),
            round(rng.random(), 3),
        ))
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, conv_id string, "
        "turn_idx int, m_idx int, confidence double",
    )
    two = sorted(map(tuple, dedup_triples(t, two_level=True).collect()))
    one = sorted(map(tuple, dedup_triples(t, two_level=False).collect()))
    assert two == one
