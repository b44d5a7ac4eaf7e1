"""Round-3 operator tests: CDC feed, incremental pipeline, integer PageRank,
near-dup clustering (transitive closure). The driver oracle value-hashes each
against DuckDB at sf0.01; these tests pin the semantics on hand-verifiable
fixtures the derived corpus cannot express.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# ------------------------------------------------------------------ CDC
def test_changes_insert_delete(spark, tmp_path):
    from kgforge.io.tableio import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    rows = [(i, f"v{i}") for i in range(1, 5)]
    df = spark.createDataFrame(rows, "k int, v string")
    s1 = wh.write_snapshot("t", df.where("k <= 3"))  # {1,2,3}
    s2 = wh.write_snapshot("t", df.where("k >= 2"))  # {2,3,4}
    feed = {(r.k, r.change_type) for r in wh.changes(spark, "t", s1, s2).collect()}
    assert feed == {(4, "insert"), (1, "delete")}


def test_changes_same_snapshot_empty(spark, tmp_path):
    from kgforge.io.tableio import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    s1 = wh.write_snapshot("t", df)
    assert wh.changes(spark, "t", s1, s1).count() == 0


def test_changes_duplicate_rows_multiset(spark, tmp_path):
    """exceptAll is multiset semantics: adding a second copy of an existing
    row surfaces as one insert."""
    from kgforge.io.tableio import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    one = spark.createDataFrame([(1, "a")], "k int, v string")
    two = spark.createDataFrame([(1, "a"), (1, "a")], "k int, v string")
    s1 = wh.write_snapshot("t", one)
    s2 = wh.write_snapshot("t", two)
    out = wh.changes(spark, "t", s1, s2).collect()
    assert [(r.k, r.change_type) for r in out] == [(1, "insert")]


# ------------------------------------------------------------------ PageRank
def test_pagerank_hand_verified(spark):
    """3-node graph a<->b plus c->a, 3 iterations, hand-computed integer
    fixed-point values (contribution = (rank*85) DIV (100*outdeg))."""
    from kgforge.ops.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "a")], "src string, dst string"
    )
    got = {r.node_id: r.rank for r in pagerank(edges, iters=3).collect()}
    # r0 = 1_000_000 each.
    # r1: a = 150000 + 850000(b) + 850000(c) = 1_850_000; b = 1_000_000; c = 150_000
    # r2: a = 150000 + 850000(b) + 127500(c) = 1_127_500; b = 150000 + 1_572_500 = 1_722_500
    # r3: a = 150000 + 1_464_125(b) + 127_500(c) = 1_741_625; b = 150000 + 958_375 = 1_108_375
    assert got == {"a": 1_741_625, "b": 1_108_375, "c": 150_000}


def test_pagerank_two_cycle_fixed_point(spark):
    """A symmetric 2-cycle is a fixed point: 150000 + (1e6*85)//100 = 1e6."""
    from kgforge.ops.graph import pagerank

    edges = spark.createDataFrame([("x", "y"), ("y", "x")], "src string, dst string")
    got = {r.node_id: r.rank for r in pagerank(edges, iters=3).collect()}
    assert got == {"x": 1_000_000, "y": 1_000_000}


# ------------------------------------------------------------------ clusters
def _chain_docs(spark):
    """Three overlapping-window docs where minhash emits exactly the chain
    pairs (1,2), (2,3) and NOT (1,3) — verified deterministic (md5 bands)."""
    toks = [f"w{i:02d}" for i in range(22)]
    rows = [
        (1, " ".join(toks[0:14])),
        (2, " ".join(toks[4:18])),
        (3, " ".join(toks[8:22])),
        (4, "completely unrelated text about nothing shared at all"),
    ]
    from kgforge.ops.similarity import _shingles

    return (
        spark.createDataFrame(rows, "doc_id long, text string")
        .select("doc_id", _shingles(F.col("text")).alias("sh"))
        .persist()
    )


def test_dedup_clusters_transitive_closure(spark):
    """1~2 and 2~3 but no direct 1~3 pair: the cluster must still contain all
    three (the property pair-level dedup ops cannot express), doc 4 absent."""
    from kgforge.ops.similarity import minhash_pairs, near_dup_clusters

    docs = _chain_docs(spark)
    pairs = sorted((r.doc_a, r.doc_b) for r in minhash_pairs(docs).collect())
    assert pairs == [(1, 2), (2, 3)], "fixture drifted: expected exactly the chain"
    out = {r.doc_id: (r.cluster_id, r.cluster_size) for r in
           near_dup_clusters(docs).collect()}
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3)}


def test_dedup_clusters_matches_union_find(spark):
    """Clusters equal an independent python union-find over the emitted
    pairs — closure logic checked without trusting canonical_map_auto."""
    from kgforge.ops.similarity import minhash_pairs, near_dup_clusters

    docs = _chain_docs(spark)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in minhash_pairs(docs).collect():
        parent[find(r.doc_a)] = find(r.doc_b)
    comp: dict[int, list[int]] = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    want = {}
    for members in comp.values():
        cid = min(members)
        for m in members:
            want[m] = (cid, len(members))
    got = {r.doc_id: (r.cluster_id, r.cluster_size) for r in
           near_dup_clusters(docs).collect()}
    assert got == want
