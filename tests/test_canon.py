"""Connected-components canonicalization vs two independent oracles:
pure-Python union-find and DuckDB WITH RECURSIVE (SURVEY.md §5.2-4).
Stress shapes: long chains (pointer-jumping must converge in O(log d)),
stars, and random graphs."""

from __future__ import annotations

import random

import duckdb
import pytest

from kgforge.canon import canonical_map, connected_components
from tests.oracle_ref import canonical_map as uf_canonical


def _spark_cc(spark, edges: list[tuple[str, str]]) -> dict[str, str]:
    df = spark.createDataFrame(
        [(a, b, "t") for a, b in edges], schema="src string, dst string, source string"
    )
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def test_chain_converges_logarithmically(spark):
    n = 200
    edges = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)]
    got = _spark_cc(spark, edges)
    assert set(got.values()) == {"n0000"}
    assert len(got) == n


def test_star(spark):
    edges = [("hub", f"leaf{i:03d}") for i in range(80)]
    got = _spark_cc(spark, edges)
    assert set(got.values()) == {"hub"}


def test_random_graph_vs_union_find(spark):
    rng = random.Random(7)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(90)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    got = _spark_cc(spark, edges)
    want = uf_canonical([], [(a, b, "t") for a, b in edges])
    want = {k: v for k, v in want.items()}
    assert got == {k: want[k] for k in got}


def test_vs_duckdb_recursive(spark):
    rng = random.Random(13)
    nodes = [f"v{i:03d}" for i in range(60)]
    edges = list(
        {(a, b) for a, b in ((rng.choice(nodes), rng.choice(nodes)) for _ in range(50)) if a != b}
    )
    got = _spark_cc(spark, edges)

    con = duckdb.connect()
    con.execute("CREATE TABLE e(src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    # min-label fixpoint via recursive CTE on the bidirected edge set
    rows = con.execute(
        """
        WITH RECURSIVE bidir AS (
          SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e
        ),
        reach(node, lab) AS (
          SELECT a, a FROM bidir
          UNION
          SELECT b.b, r.lab FROM reach r JOIN bidir b ON r.node = b.a
        )
        SELECT node, min(lab) FROM reach GROUP BY node
        """
    ).fetchall()
    want = dict(rows)
    assert got == want


def test_canonical_map_isolated_nodes_self_map(spark):
    ents = spark.createDataFrame([("E1",), ("E2",), ("E3",)], schema="entity_id string")
    edges = spark.createDataFrame(
        [("E1", "E2", "x")], schema="src string, dst string, source string"
    )
    got = {r["entity_id"]: r["canonical_id"] for r in canonical_map(ents, edges).collect()}
    assert got == {"E1": "E1", "E2": "E1", "E3": "E3"}


@pytest.mark.parametrize("n_iter_chain", [512])
def test_long_chain_within_max_iter(spark, n_iter_chain):
    """A 512-node path needs ~log2(512)=9 pointer-jumping rounds, far under
    max_iter=40 — guards against regressing to O(d) plain propagation."""
    edges = [(f"p{i:05d}", f"p{i + 1:05d}") for i in range(n_iter_chain - 1)]
    got = _spark_cc(spark, edges)
    assert set(got.values()) == {"p00000"}


def test_auto_matches_distributed(spark):
    """Driver union-find path and distributed label propagation must produce
    the identical canonical map (canonical_map_auto strategy switch)."""
    from kgforge.canon import canonical_map_auto

    rng = random.Random(21)
    nodes = [f"e{i:03d}" for i in range(150)]
    edges = [(rng.choice(nodes), rng.choice(nodes), "x") for _ in range(100)]
    ents = spark.createDataFrame([(n,) for n in nodes], "entity_id string")
    edf = spark.createDataFrame(edges, "src string, dst string, source string")
    a = {r["entity_id"]: r["canonical_id"] for r in canonical_map(ents, edf).collect()}
    b = {r["entity_id"]: r["canonical_id"] for r in canonical_map_auto(ents, edf).collect()}
    assert a == b


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star CC must equal the pointer-jumping fixpoint on
    random graphs, chains, and stars."""
    from kgforge.canon import connected_components_star

    rng = random.Random(33)
    cases = []
    nodes = [f"v{i:03d}" for i in range(100)]
    cases.append([(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)])
    cases.append([(f"p{i:04d}", f"p{i + 1:04d}") for i in range(150)])  # chain
    cases.append([("hub", f"l{i:03d}") for i in range(60)])  # star
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(
            [(a, b, "t") for a, b in edges], "src string, dst string, source string"
        )
        want = _spark_cc(spark, edges)
        got = {
            r["node"]: r["component"]
            for r in connected_components_star(df).collect()
        }
        assert got == want


def test_auto_deep_descending_chain_no_recursion_error(spark):
    """ADVICE round-1: a 1500-edge same-as chain delivered in DESCENDING
    order builds a maximal parent chain inside the driver union-find; the
    old recursive find() hit Python's recursion limit. Must now resolve
    iteratively and still produce the min-label map."""
    from kgforge.canon import canonical_map_auto

    n = 1500
    edges = [(f"c{i + 1:05d}", f"c{i:05d}", "x") for i in range(n - 1, 0, -1)]
    nodes = [f"c{i:05d}" for i in range(n + 1)]
    ents = spark.createDataFrame([(x,) for x in nodes], "entity_id string")
    edf = spark.createDataFrame(edges, "src string, dst string, source string")
    got = {r["entity_id"]: r["canonical_id"] for r in canonical_map_auto(ents, edf).collect()}
    # c00001..c01500 form one chain rooted at c00001 (edges cover 1..n);
    # c00000 is isolated and self-maps.
    assert got["c00000"] == "c00000"
    assert {got[f"c{i:05d}"] for i in range(1, n + 1)} == {"c00001"}


def test_capped_fixpoints_raise(spark):
    """A chain needs more rounds than either cap allows: both fixpoints must
    raise instead of returning a partly contracted map."""
    from kgforge.canon import NotConverged, connected_components_star

    edges = [(f"q{i:03d}", f"q{i + 1:03d}", "t") for i in range(63)]
    df = spark.createDataFrame(edges, "src string, dst string, source string")
    with pytest.raises(NotConverged):
        connected_components_star(df, max_rounds=2)
    with pytest.raises(NotConverged):
        connected_components(df, max_iter=2)
