"""KG query & validation operators (round 4): the read-side surface a
knowledge-graph warehouse needs once construction works — integrity audits,
SPARQL-style basic-graph-pattern joins, weighted shortest paths, and
entity-resolution cluster diagnostics.

All four run over the SAME canonical triple/entity cuts as the graph
analytics pane (pipe_triples / canonical map, both memoized + persisted per
(application, sf_dir)), so none re-runs the extract→link dataflow. Every
output column is a string or BIGINT — the oracle hashes are exact, no float
anywhere.

Scale notes (graded per op in the docstrings):
- kg_validate's three checks are each one hash-aggregate or one anti-join
  over the triple table — no self-joins, nothing super-linear.
- kg_path2hop is the classic BGP 2-hop self-join; its cost is bounded by
  the out-degree distribution (sum of deg(v)^2 over intermediates), the
  same wedge bound as triangle counting — at 100 TB the hub cap pattern
  from graph_jaccard applies, noted in the docstring.
- graph_sssp is O(iters) shuffles of the weighted edge set (the PageRank /
  BFS iterative-dataflow shape) with localCheckpoint lineage cuts.
- graph_comp_sizes aggregates the canonical map twice; the second
  aggregate's input is one row per component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge import corpus
from kgforge.ops import graph, pipeline_ops
from kgforge.registry import register

_TRIPLES_PREFIX = (
    pipeline_ops._PRELUDE
    + ",\n"
    + pipeline_ops._MENTIONS_CTE
    + ",\n"
    + pipeline_ops._LINKED_CTE
    + ",\n"
    + pipeline_ops._TRIPLES_CTE
)


# ------------------------------------------------------------------ validate
@register(
    "kg_validate",
    sql=_TRIPLES_PREFIX + """,
    rel AS (SELECT subj, pred, obj FROM final_triples
            WHERE pred <> 'resolved_as')
    SELECT 'functional_violation' AS check_name, subj AS node_id,
           'resolved_as' AS pred, CAST(count(*) AS BIGINT) AS n
    FROM final_triples WHERE pred = 'resolved_as'
    GROUP BY subj HAVING count(*) > 1
    UNION ALL
    SELECT 'self_loop' AS check_name, subj AS node_id, pred,
           CAST(count(*) AS BIGINT) AS n
    FROM rel WHERE subj = obj GROUP BY subj, pred
    UNION ALL
    SELECT 'sink_entity' AS check_name, o.obj AS node_id, '' AS pred,
           CAST(1 AS BIGINT) AS n
    FROM (SELECT DISTINCT obj FROM rel) o
    WHERE NOT EXISTS (SELECT 1 FROM rel r WHERE r.subj = o.obj)
    """,
    doc=(
        "KG integrity audit — the post-construction validation pass every "
        "production KG runs before publishing a snapshot. Three checks over "
        "the canonical triple table, each a single hash-aggregate or "
        "anti-join (no self-joins, nothing super-linear, so the audit costs "
        "about one extra pass over the triples at any scale): "
        "functional_violation = canonical subjects carrying >1 "
        "'resolved_as' xref (the ER cluster merged entities with distinct "
        "CURIEs — expected, it measures merge aggressiveness); self_loop = "
        "relation triples whose endpoints canonicalized to the same entity "
        "(adjacent mentions collapsed by the merge); sink_entity = entities "
        "that appear as relation objects but never as subjects (frontier "
        "nodes with no outgoing context)."
    ),
)
def kg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validate_triples(pipeline_ops.pipe_triples(spark, sf_dir))


def validate_triples(tri: DataFrame) -> DataFrame:
    """The three integrity checks over a (subj, pred, obj) triple table;
    semantics pinned on a hand fixture in tests/test_kgquery.py."""
    res = tri.where(F.col("pred") == "resolved_as")
    rel = tri.where(F.col("pred") != "resolved_as")
    fv = (
        res.groupBy("subj")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select(
            F.lit("functional_violation").alias("check_name"),
            F.col("subj").alias("node_id"),
            F.lit("resolved_as").alias("pred"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    sl = (
        rel.where(F.col("subj") == F.col("obj"))
        .groupBy("subj", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("self_loop").alias("check_name"),
            F.col("subj").alias("node_id"),
            "pred",
            F.col("n").cast("bigint").alias("n"),
        )
    )
    sink = (
        rel.select("obj")
        .distinct()
        .join(
            rel.select("subj").distinct(),
            F.col("obj") == F.col("subj"),
            "left_anti",
        )
        .select(
            F.lit("sink_entity").alias("check_name"),
            F.col("obj").alias("node_id"),
            F.lit("").alias("pred"),
            F.lit(1).cast("bigint").alias("n"),
        )
    )
    return fv.unionAll(sl).unionAll(sink)


# ------------------------------------------------------------------- 2-hop
@register(
    "kg_path2hop",
    sql=_TRIPLES_PREFIX + """,
    p_edges AS MATERIALIZED (
      SELECT DISTINCT subj AS src, obj AS dst
      FROM final_triples WHERE pred = 'co_occurs'
    )
    SELECT e1.src AS src, e2.dst AS dst, CAST(count(*) AS BIGINT) AS n_paths
    FROM p_edges e1 JOIN p_edges e2 ON e1.dst = e2.src
    WHERE e1.src <> e2.dst
    GROUP BY e1.src, e2.dst
    """,
    doc=(
        "SPARQL-style basic graph pattern: `?a co_occurs ?x . ?x co_occurs "
        "?c` — the 2-hop property path with per-(src, dst) path counts "
        "(n_paths = distinct intermediates, since the edge set is "
        "distinct). ONE equi-join on the intermediate node + one hash "
        "aggregate. Scale: the join output is sum over intermediates of "
        "in-deg × out-deg — the wedge bound; on hub-heavy graphs the "
        "production variant caps intermediate degree exactly like "
        "graph_jaccard's JACCARD_HUB_MAX (a pre-aggregated degree filter "
        "on the join key), which drops <1e-4 of paths while bounding the "
        "blow-up; the registered key is exact because the oracle must "
        "match."
    ),
)
def kg_path2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = pipeline_ops.pipe_triples(spark, sf_dir)
    edges = (
        tri.where(F.col("pred") == "co_occurs")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    return path2_counts(edges)


def path2_counts(edges: DataFrame) -> DataFrame:
    """Per-(src, dst) 2-hop path counts over distinct ``edges(src, dst)``."""
    e1 = edges.alias("e1")
    e2 = edges.select(
        F.col("src").alias("mid"), F.col("dst").alias("dst2")
    ).alias("e2")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.mid"))
        .where(F.col("e1.src") != F.col("e2.dst2"))
        .groupBy(F.col("e1.src").alias("src"), F.col("e2.dst2").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
    )


# -------------------------------------------------------------------- SSSP
SSSP_ITERS = 4
SSSP_SEEDS = 3
SSSP_W_MOD = 9  # edge weight = 1 + (md5 nibble of the undirected pair) % 9

_W_SQL = (
    "CAST(1 + ("
    + graph._NIB_SQL.format(x="least(u, v)", y="greatest(u, v)")
    + f") % {SSSP_W_MOD} AS BIGINT)"
)


def _sssp_iter_sql(prev: str, nxt: str) -> str:
    """One unrolled Bellman-Ford relaxation as a DuckDB CTE (min-plus over
    the weighted adjacency; min over BIGINT is exact in both engines)."""
    return f"""
    {nxt} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT a.v AS node, d.dist + a.w AS dist
        FROM sp_adj a JOIN {prev} d ON a.u = d.node)
      GROUP BY node
    )"""


@register(
    "graph_sssp",
    sql=graph._GRAPH_SQL_PREFIX + f""",
    sp_adj AS MATERIALIZED (
      SELECT u, v, {_W_SQL} AS w FROM adj2
    ),
    sp_seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM adj2)
      ORDER BY node LIMIT {SSSP_SEEDS}
    ),
    sd0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM sp_seeds),
    {",".join(_sssp_iter_sql(f"sd{i}", f"sd{i + 1}") for i in range(SSSP_ITERS))}
    SELECT node AS node_id, dist FROM sd{SSSP_ITERS}
    """,
    doc=(
        f"Weighted single/multi-source shortest paths ({SSSP_ITERS} "
        "Bellman-Ford relaxations from the "
        f"{SSSP_SEEDS} lexicographically-first entities) over the "
        "undirected canonical entity graph with deterministic integer edge "
        f"weights 1 + md5-nibble(a|b) % {SSSP_W_MOD} — the weighted "
        "counterpart of graph_bfs. Each relaxation is one shuffle-join of "
        "the frontier against the persisted weighted adjacency plus a "
        "min-aggregate: O(iters) shuffles of the edge set, per-iteration "
        "localCheckpoint cuts the doubling lineage (the measured 88s→8s "
        "BFS fix applies identically). All distances BIGINT so min() is "
        "order-independent and the oracle hash exact."
    ),
)
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = graph.undirected_entity_edges(spark, sf_dir)
    w = (1 + graph._edge_nib(F.col("a"), F.col("b")) % SSSP_W_MOD).cast(
        "bigint"
    )
    adj = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"), w.alias("w"))
        .unionAll(
            und.select(
                F.col("b").alias("u"), F.col("a").alias("v"), w.alias("w")
            )
        )
        .persist()
    )
    seeds = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(SSSP_SEEDS)
    )
    return sssp_distances(adj, seeds)


def sssp_distances(
    adj: DataFrame, seeds: DataFrame, iters: int = SSSP_ITERS
) -> DataFrame:
    """Bellman-Ford over ``adj(u, v, w)`` from ``seeds(node)`` →
    (node_id, dist): ``iters`` min-plus relaxations, each one shuffle-join
    of the frontier against the adjacency plus a min-aggregate."""
    dist = seeds.select("node", F.lit(0).cast("bigint").alias("dist"))
    for it in range(iters):
        prop = adj.join(dist, adj.u == dist.node).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionAll(prop).groupBy("node").agg(F.min("dist").alias("dist"))
        )
        # Same lineage trap as bfs_distances: the frontier feeds the next
        # iteration twice (relaxation join + union), so each round would
        # re-derive all prior rounds 2x without the checkpoint. The LAST
        # round's frontier feeds nothing (returned, evaluated once) — no
        # checkpoint there (the graph_khop last-delta rule).
        if it < iters - 1:
            dist = dist.localCheckpoint()
    return dist.select(F.col("node").alias("node_id"), "dist")


# -------------------------------------------------------------- comp sizes
@register(
    "graph_comp_sizes",
    sql=pipeline_ops._PRELUDE + """
    SELECT CAST(sz AS BIGINT) AS comp_size,
           CAST(count(*) AS BIGINT) AS n_components
    FROM (SELECT canonical_id, count(*) AS sz
          FROM canonical GROUP BY canonical_id)
    GROUP BY sz
    """,
    doc=(
        "Entity-resolution cluster-size histogram — THE diagnostic for a "
        "canonicalization stage (a fat tail here means the ER merge is "
        "over-collapsing; a spike at 1 means xrefs aren't firing). Two "
        "chained hash aggregates over the memoized canonical map: the "
        "first's output is one row per component, the second's is one row "
        "per distinct size — both map-side-combinable, and the histogram "
        "is at most max-component-size rows, so the op costs one pass over "
        "the entity list at any corpus scale."
    ),
)
def graph_comp_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    cmap = corpus.derive_canonical_map(spark, sf_dir)
    return (
        cmap.groupBy("canonical_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
        .select(F.col("sz").cast("bigint").alias("comp_size"), "n_components")
    )
