"""Graph-side operators beyond the CC fixpoint (which lives in
pipeline_ops.graph_cc): canonical remapping of an edge set through the
component map — two broadcast joins, no shuffle of the big side beyond the
scan (SURVEY.md §2.B graph pane).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kgforge import canon, corpus
from kgforge.ops import _util, pipeline_ops
from kgforge.registry import register
from kgforge.tables import load


@register(
    "graph_remap",
    sql=pipeline_ops._PRELUDE
    + ",\n"
    + pipeline_ops._MENTIONS_CTE
    + ",\n"
    + pipeline_ops._LINKED_CTE
    + """,
    raw_triples AS (
      SELECT entity_id AS subj, 'resolved_as' AS pred, curie AS obj,
             conv_id, turn_idx, m_idx, prior AS confidence
      FROM linked
    )
    SELECT coalesce(cs.canonical_id, t.subj) AS subj, t.pred,
           coalesce(co.canonical_id, t.obj) AS obj,
           t.conv_id, t.turn_idx, t.confidence
    FROM raw_triples t
    LEFT JOIN canonical cs ON t.subj = cs.entity_id
    LEFT JOIN canonical co ON t.obj = co.entity_id
    """,
    doc=(
        "Canonical remap: rewrite subj/obj of an edge set through the "
        "(entity → canonical) map via two broadcast left joins; literal "
        "objects (CURIEs) pass through untouched."
    ),
)
def graph_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    resolved = corpus.derive_linked(spark, sf_dir).selectExpr(
        "entity_id AS subj",
        "'resolved_as' AS pred",
        "curie AS obj",
        "conv_id",
        "turn_idx",
        "m_idx",
        "prior AS confidence",
    )
    cmap = corpus.derive_canonical_map(spark, sf_dir)
    return canon.remap_triples(resolved, cmap).select(
        "subj", "pred", "obj", "conv_id", "turn_idx", "confidence"
    )


@register(
    "graph_nodes",
    sql=pipeline_ops._PRELUDE
    + ",\n"
    + pipeline_ops._MENTIONS_CTE
    + ",\n"
    + pipeline_ops._LINKED_CTE
    + """,
    resolved AS (
      SELECT coalesce(c.canonical_id, l.entity_id) AS node_id, l.curie
      FROM linked l LEFT JOIN canonical c ON l.entity_id = c.entity_id
    )
    SELECT node_id,
           min(curie) AS label,
           CAST(count(*) AS BIGINT) AS n_mentions,
           array_to_string(list_sort(list(DISTINCT curie)), '|') AS xrefs
    FROM resolved GROUP BY node_id
    """,
    doc=(
        "Node table with merged identities (SURVEY.md §1.2): canonical id, "
        "deterministic label, mention count, and the per-component xref SET "
        "string-encoded as '|'-joined sorted distinct CURIEs — the batch "
        "mirror of the bot's item (labels + claims + external ids). The set "
        "is string-encoded because registered queries must never emit "
        "array/map-typed columns: the driver harness canonicalizes results "
        "via pandas sort_values, which cannot hash numpy arrays."
    ),
)
def graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    linked = corpus.derive_linked(spark, sf_dir)
    cmap = corpus.derive_canonical_map(spark, sf_dir)
    resolved = (
        linked.join(
            F.broadcast(cmap), linked.entity_id == cmap.entity_id, "left"
        )
        .select(
            F.coalesce("canonical_id", linked.entity_id).alias("node_id"), "curie"
        )
    )
    return resolved.groupBy("node_id").agg(
        F.min("curie").alias("label"),
        F.count(F.lit(1)).alias("n_mentions"),
        F.concat_ws("|", F.sort_array(F.collect_set("curie"))).alias("xrefs"),
    )


PR_ITERS = 3
PR_SCALE = 1_000_000  # initial integer rank per node
PR_BASE = 150_000  # (1 - d) * SCALE with damping d = 0.85


def _pr_iter_sql(prev: str, nxt: str) -> str:
    """One unrolled integer-PageRank iteration as a DuckDB CTE."""
    return f"""
    {nxt} AS (
      SELECT n.node, CAST({PR_BASE} + coalesce(s.m, 0) AS BIGINT) AS rank
      FROM pr_nodes n LEFT JOIN (
        SELECT e.dst AS node, sum((r.rank * 85) // (100 * d.outdeg)) AS m
        FROM pr_edges e
        JOIN {prev} r ON e.src = r.node
        JOIN pr_deg d ON e.src = d.src
        GROUP BY e.dst) s ON n.node = s.node
    )"""


@register(
    "graph_pagerank",
    # Integer-arithmetic PageRank: every quantity is a BIGINT (per-edge
    # contribution = floor(rank*85 / (100*outdeg)), ranks = 150000 + integer
    # sum), so the result is EXACT and order-independent in both engines —
    # no float summation-order ulp can break the value hash. DuckDB sums
    # BIGINT into HUGEINT, hence the CAST back.
    sql=pipeline_ops._PRELUDE + ",\n" + pipeline_ops._MENTIONS_CTE + ",\n"
    + pipeline_ops._LINKED_CTE + ",\n" + pipeline_ops._TRIPLES_CTE + f""",
    pr_edges AS (
      SELECT DISTINCT subj AS src, obj AS dst
      FROM final_triples WHERE pred <> 'resolved_as'
    ),
    pr_nodes AS (
      SELECT src AS node FROM pr_edges UNION SELECT dst FROM pr_edges
    ),
    pr_deg AS (SELECT src, count(*) AS outdeg FROM pr_edges GROUP BY src),
    pr_r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM pr_nodes),
    {",".join(_pr_iter_sql(f"pr_r{i}", f"pr_r{i + 1}") for i in range(PR_ITERS))}
    SELECT node AS node_id, rank FROM pr_r{PR_ITERS}
    """,
    doc=(
        f"PageRank over the canonical entity graph ({PR_ITERS} fixed "
        "iterations, damping 0.85 in exact integer fixed-point): edges are "
        "the distinct entity→entity triples (co_occurs / mentions_with); "
        "each iteration is one join + hash aggregation over the edge set — "
        "the iterative-dataflow pattern that scales as O(iters) shuffles of "
        "the edge table, never materializing anything super-linear."
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    tri = pipeline_ops.pipe_triples(spark, sf_dir)
    edges = (
        tri.where(F.col("pred") != "resolved_as")
        .select("subj", "obj")
        .distinct()
        .withColumnRenamed("subj", "src")
        .withColumnRenamed("obj", "dst")
    )
    return pagerank(edges)


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer fixed-point PageRank over ``edges(src, dst)`` → (node_id, rank).

    Exact-arithmetic contract: per-edge contribution is
    ``(rank * 85) DIV (100 * outdeg)`` and ranks are BIGINT sums, so results
    are order-independent and engine-exact (hand-verified on a 3-node
    fixture in tests/test_round3_ops.py; value-hashed vs the unrolled DuckDB
    mirror by the driver).
    """
    from pyspark.sql import functions as F

    # Edge list + out-degree are reused by every iteration: persist ONE
    # pre-joined (src, dst, outdeg) cut so each iteration is a single
    # shuffle-join against the current ranks, not a re-derivation of the
    # upstream plan (Catalyst has no cross-branch CSE — without this the
    # whole edge derivation would re-run once per iteration).
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = edges.join(deg, "src").persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("bigint").alias("rank"))
    for _ in range(iters):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank * 85) DIV (100 * outdeg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(PR_BASE) + F.coalesce("m", F.lit(0))).cast("bigint").alias("rank"),
        )
    # ew/nodes stay persisted: the returned plan references them once per
    # iteration, and they only materialize at the caller's action — an
    # unpersist here would silently re-derive the whole pipeline per use.
    return ranks.select(F.col("node").alias("node_id"), "rank")


# ---------------------------------------------------------------------------
# Graph analytics over the canonical entity graph (round 3): triangle
# counting with degree orientation, shared-neighbor link prediction, and
# bounded-hop BFS. All-integer outputs so every oracle is value-exact.
# ---------------------------------------------------------------------------

# Undirected simple graph derived from the entity→entity triples (the same
# edge definition as graph_pagerank), plus true degrees. Mirrored verbatim
# in each oracle below.
_GRAPH_CTE = """
    g_edges AS (
      SELECT DISTINCT subj AS src, obj AS dst
      FROM final_triples WHERE pred <> 'resolved_as'
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM g_edges WHERE src <> dst
    ),
    adj2 AS MATERIALIZED (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
    g_deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM adj2 GROUP BY u
    )
"""

_GRAPH_SQL_PREFIX = (
    pipeline_ops._PRELUDE + ",\n" + pipeline_ops._MENTIONS_CTE + ",\n"
    + pipeline_ops._LINKED_CTE + ",\n" + pipeline_ops._TRIPLES_CTE + ",\n"
    + _GRAPH_CTE
)


def undirected_entity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected (a < b) entity co-occurrence edges, persisted:
    every analytics op below self-joins this cut, and Catalyst has no
    cross-branch CSE — without the persist the whole extract→link→triples
    dataflow would re-run once per join branch. A session cut
    (_util.session_memo): seven registered graph keys share it, so
    per-call persists would stack seven cached copies of the same edge
    set in one session (the ADVICE r04 leak class)."""
    from pyspark.sql import functions as F

    def build() -> DataFrame:
        tri = pipeline_ops.pipe_triples(spark, sf_dir)
        return (
            tri.where(
                (F.col("pred") != "resolved_as") & (F.col("subj") != F.col("obj"))
            )
            .select(
                F.least("subj", "obj").alias("a"),
                F.greatest("subj", "obj").alias("b"),
            )
            .distinct()
            .persist()
        )

    return _util.session_memo(spark, sf_dir, "entity_edges", build)


def triangle_counts(und: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over undirected edges (a < b).

    Degree-oriented enumeration (the scale-correct plan): each edge is
    oriented from its lower-(degree, id) endpoint to the higher one, wedges
    are built only from a node's higher-ranked out-neighbors, and a triangle
    is a wedge whose far endpoints are themselves an oriented edge. Oriented
    out-degree is bounded by O(sqrt(|E|)) on any graph, so the wedge join
    stays near-linear even with power-law hubs — the lexicographic (a < b)
    orientation has no such bound and dies on hubs at 100×.
    """
    from pyspark.sql import functions as F

    deg = und.select(F.col("a").alias("node")).unionAll(
        und.select(F.col("b").alias("node"))
    ).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    j = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower = F.struct(F.col("da").alias("d"), F.col("a").alias("n")) < F.struct(
        F.col("db").alias("d"), F.col("b").alias("n")
    )
    ornt = j.select(
        F.when(lower, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist()
    o1, o2, o3 = ornt.alias("o1"), ornt.alias("o2"), ornt.alias("o3")
    rank1 = F.struct(F.col("o1.dv").alias("d"), F.col("o1.v").alias("n"))
    rank2 = F.struct(F.col("o2.dv").alias("d"), F.col("o2.v").alias("n"))
    tri = (
        o1.join(o2, (F.col("o1.u") == F.col("o2.u")) & (rank1 < rank2))
        .join(o3, (F.col("o3.u") == F.col("o1.v")) & (F.col("o3.v") == F.col("o2.v")))
        .select(
            F.col("o1.u").alias("x"), F.col("o1.v").alias("y"),
            F.col("o2.v").alias("z"),
        )
    )
    # explode, NOT a 3-way union of selects: Catalyst has no cross-branch
    # CSE, so the union form would execute the wedge join once per corner
    # branch (3x the dominant cost); explode emits all three corners from
    # ONE execution.
    corners = tri.select(
        F.explode(F.array("x", "y", "z")).alias("node_id")
    )
    return corners.groupBy("node_id").agg(F.count(F.lit(1)).alias("triangles"))


@register(
    "graph_triangles",
    sql=_GRAPH_SQL_PREFIX + """,
    ornt AS MATERIALIZED (
      SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS dv
      FROM und u
      JOIN g_deg da ON u.a = da.node
      JOIN g_deg db ON u.b = db.node
    ),
    tri AS (
      SELECT o1.u AS x, o1.v AS y, o2.v AS z
      FROM ornt o1
      JOIN ornt o2 ON o1.u = o2.u AND (o1.dv, o1.v) < (o2.dv, o2.v)
      JOIN ornt o3 ON o3.u = o1.v AND o3.v = o2.v
    )
    SELECT node_id, CAST(count(*) AS BIGINT) AS triangles
    FROM (SELECT x AS node_id FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node_id
    """,
    doc=(
        "Per-node triangle counts on the undirected canonical entity graph "
        "via DEGREE-ORIENTED enumeration: edges point low-(degree, id) → "
        "high, wedges come only from a node's higher-ranked out-neighbors, "
        "and the closing edge is probed in the oriented set. Oriented "
        "out-degree is O(sqrt(|E|))-bounded, so the wedge join survives "
        "power-law hubs that break the naive a<b<c enumeration at scale. "
        "All counts BIGINT — the oracle hash is exact."
    ),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_counts(undirected_entity_edges(spark, sf_dir))


JACCARD_HUB_MAX = 1000  # shared-neighbor centers above this degree are skipped
JACCARD_MIN_COMMON = 2  # emit pairs sharing at least this many neighbors
JACCARD_TOP_K = 5  # predictions kept per left node (bounds output size)


def jaccard_candidates(und: DataFrame) -> DataFrame:
    """Link-prediction candidates over undirected edges ``und(a, b)`` with
    a < b: non-adjacent node pairs sharing >= JACCARD_MIN_COMMON neighbors,
    integer fixed-point Jaccard (|N intersect N| / |N union N| x1000,
    floor), top JACCARD_TOP_K predictions per left node. Wedge centers of
    degree > JACCARD_HUB_MAX are excluded — the standard hub cap that keeps
    the center self-join near-linear (a degree-d hub would otherwise emit
    d^2 wedges), so 'common' counts shared NON-HUB neighbors; the per-node
    top-k bounds the OUTPUT the same way the cap bounds the intermediate.
    The oracle applies the identical cap/threshold/top-k, keeping the hash
    exact."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    small = adj.join(
        deg.where(F.col("deg") <= JACCARD_HUB_MAX).select("u"), "u"
    ).persist()
    a1, a2 = small.alias("a1"), small.alias("a2")
    common = (
        a1.join(a2, (F.col("a1.u") == F.col("a2.u")) & (F.col("a1.v") < F.col("a2.v")))
        .groupBy(F.col("a1.v").alias("node_a"), F.col("a2.v").alias("node_b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= JACCARD_MIN_COMMON)
    )
    pairs = common.join(
        deg.select(F.col("u").alias("node_a"), F.col("deg").alias("da")), "node_a"
    ).join(
        deg.select(F.col("u").alias("node_b"), F.col("deg").alias("db")), "node_b"
    )
    nonadj = pairs.join(
        und, (pairs.node_a == und.a) & (pairs.node_b == und.b), "left_anti"
    ).select(
        "node_a",
        "node_b",
        "common",
        (F.col("da") + F.col("db") - F.col("common")).alias("total"),
        F.expr("(1000 * common) DIV (da + db - common)").alias("jaccard_x1000"),
    )
    w = Window.partitionBy("node_a").orderBy(
        F.col("jaccard_x1000").desc(), F.col("common").desc(), F.col("node_b")
    )
    return (
        nonadj.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= JACCARD_TOP_K)
    )


# The co-ordered parts graph: parts appearing in the same order are linked —
# a sparse, hub-skewed co-occurrence graph (the canonical ENTITY graph is a
# complete K_n on this synthetic corpus: every entity co-occurs with every
# other, so link prediction over it is vacuous; the basket graph has real
# missing edges to predict).
_BASKET_CTE = """
    und AS MATERIALIZED (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    adj2 AS MATERIALIZED (
      SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
    g_deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM adj2 GROUP BY u
    )
"""


def coorder_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected (a < b) co-ordered part pairs from lineitem,
    persisted (the jaccard stages branch over it several times) as a
    session cut (_util.session_memo): three registered keys (jaccard,
    kcore, khop) share it, so per-call persists would stack cached copies
    and re-run the lineitem self-join per key (ADVICE r04 class)."""
    from pyspark.sql import functions as F

    def build() -> DataFrame:
        # One Exchange (the per-order basket aggregate) + in-row pair
        # expansion instead of the obvious self-join, which shuffles BOTH
        # aliased lineitem scans (two Exchanges of the full table). On this
        # DRAM-bound box the two are at measured parity (alternating
        # median-of-3 in one window, persist included: 5.61 s join vs
        # 5.70 s expand at sf0.1 local[32] — an earlier apparent 1.7x win
        # was warm-up order, the host-noise lesson); the expand variant is
        # kept for the structural property that matters at 100 TB: HALF
        # the shuffled bytes. Per-row work is |basket|²/2 — the same
        # fan-out the self-join pays per hot order key (a pathological
        # giant basket is the skew.py class either way; baskets are
        # order-line-bounded, not popularity-bounded).
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        grp = li.groupBy("l_orderkey").agg(
            F.collect_set("l_partkey").alias("ps")
        )
        pairs = F.expr(
            "flatten(transform(array_sort(ps), (x, i) ->"
            " transform(slice(array_sort(ps), i + 2, size(ps)),"
            " y -> struct(x AS a, y AS b))))"
        )
        return (
            grp.select(F.explode(pairs).alias("e"))
            .select("e.a", "e.b")
            .distinct()
            .persist()
        )

    return _util.session_memo(spark, sf_dir, "coorder_edges", build)


@register(
    "graph_jaccard",
    sql="WITH " + _BASKET_CTE + f""",
    small AS MATERIALIZED (
      SELECT a.u, a.v FROM adj2 a JOIN g_deg d ON a.u = d.node
      WHERE d.deg <= {JACCARD_HUB_MAX}
    ),
    common AS (
      SELECT a1.v AS node_a, a2.v AS node_b, CAST(count(*) AS BIGINT) AS common
      FROM small a1 JOIN small a2 ON a1.u = a2.u AND a1.v < a2.v
      GROUP BY a1.v, a2.v
      HAVING count(*) >= {JACCARD_MIN_COMMON}
    ),
    scored AS (
      SELECT c.node_a, c.node_b, c.common,
             da.deg + db.deg - c.common AS total,
             CAST((1000 * c.common) // (da.deg + db.deg - c.common) AS BIGINT)
               AS jaccard_x1000
      FROM common c
      JOIN g_deg da ON c.node_a = da.node
      JOIN g_deg db ON c.node_b = db.node
      LEFT JOIN und e ON e.a = c.node_a AND e.b = c.node_b
      WHERE e.a IS NULL
    )
    SELECT * FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY node_a
               ORDER BY jaccard_x1000 DESC, common DESC, node_b) AS INT) AS rk
      FROM scored)
    WHERE rk <= {JACCARD_TOP_K}
    """,
    doc=(
        "Shared-neighbor link prediction on the co-ordered parts graph "
        "(parts sharing an order are linked; the synthetic entity graph is "
        "complete, so prediction over it is vacuous): non-adjacent pairs "
        f"with >= {JACCARD_MIN_COMMON} common neighbors, Jaccard as integer "
        f"fixed-point x1000, top {JACCARD_TOP_K} predictions per node. "
        f"Wedge centers above degree {JACCARD_HUB_MAX} are excluded — the "
        "hub cap that bounds the center self-join (a degree-d hub emits "
        "d^2 wedges) — and the per-node top-k bounds the output; the anti-"
        "join against the edge set keeps only PREDICTED links."
    ),
)
def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_candidates(coorder_part_edges(spark, sf_dir))


BFS_ITERS = 4
BFS_SEEDS = 3


def _bfs_iter_sql(prev: str, nxt: str) -> str:
    """One unrolled BFS frontier-relaxation as a DuckDB CTE."""
    return f"""
    {nxt} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT a.v AS node, d.dist + 1 AS dist
        FROM adj2 a JOIN {prev} d ON a.u = d.node)
      GROUP BY node
    )"""


def bfs_distances(adj: DataFrame, seeds: DataFrame, iters: int = BFS_ITERS) -> DataFrame:
    """Multi-source BFS over ``adj(u, v)`` from ``seeds(node)`` →
    (node_id, dist), bounded to ``iters`` hops. Each iteration is one
    join + min-aggregate over the (persisted) adjacency — O(iters) shuffles,
    the same iterative-dataflow shape as PageRank; min over BIGINT is exact
    and order-independent in both engines."""
    from pyspark.sql import functions as F

    adj = adj.persist()
    dist = seeds.select("node", F.lit(0).cast("bigint").alias("dist"))
    for it in range(iters):
        prop = adj.join(dist, adj.u == dist.node).select(
            F.col("v").alias("node"), (F.col("dist") + F.lit(1)).alias("dist")
        )
        dist = (
            dist.unionAll(prop).groupBy("node").agg(F.min("dist").alias("dist"))
        )
        # The frontier feeds the NEXT iteration twice (relaxation join +
        # union), so without cutting lineage here the plan re-derives every
        # prior iteration 2× per round — exponential replay (measured 88s →
        # ~8s at sf0.001). localCheckpoint materializes the small frontier
        # and truncates the lineage, same as the CC fixpoint (canon.py).
        # The LAST iteration's frontier feeds nothing — it is returned and
        # evaluated exactly once by the caller's action, so a checkpoint
        # there would spend a whole extra materialization stage (the
        # graph_khop last-delta rule).
        if it < iters - 1:
            dist = dist.localCheckpoint()
    return dist.select(F.col("node").alias("node_id"), "dist")


@register(
    "graph_bfs",
    sql=_GRAPH_SQL_PREFIX + f""",
    bfs_seeds AS (
      SELECT node FROM (SELECT DISTINCT u AS node FROM adj2)
      ORDER BY node LIMIT {BFS_SEEDS}
    ),
    bd0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM bfs_seeds),
    {",".join(_bfs_iter_sql(f"bd{i}", f"bd{i + 1}") for i in range(BFS_ITERS))}
    SELECT node AS node_id, dist FROM bd{BFS_ITERS}
    """,
    doc=(
        f"Multi-source BFS ({BFS_ITERS} hops from the {BFS_SEEDS} "
        "lexicographically-first entities) over the undirected canonical "
        "entity graph: per hop one join + min-aggregate against the "
        "persisted adjacency — O(hops) shuffles of the frontier, nothing "
        "super-linear. Distances are BIGINT so min() is exact in both "
        "engines; unreached nodes are absent (frontier semantics)."
    ),
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    und = undirected_entity_edges(spark, sf_dir)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    seeds = adj.select(F.col("u").alias("node")).distinct().orderBy("node").limit(
        BFS_SEEDS
    )
    return bfs_distances(adj, seeds)


# ------------------------------------------------------- incremental (CDC)
# Deterministic CDC split of the undirected entity edge set by the first
# md5 nibble of 'a|b': OLD snapshot A = nib < CDC_INS_MIN, NEW snapshot
# B = nib >= CDC_DEL_MAX. The change feed A→B is therefore
# deletes = nib < CDC_DEL_MAX, inserts = nib >= CDC_INS_MIN, and the
# persisting intersection is nib in [CDC_DEL_MAX, CDC_INS_MIN).
CDC_DEL_MAX = 4
CDC_INS_MIN = 10


def _edge_nib(x, y):
    """First md5 nibble of 'x|y' as an int in [0, 16) — the deterministic
    edge-class function (mirrored in DuckDB as strpos-on-hex-charset)."""
    from pyspark.sql import functions as F

    return F.conv(
        F.substring(F.md5(F.concat_ws("|", x, y)), 1, 1), 16, 10
    ).cast("int")


def changed_edge_triangle_corners(
    changed: DataFrame, adj: DataFrame, other_live
) -> DataFrame:
    """Corners (node_id rows, one per corner) of every triangle in the
    reference graph ``adj`` that contains >= 1 changed edge, each triangle
    counted EXACTLY ONCE: by its lexicographically-smallest changed edge.

    ``changed(a, b)`` with a < b; ``adj(u, v)`` both directions of the
    reference snapshot's edges. ``other_live(lo, hi)`` must hold for the
    two non-enumerated edges of the wedge — liveness means 'persists in
    both snapshots' OR 'changed the same way but (lo, hi) sorts after
    (a, b)', which is a pure expression of the edge-class nibble (no join:
    the class is a function of the endpoints). The work is |changed| ×
    neighbor probes — never a full re-enumeration, which is the 100-TB
    point of CDC maintenance."""
    from pyspark.sql import functions as F

    cand = changed.join(
        adj.select(F.col("u").alias("a"), F.col("v").alias("c")), "a"
    ).join(adj.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"])
    filt = cand.where(
        other_live(F.least("a", "c"), F.greatest("a", "c"))
        & other_live(F.least("b", "c"), F.greatest("b", "c"))
    )
    # explode, not a 3-way union: one execution of the probe join emits
    # all three corners (no cross-branch CSE in Catalyst)
    return filt.select(F.explode(F.array("a", "b", "c")).alias("node_id"))


_NIB_SQL = "strpos('0123456789abcdef', substr(md5({x} || '|' || {y}), 1, 1)) - 1"


@register(
    "graph_triangles_cdc",
    # Oracle = recompute the NEW snapshot's triangle counts from scratch
    # (same degree-oriented enumeration as graph_triangles, restricted to
    # und_b). The Spark side's DELTA stage never re-enumerates — it touches
    # only changed edges against the reference adjacency; the OLD
    # snapshot's counts are recomputed in-op purely because a registered
    # query has no state between driver calls (production maintains them
    # as the table this op would read). The hash equality is the
    # incremental == rebuild proof.
    sql=_GRAPH_SQL_PREFIX + f""",
    und_b AS MATERIALIZED (
      SELECT a, b FROM und
      WHERE {_NIB_SQL.format(x="a", y="b")} >= {CDC_DEL_MAX}
    ),
    adj2b AS MATERIALIZED (
      SELECT a AS u, b AS v FROM und_b UNION ALL SELECT b, a FROM und_b),
    degb AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM adj2b GROUP BY u
    ),
    orntb AS MATERIALIZED (
      SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v,
             CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS dv
      FROM und_b u
      JOIN degb da ON u.a = da.node
      JOIN degb db ON u.b = db.node
    ),
    trib AS (
      SELECT o1.u AS x, o1.v AS y, o2.v AS z
      FROM orntb o1
      JOIN orntb o2 ON o1.u = o2.u AND (o1.dv, o1.v) < (o2.dv, o2.v)
      JOIN orntb o3 ON o3.u = o1.v AND o3.v = o2.v
    )
    SELECT node_id, CAST(count(*) AS BIGINT) AS triangles
    FROM (SELECT x AS node_id FROM trib UNION ALL SELECT y FROM trib
          UNION ALL SELECT z FROM trib)
    GROUP BY node_id
    """,
    doc=(
        "Incremental per-node triangle maintenance over a CDC edge feed: "
        "the old snapshot's materialized counts plus a delta computed ONLY "
        "from inserted/deleted edges (each changed triangle attributed to "
        "its lexicographically-smallest changed edge, so it is counted "
        "exactly once; the other two edges' liveness is a pure expression "
        "of the deterministic edge class — no extra join). The DELTA "
        "stage's work scales with |changed edges| x neighbor probes, not "
        "|E| (the old counts, read from a state table in production, are "
        "recomputed in-op only because registered queries are stateless); "
        "the oracle recomputes the new snapshot from scratch, so the "
        "value hash IS the incremental-equals-rebuild proof."
    ),
)
def graph_triangles_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    und = undirected_entity_edges(spark, sf_dir)
    tagged = und.withColumn("nib", _edge_nib(F.col("a"), F.col("b"))).persist()
    old_e = tagged.where(F.col("nib") < CDC_INS_MIN).select("a", "b")
    new_e = tagged.where(F.col("nib") >= CDC_DEL_MAX).select("a", "b")
    ins = tagged.where(F.col("nib") >= CDC_INS_MIN).select("a", "b")
    dels = tagged.where(F.col("nib") < CDC_DEL_MAX).select("a", "b")

    def both_dirs(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def _later(lo, hi):
        return F.struct(lo.alias("x"), hi.alias("y")) > F.struct(
            F.col("a").alias("x"), F.col("b").alias("y")
        )

    def ins_live(lo, hi):
        nib = _edge_nib(lo, hi)
        persisted = (nib >= CDC_DEL_MAX) & (nib < CDC_INS_MIN)
        return persisted | ((nib >= CDC_INS_MIN) & _later(lo, hi))

    def del_live(lo, hi):
        nib = _edge_nib(lo, hi)
        # the reference adjacency holds only nib < CDC_INS_MIN edges, so
        # 'persists' reduces to nib >= CDC_DEL_MAX here
        return (nib >= CDC_DEL_MAX) | ((nib < CDC_DEL_MAX) & _later(lo, hi))

    base = triangle_counts(old_e).select(
        "node_id", F.col("triangles").alias("t0")
    )
    plus = changed_edge_triangle_corners(ins, both_dirs(new_e), ins_live)
    minus = changed_edge_triangle_corners(dels, both_dirs(old_e), del_live)
    delta = (
        plus.withColumn("d", F.lit(1))
        .unionAll(minus.withColumn("d", F.lit(-1)))
        .groupBy("node_id")
        .agg(F.sum("d").alias("dt"))
    )
    return (
        base.join(delta, "node_id", "full_outer")
        .select(
            "node_id",
            (
                F.coalesce(F.col("t0"), F.lit(0))
                + F.coalesce(F.col("dt"), F.lit(0))
            ).cast("long").alias("triangles"),
        )
        .where(F.col("triangles") > 0)
    )


# ------------------------------------------------------------------ k-core
KCORE_PCT = 0.10   # K = floor(p10 of the degree distribution) — data-derived
KCORE_ROUNDS = 3   # bounded peeling rounds (exact k-core = the fixpoint)


def _kcore_round_sql(prev_e: str, prev_d: str, nxt_e: str, nxt_d: str) -> str:
    """One unrolled peeling round as DuckDB CTEs: drop nodes whose degree in
    the surviving graph is below K, restrict the edge set to survivors."""
    return f"""
    {nxt_e} AS (
      SELECT u, v FROM {prev_e}
      WHERE u IN (SELECT u FROM {prev_d} WHERE deg >= (SELECT k FROM kk))
        AND v IN (SELECT u FROM {prev_d} WHERE deg >= (SELECT k FROM kk))
    ),
    {nxt_d} AS (
      SELECT u, CAST(count(*) AS BIGINT) AS deg FROM {nxt_e} GROUP BY u
    )"""


@register(
    "graph_kcore",
    sql="WITH " + _BASKET_CTE + f""",
    ke0 AS (SELECT u, v FROM adj2),
    kd0 AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM ke0 GROUP BY u),
    kk AS (SELECT CAST(floor(quantile_cont(deg, {KCORE_PCT})) AS BIGINT) AS k
           FROM kd0),
    {",".join(
        _kcore_round_sql(f"ke{i}", f"kd{i}", f"ke{i + 1}", f"kd{i + 1}")
        for i in range(KCORE_ROUNDS)
    )}
    SELECT u AS part_id, deg FROM kd{KCORE_ROUNDS}
    """,
    doc=(
        f"Bounded k-core peeling over the co-ordered parts graph: K = "
        f"floor(p{int(KCORE_PCT * 100)} of the degree distribution) — "
        f"data-derived so the cut scales with the corpus — then "
        f"{KCORE_ROUNDS} rounds of drop-degree-below-K, emitting the "
        "surviving nodes with their in-core degrees. Each round is one "
        "hash aggregate + two semi-joins on the (shrinking) edge set — "
        "O(rounds) shuffles, the PageRank/BFS iterative shape; the exact "
        "k-core is the peeling fixpoint, approached monotonically from "
        "above. K comes from the bounded degree HISTOGRAM (distinct-degree "
        "rows only — never the whole degree column in one aggregation "
        "buffer), interpolated driver-side exactly as quantile_cont."
    ),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = coorder_part_edges(spark, sf_dir)
    return kcore_peel(und)


def _histogram_percentile_floor(hist: list[tuple[int, int]], pct: float) -> int:
    """floor(quantile_cont(pct)) over a (value, count) histogram.

    Exactly DuckDB's quantile_cont / Spark's percentile(): with the n values
    sorted ascending, h = (n-1)*pct, result = x[floor(h)] + (h - floor(h)) *
    (x[floor(h)+1] - x[floor(h)]) — evaluated in IEEE doubles here just as
    both engines evaluate it, then floored. Empty histogram → 0 (a K of 0
    peels nothing, matching the oracle's empty output on an empty edge set —
    previously this raised TypeError on the NULL percentile; ADVICE r03)."""
    import math

    buckets = sorted(hist)
    n = sum(c for _, c in buckets)
    if n == 0:
        return 0
    h = (n - 1) * pct
    i = math.floor(h)
    frac = h - i

    def value_at(idx: int) -> int:
        cum = 0
        for d, c in buckets:
            cum += c
            if idx < cum:
                return d
        return buckets[-1][0]

    lo = value_at(i)
    hi = value_at(i + 1) if frac > 0.0 else lo
    return math.floor(lo + frac * (hi - lo))


def kcore_peel(
    und: DataFrame, pct: float = KCORE_PCT, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Peel ``und(a, b)`` (distinct undirected edges) → (part_id, deg).

    Scale notes: the edge cut persists per round (each round's set feeds a
    degree aggregate AND the next round's two semi-joins — no cross-branch
    CSE) and shrinks monotonically; K is derived from the degree histogram
    (driver collect bounded by the distinct-degree count, ≤ max degree) and
    inlined as a literal so every round's filter is a plain predicate, not
    a join against a 1-row table.
    """
    from pyspark.sql import functions as F

    # Each round's edge set feeds the NEXT round TWICE (the degree-aggregate
    # branch that decides who survives AND the semi-join input) — the BFS/CC
    # replay trap: without cutting lineage per round the plan re-derives
    # every prior round 2x per branch. localCheckpoint (eager) materializes
    # the shrinking edge cut and truncates the plan, exactly as in
    # bfs_distances / the CC fixpoint (measured here: 46s -> seconds at
    # sf0.001).
    e = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # K from the DEGREE HISTOGRAM, not an ungrouped exact percentile: Spark's
    # percentile() buffers every input value in one aggregation state, so at
    # billions of nodes the final merge holds the whole degree column on one
    # reducer. groupBy(deg).count() is a map-side-combining hash aggregate
    # whose output is bounded by the number of DISTINCT degree values (≤ max
    # degree, empirically O(sqrt(E)) under skewed graphs) — that bounded
    # histogram comes to the driver and the exact quantile_cont interpolation
    # runs here in the same IEEE-double arithmetic both engines use, so K is
    # bit-identical to DuckDB's floor(quantile_cont(deg, pct)).
    k = _histogram_percentile_floor(
        [(r["deg"], r["n"]) for r in
         deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n")).collect()],
        pct,
    )
    for rd in range(rounds):
        alive = deg.where(F.col("deg") >= k).select("u")
        e = (
            e.join(alive, "u", "semi")
            .join(alive.withColumnRenamed("u", "v"), "v", "semi")
            .select("u", "v")
        )
        # Each round's edge cut feeds the NEXT round twice (its degree
        # aggregate decides who survives AND it is the semi-join input) —
        # checkpoint it. The LAST round's cut feeds only the returned
        # degree aggregate, evaluated once: no checkpoint there (the
        # graph_khop last-delta rule), which skips one materialization of
        # the loop's biggest dataset.
        if rd < rounds - 1:
            e = e.localCheckpoint()
        deg = e.groupBy("u").agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        )
    return deg.select(F.col("u").alias("part_id"), "deg")
