"""KG fusion & training-data operators (round 4, second wave): the
construction-side refinement steps between "triples extracted" and "KG
published" — truth discovery over conflicting assertions, negative sampling
for KG-embedding training, and the clustering-coefficient diagnostic.

All three are exact-integer / string operators (no floats anywhere), so
every oracle is a full value-hash check.

Scale notes (graded per op in the docstrings):
- kg_fusion is two hash-aggregates over the pre-dedup triple stream; the
  rank-1-per-(subj,pred) step uses the repo's string-encoded min pattern
  (zero-padded inverted support + \\x01 + obj) so it map-side combines
  instead of sorting whole partitions under a window.
- kg_negsample never shuffles the triple stream: the entity vocabulary is
  indexed once (vocab-bounded) and both index joins broadcast.
- graph_clustercoef reuses the degree-oriented triangle machinery
  (O(sqrt(E))-bounded wedge join) plus one vocab-sized left join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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

# ----------------------------------------------------------------- fusion
# Inverted-support encode width: support is a BIGINT occurrence count, far
# below 1e12 at any corpus scale that fits a cluster (1e12 triples of ONE
# (subj,pred,obj) value). 12 zero-padded digits keep the lexicographic
# order of (999999999999 - support) equal to descending numeric support.
FUSION_PAD = 12
_FUSION_INV = 999_999_999_999


@register(
    "kg_fusion",
    sql=_TRIPLES_PREFIX + """,
    sup AS (
      SELECT subj, pred, obj, CAST(count(*) AS BIGINT) AS support
      FROM remapped GROUP BY subj, pred, obj
    )
    SELECT subj, pred, obj, support FROM (
      SELECT *, row_number() OVER (PARTITION BY subj, pred
                                   ORDER BY support DESC, obj) AS rn
      FROM sup)
    WHERE rn = 1
    """,
    doc=(
        "Truth discovery / knowledge fusion — the step every multi-source "
        "KG build runs when extraction emits CONFLICTING assertions: per "
        "(subj, pred), keep the object with the most supporting "
        "occurrences (majority vote over the pre-dedup triple stream), "
        "ties broken by min(obj). Plan: one hash-aggregate to (s,p,o,"
        "support), then the repo's string-encoded min pattern — "
        "zero-padded inverted support + \\x01 + obj — so the rank-1 step "
        "is a map-side-combining aggregate (SortAggregate over a flat "
        "byte compare), NOT a window sort over whole partitions; two "
        "shuffles total, both combining. The oracle recomputes the vote "
        "independently with a row_number window, so the hash proves the "
        "encoding round-trips."
    ),
)
def kg_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    rem = pipeline_ops.remapped_triples(spark, sf_dir)
    return fuse_triples(rem)


def fuse_triples(rem: DataFrame) -> DataFrame:
    """Majority-vote object per (subj, pred) over per-occurrence triples
    ``rem(subj, pred, obj, ...)`` → (subj, pred, obj, support); ties break
    to min(obj). Exact on a hand fixture in tests/test_kgfuse.py."""
    sup = rem.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).cast("bigint").alias("support")
    )
    enc = F.concat(
        F.lpad((F.lit(_FUSION_INV) - F.col("support")).cast("string"),
               FUSION_PAD, "0"),
        F.lit("\x01"),
        F.col("obj"),
    )
    best = sup.select("subj", "pred", enc.alias("enc")).groupBy(
        "subj", "pred"
    ).agg(F.min("enc").alias("enc"))
    return best.select(
        "subj",
        "pred",
        F.expr(f"substring(enc, {FUSION_PAD + 2})").alias("obj"),
        (
            F.lit(_FUSION_INV)
            - F.substring("enc", 1, FUSION_PAD).cast("bigint")
        ).alias("support"),
    )


# -------------------------------------------------------------- negsample
# 8 md5 nibbles -> a 32-bit probe value (same strpos digit arithmetic both
# engines; fits BIGINT with headroom).
_NEG_HASH_SQL = "(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(subj || '|' || pred || '|' || obj),"
    f" {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
) + ")"


@register(
    "kg_negsample",
    sql=_TRIPLES_PREFIX + f""",
    rel AS MATERIALIZED (
      SELECT subj, pred, obj FROM final_triples WHERE pred <> 'resolved_as'
    ),
    ents AS MATERIALIZED (
      SELECT ent, row_number() OVER (ORDER BY ent) - 1 AS idx
      FROM (SELECT subj AS ent FROM rel UNION SELECT obj FROM rel)
    ),
    nn AS (SELECT count(*) AS n FROM ents),
    probe AS (
      SELECT r.subj, r.pred, r.obj, {_NEG_HASH_SQL} % nn.n AS raw, nn.n AS n
      FROM rel r CROSS JOIN nn
    )
    SELECT p.subj, p.pred, p.obj,
           CASE WHEN e1.ent = p.obj THEN e2.ent ELSE e1.ent END AS neg_obj
    FROM probe p
    JOIN ents e1 ON e1.idx = p.raw
    JOIN ents e2 ON e2.idx = (p.raw + 1) % p.n
    """,
    doc=(
        "Deterministic negative sampling for KG-embedding training "
        "(TransE-style tail corruption): each relation triple gets a "
        "corrupted object drawn by md5(s|p|o) mod |entities| from the "
        "entity vocabulary, stepping to the next index when the draw hits "
        "the true object. Re-runs on a FIXED corpus reproduce the exact "
        "training set (the property rand() corruption lacks); note the "
        "draw is mod |entities|, so vocabulary growth changes the modulus "
        "and reshuffles negatives — determinism is per-corpus, not "
        "append-stable. Plan: the triple stream NEVER "
        "shuffles — the probe is a per-row expression and both index "
        "lookups are broadcast joins against the entity vocabulary "
        "(vocab-bounded: 1:1 with distinct qualifying dictionary tokens, "
        "orders of magnitude below corpus size; a vocabulary too big to "
        "index with one window would switch to sort-based dense ids, same "
        "semantics). Exact: the md5-digit probe is the same strpos "
        "arithmetic in both engines."
    ),
)
def kg_negsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = pipeline_ops.pipe_triples(spark, sf_dir)
    rel = tri.where(F.col("pred") != "resolved_as").select("subj", "pred", "obj")
    return negative_samples(rel)


def negative_samples(rel: DataFrame) -> DataFrame:
    """Tail-corrupted negatives over ``rel(subj, pred, obj)`` →
    (subj, pred, obj, neg_obj). Deterministic md5 draw; semantics pinned on
    a hand fixture in tests/test_kgfuse.py."""
    ents = (
        rel.select(F.col("subj").alias("ent"))
        .union(rel.select(F.col("obj").alias("ent")))
        .distinct()
    )
    # Global row_number over the ENTITY VOCABULARY (not the corpus) — the
    # single-partition sort is vocab-bounded by construction; see docstring.
    idx = ents.select(
        "ent",
        (F.row_number().over(Window.orderBy("ent")) - 1).alias("idx"),
    )
    n1 = ents.agg(F.count(F.lit(1)).alias("n"))
    probe = rel.crossJoin(F.broadcast(n1)).withColumn(
        "raw",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "subj", "pred", "obj")), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % F.col("n"),
    )
    e1 = F.broadcast(idx.select(F.col("ent").alias("e1"), F.col("idx").alias("i1")))
    e2 = F.broadcast(idx.select(F.col("ent").alias("e2"), F.col("idx").alias("i2")))
    return (
        probe.join(e1, probe.raw == F.col("i1"))
        .join(e2, ((probe.raw + 1) % probe.n) == F.col("i2"))
        .select(
            "subj",
            "pred",
            "obj",
            F.when(F.col("e1") == F.col("obj"), F.col("e2"))
            .otherwise(F.col("e1"))
            .alias("neg_obj"),
        )
    )


# ---------------------------------------------------------- clustering coef
# The oriented-triangle CTEs mirror graph_triangles' oracle (graph.py) —
# duplicated rather than hoisted so graph_triangles' registered SQL string
# (and with it every past-window fingerprint) stays byte-identical.
_TRI_CTES = """,
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
    ),
    tri_counts AS (
      SELECT node_id, CAST(count(*) AS BIGINT) AS triangles
      FROM (SELECT x AS node_id FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY node_id
    )
"""


@register(
    "graph_clustercoef",
    sql=graph._GRAPH_SQL_PREFIX + _TRI_CTES + """
    SELECT d.node AS node_id, d.deg,
           coalesce(t.triangles, 0) AS triangles,
           CAST(CASE WHEN d.deg >= 2
                THEN (2000 * coalesce(t.triangles, 0)) // (d.deg * (d.deg - 1))
                ELSE 0 END AS BIGINT) AS lcc_x1000
    FROM g_deg d LEFT JOIN tri_counts t ON d.node = t.node_id
    """,
    doc=(
        "Local clustering coefficient per node — triangles / (deg choose "
        "2) in integer fixed-point ((2000 * tri) DIV (deg * (deg - 1)), "
        "exact in both engines) — the standard community-structure "
        "diagnostic over the canonical entity graph. Reuses the "
        "degree-oriented triangle enumeration (oriented out-degree is "
        "O(sqrt(E))-bounded, survives power-law hubs) plus ONE "
        "vocab-sized left join of the degree table against the triangle "
        "counts; adds no pass over the corpus beyond graph_triangles "
        "itself."
    ),
)
def graph_clustercoef(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering_coefficients(graph.undirected_entity_edges(spark, sf_dir))


def clustering_coefficients(und: DataFrame) -> DataFrame:
    """Per-node (node_id, deg, triangles, lcc_x1000) over undirected edges
    ``und(a, b)`` with a < b; semantics pinned on a triangle-plus-pendant
    fixture in tests/test_kgfuse.py."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    tri = graph.triangle_counts(und)
    return deg.join(
        tri.withColumnRenamed("node_id", "node"), "node", "left"
    ).select(
        F.col("node").alias("node_id"),
        "deg",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        F.expr(
            "CAST(CASE WHEN deg >= 2 THEN (2000 * coalesce(triangles, 0))"
            " DIV (deg * (deg - 1)) ELSE 0 END AS BIGINT)"
        ).alias("lcc_x1000"),
    )
