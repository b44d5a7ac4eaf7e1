"""KG-embedding prep + schema diagnostics (round 4, fourth wave): the ops
between "KG materialized" and "embedding model trained" — deterministic
random-walk corpus generation (the DeepWalk/node2vec input), predicate
co-occurrence statistics (schema induction), and entity-resolution merge
rates (canonicalization QA).

All three are exact string/BIGINT operators, so every oracle is a full
value-hash check.

Scale notes (graded per op in the docstrings):
- graph_randwalk indexes each node's neighbor list once (one partitioned
  window over the symmetrized edge set — per-node partitions, never
  global) and then each walk step is two equi-joins sized by the WALKER
  count, not the edge count. O(WALK_LEN) shuffles of the walker set.
- kg_predstats self-joins per-subject DISTINCT predicates — fan-out is
  bounded by the PREDICATE VOCABULARY (a schema-sized constant), never by
  subject popularity.
- kg_mergestats is one vocab-sized join + one combining aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge import corpus
from kgforge.ops import _util, graph, pipeline_ops
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

# ------------------------------------------------------------ random walks
WALK_LEN = 3  # steps per walk (one walk per graph node)


def _hash8_sql(expr: str) -> str:
    """First 8 md5 nibbles of ``expr`` as a BIGINT — the same strpos digit
    arithmetic as kg_negsample's probe, proven cross-engine there."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"


def _walk_step_sql(prev: str, nxt: str, t: int) -> str:
    probe = _hash8_sql(f"w.cur || '|{t}'")
    return f"""
    {nxt} AS (
      SELECT w.start, i.v AS cur, w.path || '>' || i.v AS path
      FROM {prev} w
      JOIN g_deg d ON d.node = w.cur
      JOIN idx i ON i.u = w.cur AND i.rnk = {probe} % d.deg
    )"""


_WALK_SQL = (
    graph._GRAPH_SQL_PREFIX
    + """,
    idx AS MATERIALIZED (
      SELECT u, v,
             CAST(row_number() OVER (PARTITION BY u ORDER BY v) - 1
                  AS BIGINT) AS rnk
      FROM adj2
    ),
    w0 AS (SELECT DISTINCT u AS start, u AS cur, u AS path FROM adj2)"""
    + "".join("," + _walk_step_sql(f"w{t - 1}", f"w{t}", t) for t in range(1, WALK_LEN + 1))
    + f"""
    SELECT start, path, cur AS end_node FROM w{WALK_LEN}
    """
)


@register(
    "graph_randwalk",
    sql=_WALK_SQL,
    doc=(
        "Deterministic random-walk corpus generation — the DeepWalk/"
        f"node2vec input: one {WALK_LEN}-step walk per node of the "
        "undirected entity graph, where step t from node v moves to "
        "neighbor rank md5(v|t) mod deg(v) in the sorted neighbor list. "
        "Re-runs reproduce the exact walk corpus (the property rand() "
        "walks lack) and the oracle recomputes every step independently, "
        "so the hash proves the sampler. Plan: the neighbor index is ONE "
        "partitioned window over the symmetrized edge cut (per-node "
        "partitions — never a global sort) + a degree aggregate, both "
        "persisted; each unrolled step is two equi-joins sized by the "
        "WALKER set (|V| rows), not the edge set — O(WALK_LEN) walker "
        "shuffles total. Hub skew bounds: a hub's neighbor list sorts "
        "once in its own partition; walkers AT the hub are one row each."
    ),
)
def graph_randwalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = graph.undirected_entity_edges(spark, sf_dir)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    return walk_paths(adj)


def walk_paths(adj: DataFrame, steps: int = WALK_LEN) -> DataFrame:
    """Symmetrized distinct ``adj(u, v)`` → (start, path, end_node), one
    deterministic ``steps``-step walk per node. Semantics pinned on a hand
    fixture in tests/test_kgembed.py."""
    w = Window.partitionBy("u").orderBy("v")
    # localCheckpoint, not persist: the unrolled walk references idx/deg in
    # SIX join branches, and persist truncates execution but not ANALYSIS —
    # each reference would re-embed the full upstream dataflow subtree in
    # the logical plan and optimizer time explodes (the graph_bfs lineage
    # fix, 88 s → 8 s; measured 39 s → ~3 s here).
    idx = adj.select(
        "u",
        "v",
        (F.row_number().over(w) - 1).cast("bigint").alias("rnk"),
    ).localCheckpoint()
    deg = idx.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    walk = idx.select(F.col("u").alias("start")).distinct().select(
        "start", F.col("start").alias("cur"), F.col("start").alias("path")
    )
    for t in range(1, steps + 1):
        probe = F.conv(
            F.substring(
                F.md5(F.concat(F.col("cur"), F.lit(f"|{t}"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        stepped = (
            walk.join(deg, walk.cur == deg.u)
            .select("start", "path", "cur", (probe % F.col("deg")).alias("r"))
            .join(idx, (F.col("cur") == idx.u) & (F.col("r") == idx.rnk))
            .select(
                "start",
                F.col("v").alias("cur"),
                F.concat("path", F.lit(">"), F.col("v")).alias("path"),
            )
        )
        walk = stepped
    return walk.select("start", "path", F.col("cur").alias("end_node"))


# --------------------------------------------------- predicate co-occurrence


@register(
    "kg_predstats",
    sql=_TRIPLES_PREFIX + """,
    ps AS MATERIALIZED (
      SELECT DISTINCT subj, pred FROM final_triples
    )
    SELECT a.pred AS pred_a, b.pred AS pred_b,
           CAST(count(*) AS BIGINT) AS n_subjects
    FROM ps a JOIN ps b ON a.subj = b.subj AND a.pred < b.pred
    GROUP BY a.pred, b.pred
    """,
    doc=(
        "Predicate co-occurrence statistics — the schema-induction "
        "primitive: for each unordered predicate pair, how many subjects "
        "assert both (the signal ontology builders use to propose "
        "domain/type groupings). Plan: one distinct aggregate to "
        "(subj, pred), then a self-join on subj whose fan-out is bounded "
        "by the PREDICATE VOCABULARY per subject (a schema-sized "
        "constant, not a popularity-sized one), then one combining "
        "aggregate on the pair — the same shape at any corpus scale."
    ),
)
def kg_predstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pred_cooccurrence persists its (subj, pred) cut; a session cut so
    # repeated calls reuse it (ADVICE r04)
    return _util.session_memo(
        spark, sf_dir, "pred_cooccurrence",
        lambda: pred_cooccurrence(pipeline_ops.pipe_triples(spark, sf_dir)),
    )


def pred_cooccurrence(tri: DataFrame) -> DataFrame:
    """triples(subj, pred, ...) → (pred_a, pred_b, n_subjects) over
    unordered predicate pairs sharing a subject."""
    ps = tri.select("subj", "pred").distinct().persist()
    a = ps.select(F.col("subj").alias("s"), F.col("pred").alias("pred_a"))
    b = ps.select(F.col("subj").alias("s"), F.col("pred").alias("pred_b"))
    return (
        a.join(b, "s")
        .where(F.col("pred_a") < F.col("pred_b"))
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_subjects"))
    )


# ------------------------------------------------ relation-property matrix


@register(
    "kg_relprops",
    sql=_TRIPLES_PREFIX + """,
    rel AS MATERIALIZED (
      SELECT DISTINCT subj, pred, obj FROM final_triples
      WHERE pred <> 'resolved_as'
    )
    SELECT r.pred AS pred_a, s.pred AS pred_b,
           CAST(count(*) AS BIGINT) AS n_reversed
    FROM rel r JOIN rel s ON s.subj = r.obj AND s.obj = r.subj
    GROUP BY r.pred, s.pred
    """,
    doc=(
        "Relation-property detection — the ontology-induction matrix: for "
        "each predicate pair (p, q), how many edges p(a,b) have a "
        "reversed counterpart q(b,a). The diagonal measures SYMMETRY "
        "(p(a,b) ∧ p(b,a)), off-diagonal cells are INVERSE-OF candidates "
        "— the two relation properties a KG schema curator asserts from "
        "data. Plan: one distinct aggregate to the relation set, then a "
        "single self-equi-join on the REVERSED node pair (both sides "
        "shuffle on (subj,obj)/(obj,subj) — edge-sized, exact keys, no "
        "wedge fan-out because the join key is the full node pair), then "
        "one combining aggregate on the schema-sized pred pair."
    ),
)
def kg_relprops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # relation_properties persists the distinct relation set; a session
    # cut so repeated calls reuse it (ADVICE r04)
    return _util.session_memo(
        spark, sf_dir, "relation_properties",
        lambda: relation_properties(pipeline_ops.pipe_triples(spark, sf_dir)),
    )


def relation_properties(tri: DataFrame) -> DataFrame:
    """triples(subj, pred, obj, ...) → (pred_a, pred_b, n_reversed) over
    the distinct non-xref relation set. Symmetric pairs are counted from
    both directions (a diagonal cell is even), pinned on a hand fixture in
    tests/test_kgembed.py."""
    rel = (
        tri.where(F.col("pred") != "resolved_as")
        .select("subj", "pred", "obj")
        .distinct()
        .persist()
    )
    r = rel.select(
        F.col("subj").alias("ra"), F.col("pred").alias("pred_a"),
        F.col("obj").alias("rb"),
    )
    s = rel.select(
        F.col("obj").alias("ra"), F.col("pred").alias("pred_b"),
        F.col("subj").alias("rb"),
    )
    return (
        r.join(s, ["ra", "rb"])
        .groupBy("pred_a", "pred_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_reversed"))
    )


# ----------------------------------------------------------- merge rates


@register(
    "kg_mergestats",
    sql=corpus.TRANSCRIPTS_SQL
    + ",\n"
    + corpus.DICTIONARY_SQL
    + ",\n"
    + corpus.CANONICAL_SQL
    + f"""
    SELECT substring(d.surface, 1, {corpus.PREFIX_LEN}) AS prefix,
           CAST(count(*) AS BIGINT) AS n_entities,
           CAST(count(*) FILTER (WHERE c.canonical_id <> d.entity_id)
                AS BIGINT) AS n_merged
    FROM dictionary d JOIN canonical c ON d.entity_id = c.entity_id
    GROUP BY substring(d.surface, 1, {corpus.PREFIX_LEN})
    """,
    doc=(
        "Entity-resolution merge-rate diagnostics — canonicalization QA: "
        "per xref blocking group (the 4-char surface prefix), how many "
        "entities exist and how many were merged into another canonical "
        "id. The ER engineer's dashboard numbers (merge rate by block; a "
        "block with rate ≈ 1 is over-merging, ≈ 0 under-merging). Plan: "
        "one vocab-sized equi-join (dictionary × canonical map — both "
        "entity-vocabulary-bounded, orders below corpus size) + one "
        "combining aggregate on the prefix. The oracle derives the "
        "canonical id via the independent window-min-per-prefix CTE, so "
        "the hash also re-proves canonical_map_auto == the closed form "
        "on star xref edges."
    ),
)
def kg_mergestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = corpus.derive_dictionary(spark, sf_dir)
    cmap = corpus.derive_canonical_map(spark, sf_dir)
    return merge_stats(d, cmap)


def merge_stats(dictionary: DataFrame, cmap: DataFrame) -> DataFrame:
    """dictionary(surface, entity_id, ...) × cmap(entity_id, canonical_id)
    → per-prefix (prefix, n_entities, n_merged)."""
    j = dictionary.select("surface", "entity_id").join(cmap, "entity_id")
    merged = F.col("canonical_id") != F.col("entity_id")
    return (
        j.groupBy(
            F.substring("surface", 1, corpus.PREFIX_LEN).alias("prefix")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_entities"),
            F.sum(merged.cast("long")).cast("bigint").alias("n_merged"),
        )
    )
