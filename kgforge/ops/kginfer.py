"""KG inference + training-data refinement operators (round 5): the final
construction-side pane — seed-bounded k-hop neighborhood extraction (the
GNN subgraph-sampling primitive), per-entity predicate-role typing (schema
induction), temporal snapshot diffing, exact-quota stratified sampling, and
deterministic preference-pair mining for reward-model training.

All five are exact-integer / string operators (no floats anywhere), so
every oracle is a full value-hash check.

Scale notes (graded per op in the docstrings):
- graph_khop is SEMI-NAIVE: each hop joins only the last hop's DELTA
  against the adjacency (the Datalog evaluation strategy), never the full
  closure, with per-hop localCheckpoint cutting the doubling lineage; the
  oracle is the naive unrolled closure, so the hash proves semi-naive ==
  naive. Seeds bound the output — the unseeded closure is Theta(V^2) on a
  small-world graph (measured in-repo) and is deliberately NOT offered.
- kg_typing is two combining aggregates whose intermediate is bounded by
  |entities| x |predicate vocabulary| x 2 (schema-sized fan-out, not
  popularity-sized).
- kg_temporal_diff reuses the as-of machinery at two cutoffs over the ONE
  memoized per-occurrence triple cut; the diff join keys on (subj, pred) —
  KG-sized, not corpus-sized.
- sample_stratified is one per-stratum ranking window (the topk_group
  shape); partition skew is bounded by the largest stratum.
- pair_preference never shuffles the pair stream: the response pool is
  indexed once (pool-bounded) and both index lookups broadcast, exactly
  the kg_negsample plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge import corpus
from kgforge.ops import _util, convo, graph, kgfuse, pipeline_ops
from kgforge.registry import register
from kgforge.tables import load

# ------------------------------------------------ k-hop neighborhoods
# The GNN-training sampling primitive (GraphSAGE-style): the exact K-hop
# neighborhood (with min-hop distances) around each seed node. Seeds bound
# the OUTPUT (<= |seeds| x reachable-in-K), which is the honest scale dial —
# an UNSEEDED K-hop closure on a small-world graph is Theta(V^2) output
# (measured: the sf0.01 co-order graph's full 3-hop closure is 1 999 000
# pairs == the complete graph on its 2000 nodes) and vacuous on the
# synthetic ENTITY graph (complete at driver scale, closure == edge set —
# the graph_jaccard precedent), so this op runs on the co-order parts
# graph from a deterministic seed set.
KHOP_SEEDS = 24
KHOP_HOPS = 3

# khop_neighborhoods and preference_pairs persist a cut per call; both
# keys are session cuts (_util.session_memo) so repeated invocations reuse
# the first call's cut instead of stacking one cached copy per call
# (ADVICE r05)


@register(
    "graph_khop",
    sql="WITH " + graph._BASKET_CTE + f""",
    seeds AS MATERIALIZED (
      SELECT node FROM g_deg ORDER BY node LIMIT {KHOP_SEEDS}
    ),
    d1 AS MATERIALIZED (
      SELECT s.node AS seed, a.v AS dst FROM seeds s JOIN adj2 a ON a.u = s.node
    ),
    d2 AS MATERIALIZED (
      SELECT DISTINCT d.seed, a.v AS dst
      FROM d1 d JOIN adj2 a ON d.dst = a.u WHERE a.v <> d.seed
    ),
    d3 AS (
      SELECT DISTINCT d.seed, a.v AS dst
      FROM d2 d JOIN adj2 a ON d.dst = a.u WHERE a.v <> d.seed
    ),
    allp AS (
      SELECT seed, dst, 1 AS hops FROM d1
      UNION ALL SELECT seed, dst, 2 FROM d2
      UNION ALL SELECT seed, dst, 3 FROM d3
    )
    SELECT seed, dst, CAST(min(hops) AS BIGINT) AS hops
    FROM allp GROUP BY seed, dst
    """,
    doc=(
        "Exact K-hop neighborhood extraction — the subgraph-sampling "
        "primitive GNN training (GraphSAGE / PinSAGE-style) runs per "
        f"batch: min-hop distances to every node within {KHOP_HOPS} hops "
        f"of each of the {KHOP_SEEDS} lexicographically-first seed nodes "
        "on the co-order parts graph. Plan: SEMI-NAIVE evaluation — each "
        "hop joins only the LAST hop's DELTA (new (seed, dst) pairs) "
        "against the adjacency, anti-joins the known set, and "
        "localCheckpoints the delta (the frontier feeds the next join AND "
        "the union; without the cut the plan re-embeds every prior hop 2x "
        "per round — the BFS lineage rule). Per-hop cost is |delta| x "
        "avg-degree and output is bounded by |seeds| x reachable-in-K — "
        "the seed set is the dial that keeps this linear at 100 TB, "
        "because the UNSEEDED closure is Theta(V^2) output on any "
        "small-world graph (measured in-repo). The oracle is the NAIVE "
        "unrolled closure (d2 from full d1, d3 from full d2, min over the "
        "union), so the value hash proves semi-naive == naive. BFS "
        "layering guarantees first-appearance hop == min hop, so the "
        "known set is unique per (seed, dst) by construction."
    ),
)
def graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        und = graph.coorder_part_edges(spark, sf_dir)
        adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        seeds = (
            adj.select(F.col("u").alias("node"))
            .distinct()
            .orderBy("node")
            .limit(KHOP_SEEDS)
        )
        return khop_neighborhoods(adj, seeds)

    return _util.session_memo(spark, sf_dir, "khop", build)


def khop_neighborhoods(
    adj: DataFrame, seeds: DataFrame, hops: int = KHOP_HOPS
) -> DataFrame:
    """Symmetric ``adj(u, v)`` + ``seeds(node)`` → (seed, dst, hops)
    min-hop pairs within ``hops``. Pinned on a path fixture in
    tests/test_kginfer.py."""
    # Persist the adjacency ALREADY partitioned on the join key: every
    # hop joins on u, and a cached DataFrame keeps its outputPartitioning,
    # so each hop's join re-sorts cached partitions instead of re-shuffling
    # the full adjacency per hop (measured 6.1 s → 4.2 s for the 3-hop
    # run at sf0.1 local[32]).
    adj = adj.repartition("u").persist()
    known = (
        seeds.join(adj, seeds.node == adj.u)
        .select(
            F.col("node").alias("seed"),
            F.col("v").alias("dst"),
            F.lit(1).cast("bigint").alias("hops"),
        )
        .localCheckpoint()
    )
    delta = known
    for h in range(2, hops + 1):
        cand = (
            delta.join(adj, delta.dst == adj.u)
            .select("seed", F.col("v").alias("dst"))
            .where(F.col("seed") != F.col("dst"))
            .distinct()
        )
        new = cand.join(known, ["seed", "dst"], "left_anti").select(
            "seed", "dst", F.lit(h).cast("bigint").alias("hops")
        )
        # ONLY the delta is checkpointed, and only while it still feeds a
        # NEXT hop's join (uncut, its lineage doubles per hop — the
        # graph_bfs rule). The known set needs no cut — it is a plain
        # union of already-checkpointed deltas (a shallow h-leaf tree),
        # and checkpointing it too would eagerly materialize the whole
        # closure once per hop. The LAST delta is only unioned, never
        # re-joined: checkpointing it would spend a full materialization
        # job (a whole extra stage at cluster scale) to cut a one-join
        # lineage that the final action evaluates exactly once anyway.
        delta = new.localCheckpoint() if h < hops else new
        known = known.unionAll(delta)
    return known


# ------------------------------------------------------------- role typing
# Inverted-count encode width: per-(entity, pred, role) occurrence counts
# are BIGINT far below 1e12 (12 digits keep lexicographic == numeric-desc).
TYPING_PAD = 12
_TYPING_INV = 999_999_999_999


@register(
    "kg_typing",
    sql=kgfuse._TRIPLES_PREFIX + """,
    rel AS MATERIALIZED (
      SELECT DISTINCT subj, pred, obj FROM final_triples
      WHERE pred <> 'resolved_as'
    ),
    roles AS (
      SELECT subj AS entity, pred, 's' AS role FROM rel
      UNION ALL SELECT obj, pred, 'o' FROM rel
    ),
    cnt AS MATERIALIZED (
      SELECT entity, pred, role, CAST(count(*) AS BIGINT) AS c
      FROM roles GROUP BY entity, pred, role
    ),
    top AS (
      SELECT entity, pred, role,
             row_number() OVER (PARTITION BY entity, role
                                ORDER BY c DESC, pred) AS rn
      FROM cnt
    ),
    agg AS (
      SELECT entity,
             CAST(coalesce(sum(CASE WHEN role = 's' THEN c END), 0)
                  AS BIGINT) AS n_as_subj,
             CAST(coalesce(sum(CASE WHEN role = 'o' THEN c END), 0)
                  AS BIGINT) AS n_as_obj
      FROM cnt GROUP BY entity
    ),
    tops AS (
      SELECT entity,
             coalesce(max(CASE WHEN role = 's' AND rn = 1 THEN pred END),
                      '') AS top_subj_pred,
             coalesce(max(CASE WHEN role = 'o' AND rn = 1 THEN pred END),
                      '') AS top_obj_pred
      FROM top GROUP BY entity
    )
    SELECT a.entity, a.n_as_subj, a.n_as_obj, t.top_subj_pred, t.top_obj_pred
    FROM agg a JOIN tops t USING (entity)
    """,
    doc=(
        "Per-entity predicate-role typing — the schema-induction profile: "
        "for each entity over the distinct non-xref relation set, how "
        "often it appears as subject vs object and WHICH predicate "
        "dominates each role (majority vote, ties to min pred) — the "
        "signature ontology builders cluster into entity types. Plan: one "
        "distinct aggregate to the relation set, one combining count "
        "whose output is bounded by |entities| x |predicate vocabulary| "
        "x 2 (schema-sized), then ONE aggregate producing counts AND "
        "majority predicates together via the repo's string-encoded min "
        "(zero-padded inverted count + \\x01 + pred) — no window over "
        "data-sized partitions anywhere. The oracle recomputes the "
        "majorities with independent row_number windows, so the hash "
        "proves the encoding round-trips. Absent roles surface as "
        "count 0 / '' sentinel (never NULL into concat — the concat_ws "
        "null-drop trap)."
    ),
)
def kg_typing(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = pipeline_ops.pipe_triples(spark, sf_dir)
    return role_typing(tri)


def role_typing(tri: DataFrame) -> DataFrame:
    """triples(subj, pred, obj, ...) → (entity, n_as_subj, n_as_obj,
    top_subj_pred, top_obj_pred) over the distinct non-xref relation set.
    Pinned on a hand fixture in tests/test_kginfer.py."""
    rel = (
        tri.where(F.col("pred") != "resolved_as")
        .select("subj", "pred", "obj")
        .distinct()
    )
    roles = rel.select(
        F.col("subj").alias("entity"), "pred", F.lit("s").alias("role")
    ).unionAll(
        rel.select(F.col("obj").alias("entity"), "pred", F.lit("o").alias("role"))
    )
    cnt = roles.groupBy("entity", "pred", "role").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    enc = F.concat(
        F.lpad((F.lit(_TYPING_INV) - F.col("c")).cast("string"), TYPING_PAD, "0"),
        F.lit("\x01"),
        F.col("pred"),
    )
    s_case = F.when(F.col("role") == "s", F.col("c"))
    o_case = F.when(F.col("role") == "o", F.col("c"))
    prof = cnt.groupBy("entity").agg(
        F.coalesce(F.sum(s_case), F.lit(0)).cast("bigint").alias("n_as_subj"),
        F.coalesce(F.sum(o_case), F.lit(0)).cast("bigint").alias("n_as_obj"),
        F.min(F.when(F.col("role") == "s", enc)).alias("se"),
        F.min(F.when(F.col("role") == "o", enc)).alias("oe"),
    )
    decode = f"substring({{0}}, {TYPING_PAD + 2})"
    return prof.select(
        "entity",
        "n_as_subj",
        "n_as_obj",
        F.coalesce(F.expr(decode.format("se")), F.lit("")).alias("top_subj_pred"),
        F.coalesce(F.expr(decode.format("oe")), F.lit("")).alias("top_obj_pred"),
    )


# -------------------------------------------------------- temporal diff
# Two as-of cutoffs over the turn sequence: T1 = 1/8, T2 = 3/4 (T2 matches
# kg_asof's snapshot). T1 = 1/8 because the entity vocabulary saturates
# early in the derived corpus — at T1 = 1/2 every (subj, pred) key already
# exists and 'added' is VACUOUS at both driver scales (measured); at 1/8
# both statuses occur at sf0.001 AND sf0.01 (pytest-pinned). Later cutoffs
# see a SUPERSET of occurrences, so a (subj, pred) present at T1 is always
# present at T2 — 'removed' cannot occur by construction and the diff
# statuses are 'added' | 'changed'.
DIFF_NUM1, DIFF_DEN1 = 1, 8
DIFF_NUM2, DIFF_DEN2 = 3, 4

# The as-of CTE pattern is duplicated from kg_asof's registered SQL rather
# than hoisted so kg_asof's SQL string (and with it its certified
# fingerprint) stays byte-identical — the graph_clustercoef precedent.
_ASOF_CTE = """
    seq AS MATERIALIZED (
      SELECT subj, pred, obj, m_idx,
             CAST(turn_idx AS BIGINT)
               * greatest(20, (SELECT n_docs FROM nd) // 8)
               + CAST(substr(conv_id, 2) AS BIGINT) AS doc_seq
      FROM remapped
    ),
    t1 AS (
      SELECT subj, pred, obj FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY subj, pred
                 ORDER BY doc_seq DESC, m_idx DESC, obj DESC) AS rn
        FROM seq
        WHERE doc_seq < (SELECT n_docs * {n1} FROM nd) // {d1}
      ) WHERE rn = 1
    ),
    t2 AS (
      SELECT subj, pred, obj FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY subj, pred
                 ORDER BY doc_seq DESC, m_idx DESC, obj DESC) AS rn
        FROM seq
        WHERE doc_seq < (SELECT n_docs * {n2} FROM nd) // {d2}
      ) WHERE rn = 1
    )
""".format(n1=DIFF_NUM1, d1=DIFF_DEN1, n2=DIFF_NUM2, d2=DIFF_DEN2)


@register(
    "kg_temporal_diff",
    sql=kgfuse._TRIPLES_PREFIX + "," + _ASOF_CTE + """
    SELECT t2.subj, t2.pred,
           coalesce(t1.obj, '') AS obj_old, t2.obj AS obj_new,
           CASE WHEN t1.obj IS NULL THEN 'added' ELSE 'changed' END AS status
    FROM t2 LEFT JOIN t1 ON t2.subj = t1.subj AND t2.pred = t1.pred
    WHERE t1.obj IS NULL OR t1.obj <> t2.obj
    """,
    doc=(
        "Temporal KG snapshot diff — 'what did the graph learn between T1 "
        f"and T2': the as-of snapshots at {DIFF_NUM1}/{DIFF_DEN1} and "
        f"{DIFF_NUM2}/{DIFF_DEN2} of the turn sequence, diffed per "
        "(subj, pred) into 'added' (new assertion key) and 'changed' "
        "(latest object moved) — the audit feed a KG publisher reviews "
        "before promoting a snapshot. 'removed' cannot occur by "
        "construction (a later cutoff sees a superset of occurrences). "
        "Plan: BOTH snapshots come from the one memoized per-occurrence "
        "triple cut via the latest-wins string-encoded MAX (map-side "
        "combining, no window), then one (subj, pred)-keyed left join — "
        "KG-sized, not corpus-sized. The oracle recomputes both snapshots "
        "with independent row_number windows."
    ),
)
def kg_temporal_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    rem = pipeline_ops.remapped_triples(spark, sf_dir)
    n_conv = max(20, corpus.n_docs(spark, sf_dir) // 8)
    nd = corpus.n_docs(spark, sf_dir)
    t1 = convo.asof_triples(rem, n_conv, nd * DIFF_NUM1 // DIFF_DEN1)
    t2 = convo.asof_triples(rem, n_conv, nd * DIFF_NUM2 // DIFF_DEN2)
    return snapshot_diff(t1, t2)


def snapshot_diff(t1: DataFrame, t2: DataFrame) -> DataFrame:
    """As-of snapshots (subj, pred, obj, ...) at cutoffs c1 < c2 →
    (subj, pred, obj_old, obj_new, status) with status 'added'|'changed'.
    Pinned on a hand fixture in tests/test_kginfer.py."""
    old = t1.select(
        "subj", "pred", F.col("obj").alias("obj_old_raw")
    )
    new = t2.select("subj", "pred", F.col("obj").alias("obj_new"))
    return (
        new.join(old, ["subj", "pred"], "left")
        .where(
            F.col("obj_old_raw").isNull()
            | (F.col("obj_old_raw") != F.col("obj_new"))
        )
        .select(
            "subj",
            "pred",
            F.coalesce("obj_old_raw", F.lit("")).alias("obj_old"),
            "obj_new",
            F.when(F.col("obj_old_raw").isNull(), F.lit("added"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


# --------------------------------------------------- stratified sampling
STRATA_QUOTA = 3  # docs kept per (lang, source) stratum


@register(
    "sample_stratified",
    sql=f"""
    SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM documents)
    WHERE rk <= {STRATA_QUOTA}
    """,
    doc=(
        "Exact-quota stratified sampling — the training-mixture builder's "
        f"other half: EXACTLY min(|stratum|, {STRATA_QUOTA}) documents "
        "per (lang, source) stratum, chosen by md5(doc_id) rank so the "
        "sample is deterministic, uniform within the stratum, and stable "
        "under re-runs (sample_mixture keeps a deterministic RATE per "
        "source; this keeps a deterministic COUNT per stratum — quota "
        "systems need both). Plan: one ranking window partitioned by the "
        "stratum key (the topk_group shape) — no global sort; partition "
        "skew is bounded by the largest stratum, and at 100 TB a hot "
        "stratum is exactly the salting-or-two-phase-top-k case the repo "
        "already handles for groups (skew.py)."
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "lang", "source",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= STRATA_QUOTA)
    )


# ------------------------------------------------------ preference pairs
# 8 md5 nibbles -> 32-bit probe (same strpos digit arithmetic both engines;
# the kg_negsample pattern applied to the response pool).
_PREF_HASH_SQL = "(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(conv_id || '|' ||"
    f" CAST(turn_idx AS VARCHAR) || '|' || prompt_hash), {i + 1}, 1)) - 1)"
    f" * {16 ** (7 - i)}"
    for i in range(8)
) + ")"


# The SFT-pair CTE pattern is duplicated from pair_sft's registered SQL
# rather than hoisted so pair_sft's SQL string (and its certified
# fingerprint) stays byte-identical — the graph_clustercoef precedent.
_PAIRS_CTE = """
    w AS (
      SELECT conv_id, turn_idx, role, text,
             lead(role, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS r1,
             lead(text, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS t1,
             lead(role, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS r2,
             lead(text, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS t2
      FROM transcripts
    ),
    p AS (
      SELECT conv_id, turn_idx, text,
             CASE WHEN r1 = 'assistant' THEN t1
                  WHEN r1 = 'tool' AND r2 = 'assistant' THEN t2 END AS resp
      FROM w WHERE role = 'user'
    ),
    pairs AS MATERIALIZED (
      SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
             md5(text) AS prompt_hash, md5(resp) AS response_hash,
             CAST(length(string_split(resp, ' ')) AS BIGINT)
               AS response_tokens
      FROM p WHERE resp IS NOT NULL
    )
"""


@register(
    "pair_preference",
    sql=pipeline_ops._PRELUDE + "," + _PAIRS_CTE + f""",
    pool AS MATERIALIZED (
      SELECT response_hash, response_tokens,
             row_number() OVER (ORDER BY response_hash) - 1 AS idx
      FROM (SELECT DISTINCT response_hash, response_tokens FROM pairs)
    ),
    nn AS (SELECT count(*) AS n FROM pool),
    probe AS (
      SELECT p.*, {_PREF_HASH_SQL} % nn.n AS raw, nn.n AS n
      FROM pairs p CROSS JOIN nn
    ),
    sel AS (
      SELECT p.conv_id, p.turn_idx, p.prompt_hash,
             p.response_hash AS chosen_hash,
             p.response_tokens AS chosen_tokens,
             CASE WHEN e1.response_hash = p.response_hash
                  THEN e2.response_hash ELSE e1.response_hash
             END AS rejected_hash,
             CASE WHEN e1.response_hash = p.response_hash
                  THEN e2.response_tokens ELSE e1.response_tokens
             END AS rejected_tokens
      FROM probe p
      JOIN pool e1 ON e1.idx = p.raw
      JOIN pool e2 ON e2.idx = (p.raw + 1) % p.n
    )
    SELECT conv_id, turn_idx, prompt_hash, chosen_hash, chosen_tokens,
           rejected_hash, rejected_tokens
    FROM sel WHERE rejected_hash <> chosen_hash
    """,
    doc=(
        "Deterministic preference-pair mining for reward-model / DPO "
        "training: each SFT (prompt, response) pair becomes (prompt, "
        "chosen = its own response, rejected = a hard negative drawn from "
        "the global response pool by md5(conv|turn|prompt) mod |pool|, "
        "stepping to the next index when the draw hits the chosen "
        "response) — the standard random-negative baseline, made "
        "reproducible. The corpus has no duplicate prompts with distinct "
        "responses at driver scale (the role-cycle arithmetic), so "
        "grouping-by-prompt would be VACUOUS — the draw construction is "
        "non-vacuous at every scale by design. Degenerate 1-response "
        "pools self-filter (rejected == chosen is dropped). Plan: the "
        "pair stream NEVER shuffles beyond pair_sft's one conv window — "
        "the probe is a per-row expression and both index lookups "
        "broadcast against the pool (pool-bounded: distinct responses, "
        "orders below corpus size) — the kg_negsample plan shape. Exact: "
        "the md5-digit probe is the same strpos arithmetic in both "
        "engines."
    ),
)
def pair_preference(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _util.session_memo(
        spark, sf_dir, "preference_pairs",
        lambda: preference_pairs(
            convo.sft_pairs(corpus.derive_transcripts(spark, sf_dir))
        ),
    )


def preference_pairs(pairs: DataFrame) -> DataFrame:
    """SFT pairs (conv_id, turn_idx, prompt_hash, response_hash,
    response_tokens, ...) → preference rows with a deterministic hard
    negative per pair. Pinned on a hand fixture in tests/test_kginfer.py."""
    # Persist the narrow pair cut: it feeds the pool index, the count, and
    # the probe join — three branches, no cross-branch CSE (repo rule).
    pairs = pairs.select(
        "conv_id", "turn_idx", "prompt_hash", "response_hash",
        "response_tokens",
    ).persist()
    pool = pairs.select("response_hash", "response_tokens").distinct()
    # Global row_number over the RESPONSE POOL (not the corpus) — the
    # single-partition sort is pool-bounded by construction; see docstring.
    idx = pool.select(
        "response_hash",
        "response_tokens",
        (F.row_number().over(Window.orderBy("response_hash")) - 1).alias("idx"),
    )
    n1 = pool.agg(F.count(F.lit(1)).alias("n"))
    probe = pairs.crossJoin(F.broadcast(n1)).withColumn(
        "raw",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        "conv_id",
                        F.col("turn_idx").cast("string"),
                        "prompt_hash",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % F.col("n"),
    )
    e1 = F.broadcast(
        idx.select(
            F.col("response_hash").alias("h1"),
            F.col("response_tokens").alias("k1"),
            F.col("idx").alias("i1"),
        )
    )
    e2 = F.broadcast(
        idx.select(
            F.col("response_hash").alias("h2"),
            F.col("response_tokens").alias("k2"),
            F.col("idx").alias("i2"),
        )
    )
    hit = F.col("h1") == F.col("response_hash")
    return (
        probe.join(e1, probe.raw == F.col("i1"))
        .join(e2, ((probe.raw + 1) % probe.n) == F.col("i2"))
        .select(
            "conv_id",
            "turn_idx",
            "prompt_hash",
            F.col("response_hash").alias("chosen_hash"),
            F.col("response_tokens").alias("chosen_tokens"),
            F.when(hit, F.col("h2")).otherwise(F.col("h1")).alias(
                "rejected_hash"
            ),
            F.when(hit, F.col("k2")).otherwise(F.col("k1")).alias(
                "rejected_tokens"
            ),
        )
        .where(F.col("rejected_hash") != F.col("chosen_hash"))
    )
