"""Stage C — canonicalization: connected components over same-as xref edges
via iterative DataFrame min-label propagation (SURVEY.md §2.A A7, §4.3).

The reference merges items sharing an xref; the batch equivalent is the
connected components of the same-as graph, with the canonical id = minimum
entity id of each component (deterministic, matches the bot's first-win
merge direction).

Algorithm: min-label propagation with POINTER JUMPING — each iteration does
(1) a neighbor-min step (labels flow across edges) and (2) a shortcut step
(label ← label-of-label), which contracts label chains geometrically, so a
path of length d converges in O(log d) iterations instead of O(d). Each
iteration `localCheckpoint`s to truncate lineage (Catalyst has no recursion;
an unchecked loop rebuilds an exponentially deep plan, SURVEY.md §4.3).

Convergence check: does any label differ from the previous iteration's —
a limit(1) probe, not a full diff. Both fixpoints raise NotConverged at
their round cap rather than return a map that may still be wrong.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class NotConverged(RuntimeError):
    """A fixpoint loop reached its round cap while still changing."""


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 40
) -> DataFrame:
    """edges(src, dst) undirected → (node:string, component:string).

    component = min node id (lexicographic) reachable from the node.
    Isolated nodes don't appear in `edges`; callers union them back
    (see canonical_map).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    bidir = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    bidir = bidir.repartition("a").localCheckpoint(eager=True)

    labels = (
        bidir.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for it in range(max_iter):
        # (1) neighbor-min: every node learns the smallest label adjacent to it
        nbr = (
            bidir.join(labels, bidir.a == labels.node)
            .select(F.col("b").alias("node"), "label")
        )
        new = (
            labels.select("node", "label")
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # (2) pointer jumping: label ← label(label), contracting chains
        lmap = new.select(F.col("node").alias("l_node"), F.col("label").alias("l_label"))
        new = (
            new.join(lmap, new.label == lmap.l_node, "left")
            .select("node", F.coalesce("l_label", "label").alias("label"))
        )
        old, labels = labels, new.localCheckpoint(eager=True)
        # convergence check every 2nd round: pointer jumping converges in
        # O(log d) rounds, so a stale check costs at most one extra cheap
        # iteration while halving the count-job overhead of the loop
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                labels.alias("n")
                .join(old.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
    else:
        raise NotConverged(
            f"connected_components: labels still changing after {max_iter} iterations"
        )
    return labels.select("node", F.col("label").alias("component"))


def canonical_map(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """All entities → (entity_id, canonical_id); isolated entities map to self.

    Components come from large-star/small-star contraction — benched 1.57×
    faster than pointer-jumping label propagation at 4M edges (the gap grows
    with scale because the star working set contracts each round).
    """
    cc = connected_components_star(edges)
    ent = entities.select("entity_id").distinct()
    return ent.join(cc, ent.entity_id == cc.node, "left").select(
        "entity_id", F.coalesce("component", "entity_id").alias("canonical_id")
    )


# The same-as graph is ENTITY-bounded: even a 10^12-turn corpus links against
# a dictionary of at most ~10^7–10^8 entities, so the edge set usually fits
# the driver comfortably while the iterative DataFrame fixpoint pays
# O(iterations) shuffle rounds no matter how small the graph is. Below this
# threshold a driver-side union-find (seconds, exact) wins outright; above
# it the distributed label propagation takes over. Both produce the
# identical min-label component map (asserted in tests/test_canon.py).
DRIVER_CC_MAX_EDGES = 2_000_000


def canonical_map_auto(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """canonical_map with a size-adaptive strategy (see DRIVER_CC_MAX_EDGES)."""
    # ONE job decides strategy AND fetches the edges: pull at most MAX+1
    # rows via Arrow. If the limit is hit, the pull is discarded and the
    # distributed path runs (a separate count-then-fetch costs two jobs on
    # the common small-graph path, and job overhead dominates at this size).
    epdf = edges.select("src", "dst").limit(DRIVER_CC_MAX_EDGES + 1).toPandas()
    if len(epdf) > DRIVER_CC_MAX_EDGES:
        return canonical_map(entities, edges)

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        # Iterative find + path compression: a recursive version blows
        # Python's ~1000-frame recursion limit on long parent chains (e.g.
        # same-as edges arriving in descending order), and a 2M-edge input
        # can legally produce such chains.
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(epdf["src"].to_numpy(), epdf["dst"].to_numpy()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict[str, str] = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    ent = entities.select("entity_id").distinct()
    if not parent:
        return ent.select("entity_id", F.col("entity_id").alias("canonical_id"))
    # from pandas, so Arrow carries it into the JVM: a list of tuples is
    # pickled through a PythonRDD that starts Python workers to read it
    cc = entities.sparkSession.createDataFrame(
        pd.DataFrame({"node": list(parent),
                      "component": [comp_min[find(node)] for node in parent]}),
        "node string, component string",
    )
    return ent.join(F.broadcast(cc), ent.entity_id == cc.node, "left").select(
        "entity_id", F.coalesce("component", "entity_id").alias("canonical_id")
    )


def remap_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical map (two broadcast joins).

    obj values that are literals (CURIEs etc.) pass through unchanged — only
    ids present in the canonical map are rewritten.
    """
    cm = F.broadcast(canon)
    s = cm.select(F.col("entity_id").alias("s_id"), F.col("canonical_id").alias("s_canon"))
    o = cm.select(F.col("entity_id").alias("o_id"), F.col("canonical_id").alias("o_canon"))
    return (
        triples.join(s, triples.subj == s.s_id, "left")
        .join(o, triples.obj == o.o_id, "left")
        .withColumn("subj", F.coalesce("s_canon", "subj"))
        .withColumn("obj", F.coalesce("o_canon", "obj"))
        .drop("s_id", "s_canon", "o_id", "o_canon")
    )


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 20
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (two-phase min-label contraction, cf. the MapReduce CC literature):

    - large-star: every node attaches its LARGER neighbors to the minimum of
      its neighborhood (including itself);
    - small-star: edges oriented max→min; every node attaches its smaller
      neighbors (and itself) to the neighborhood minimum.

    Each round is 2 groupBy-join passes over the current edge set, which
    CONTRACTS geometrically — unlike plain label propagation the working set
    shrinks as stars collapse, so later rounds are nearly free. Converges
    when a round leaves the edge set unchanged (a fixed star forest); roots
    map to themselves. Raises NotConverged if round ``max_rounds`` still
    changed it.
    Produces the identical (node → min-of-component) map as
    connected_components (equality-tested in tests/test_canon.py).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(ed: DataFrame) -> DataFrame:
        nbrs = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        # orient max -> min
        o = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = o.groupBy("u").agg(F.min("v").alias("m"))
        attach_small = (
            o.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        attach_self = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            attach_small.unionByName(attach_self)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    cur = e
    for _ in range(max_rounds):
        prev, cur = cur, small_star(large_star(cur)).localCheckpoint(eager=True)
        # both are distinct edge sets, so an edge seen once in their union
        # is in exactly one of them: none means the round changed nothing
        changed = (
            cur.unionByName(prev)
            .groupBy("u", "v")
            .count()
            .where(F.col("count") == 1)
            .limit(1)
            .count()
        )
        if changed == 0:
            break
    else:
        raise NotConverged(
            f"connected_components_star: edges still changing after {max_rounds} rounds"
        )

    roots = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return all_nodes.join(roots, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
