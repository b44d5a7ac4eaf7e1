#!/usr/bin/env python
"""Regenerate BENCH/PLANS.md — annotated formatted plans for the
plan-critical operators. See that file for the audited properties."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from kgforge.session import get_spark
from kgforge.registry import all_ops

NOTES = {
    "pipe_triples": (
        "Flagship. One matcher Generate (extraction runs ONCE — persist at "
        "the linked cut), broadcast dictionary joins; dedup is a min() aggregate "
        "over the string-encoded provenance — SortAggregate (var-length min "
        "buffers, string or struct, aren't hash-aggregable) but with the "
        "partial/final pair around one Exchange, so duplicates collapse "
        "map-side and no skewed window partition exists (plan-asserted in "
        "tests/test_plans.py)."
    ),
    "udf_mentions": "Extraction alone: scan → Generate posexplode(JVM matcher UDF), no pre-UDF shuffle beyond the salted repartition.",
    "join_salted": "Salted skew join: one Exchange on the salted key; dimension broadcast after salt-explode.",
    "join_bucketed": "Co-located bucketed join: SortMergeJoin with ZERO Exchange nodes.",
    "agg_group": "TPC-H Q1 shape: HashAggregate partial → Exchange → HashAggregate final.",
    "dedup_minhash": "LSH banding: per-row signatures at scan speed; only the band-key self-join shuffles.",
    "scan_project": "PushedFilters + narrow ReadSchema on the scan node.",
    "win_sessionize": (
        "Lag-gap sessionization: ONE Exchange on user_id feeds both Window "
        "nodes AND the final HashAggregate (they share the partitioning — "
        "no second shuffle; the sorts between them are partition-local)."
    ),
    "graph_triangles": (
        "Degree-oriented triangle enumeration: the wedge self-join and the "
        "closing-edge probe join the PERSISTED oriented edge cut "
        "(InMemoryTableScan on both sides — the upstream pipeline runs "
        "once); oriented out-degree bounds wedge fan-out at O(sqrt(|E|))."
    ),
    "sim_lsh_multiprobe": (
        "Multi-probe LSH: the probe explosion (x9 band keys) lives on the "
        "bounded query side UNDER the BroadcastExchange; the corpus band "
        "keys stream through the BroadcastHashJoin — no shuffle of the big "
        "side anywhere in the candidate stage."
    ),
    "graph_triangles_cdc": (
        "Incremental CDC triangles: the changed-edge probe joins read the "
        "PERSISTED nib-tagged edge cut (InMemoryTableScan); the two "
        "liveness conditions are Filter nodes (pure md5-nibble "
        "expressions — no classification join); corners come from ONE "
        "Generate (explode) per delta side, not a 3-way union that would "
        "replay the probe join per corner branch."
    ),
    "sim_ivf_cosine": (
        "IVF ANN: centroid assignment broadcasts the k x d centroid table "
        "(BroadcastNestedLoopJoin) and the candidate join broadcasts the "
        "bounded N_QUERIES x IVF_NPROBE probe set (BroadcastHashJoin "
        "BuildLeft) — the corpus side streams shuffle-free through BOTH; "
        "only the per-cell aggregation and the final top-k window "
        "exchange. Training runs before this plan (per-iteration k x d "
        "collects, driver-bounded)."
    ),
    "text_lm_score": (
        "Conditional trigram LM: both model joins are BroadcastHashJoin "
        "(alphabet-bounded model tables); the only Exchanges are the two "
        "bounded-key model aggregations and the final per-doc aggregate — "
        "the corpus-sized trigram stream itself never shuffles."
    ),
    "text_pack": (
        "Token-budget shard packing as a two-phase distributed scan: the "
        "ONLY Window is partitioned by pack_bucket (256 md5-prefix buckets "
        "— no global ORDER BY window funneling the corpus through one "
        "task; plan-asserted in tests/test_round4_ops.py); the bucket-"
        "offset table (<=256 rows by construction) re-enters under a "
        "BroadcastExchange."
    ),
    "graph_kcore": (
        "Bounded k-core peeling: each round is one hash aggregate + two "
        "semi-joins over the round's localCheckpoint'd edge cut (the cut "
        "feeds the next round twice — degree branch + join input — so "
        "lineage is truncated per round, the BFS/CC replay lesson; the "
        "printed plan therefore starts from the final checkpointed RDD). "
        "The K scalar is one driver-side row inlined as a literal."
    ),
    "text_contamination": (
        "Decontamination: per-doc-distinct shingles from ONE Generate per "
        "side; the shingle equi-join carries NO broadcast hint — at bench "
        "scale Catalyst broadcasts the small distinct test-shingle side "
        "(shown below), at 100 TB statistics push it to a shuffle join "
        "automatically; per-doc-distinct shingles bound the join input "
        "either way, and the hit counts collapse in a partial/final "
        "aggregate on doc_id."
    ),
    "graph_randwalk": (
        "Deterministic walk corpus: the neighbor index is a checkpointed "
        "leaf (Scan ExistingRDD — localCheckpoint cuts the upstream "
        "dataflow out of the logical plan, without which six unrolled "
        "join branches re-embed it and optimizer time explodes); each "
        "step is two equi-joins sized by the walker set. No Window in "
        "the walk plan, no cartesian."
    ),
    "kg_asof": (
        "Temporal as-of snapshot: latest-assertion-wins is the "
        "string-encoded MAX — a partial/final SortAggregate pair around "
        "one Exchange on (subj, pred), NO Window node anywhere, so "
        "late-arriving skew on hot subjects collapses map-side; the "
        "triple cut is the InMemoryTableScan shared with the fusion pane."
    ),
    "dedup_spans": (
        "Sequence-level span dedup: the span explode is ONE Generate into "
        "a PERSISTED narrow cut (it feeds both the aggregate and the join "
        "back — Catalyst has no cross-branch CSE, so unpersisted the scan "
        "+ Generate + md5 would run twice); first-occurrence is the "
        "encoded-MIN partial/final SortAggregate on the span hash; the "
        "join back carries NO broadcast hint (at bench scale Catalyst "
        "broadcasts the distinct-firsts side, at 100 TB statistics push "
        "it to a shuffle join); the per-doc rollup is a combining "
        "HashAggregate. No Window, no cartesian, nothing super-linear."
    ),
    "graph_khop": (
        "Seed-bounded k-hop neighborhoods, SEMI-NAIVE: every delta that "
        "feeds a NEXT hop is localCheckpoint'd (uncut, its lineage "
        "doubles per hop — the BFS replay lesson), so hops 1..K-1 "
        "surface as bare Scan ExistingRDD leaves in the top-level union. "
        "The LAST hop's delta is deliberately NOT checkpointed (it is "
        "only unioned, never re-joined — a checkpoint there would spend "
        "a full extra materialization stage), so the plan carries exactly "
        "one live join pair: the hop-join against the PERSISTED, "
        "u-pre-partitioned adjacency cut (InMemoryTableScan — cached "
        "partitioning means each hop re-sorts cached partitions instead "
        "of re-shuffling the edge set) and the LeftAnti against the "
        "known set of checkpoint leaves. No Window, no cartesian; output "
        "is bounded by |seeds| x reachable-in-K (the unseeded closure is "
        "Theta(V^2) on a small-world graph — measured — and not offered)."
    ),
    "pair_preference": (
        "Preference-pair mining: the pair stream's only Exchange is "
        "pair_sft's conv window; the probe is a per-row md5 expression "
        "and BOTH pool-index lookups are BroadcastHashJoins against the "
        "pool (distinct responses — bounded far below corpus size), plus "
        "one broadcast of the 1-row pool count. The kg_negsample plan "
        "shape: the big side never shuffles in the sampling stage."
    ),
    "kg_typing": (
        "Predicate-role typing: distinct relation set, then ONE combining "
        "count whose output is bounded by |entities| x |predicates| x 2 "
        "(schema-sized), then one aggregate producing role counts AND "
        "majority predicates together via the string-encoded min — a "
        "partial/final SortAggregate pair (var-length min buffers aren't "
        "hash-aggregable, the repo rule), NO Window anywhere."
    ),
    "kg_temporal_diff": (
        "As-of snapshot diff: both snapshots are encoded-MAX "
        "SortAggregate pairs over the ONE InMemoryTableScan of the "
        "memoized per-occurrence triple cut (shared with the fusion "
        "pane); the diff itself is a single (subj, pred)-keyed join of "
        "two KG-sized tables — at bench scale Catalyst broadcasts one "
        "side, at 100 TB statistics push it to a shuffle join."
    ),
    "sample_stratified": (
        "Exact-quota stratified sampling: ONE ranking Window partitioned "
        "by the stratum key (lang, source) — the topk_group shape, no "
        "global sort; the filter on rk <= quota prunes inside the window "
        "stage. Partition skew is bounded by the largest stratum (the "
        "two-phase top-k rewrite is the documented escape hatch)."
    ),
}

def main():
    sp = get_spark(master="local[8]", shuffle_partitions=8, app_name="plans")
    ops = all_ops()
    out = ["# BENCH/PLANS — physical-plan audit", "",
           "`.explain('formatted')` for the plan-critical operators, with the",
           "property each plan is audited for. Regenerate: `python tools/gen_plans.py`.", ""]
    for key, note in NOTES.items():
        df = ops[key].fn(sp, "/root/testdata/sf0.001")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        tree = plan.split("\n\n")[0]
        lines = tree.splitlines()
        if len(lines) > 150:
            # Persisted InMemoryRelation branches repeat the full upstream
            # pipeline plan once per join arm; the audited property is in
            # the operator prefix, so keep that and drop the repetition.
            tree = "\n".join(lines[:150]) + (
                f"\n... [{len(lines) - 150} lines truncated: InMemoryRelation"
                " branches repeat the upstream pipeline plan]"
            )
        out += [f"## {key}", "", note, "", "```", tree, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    sp.stop()

if __name__ == "__main__":
    main()
