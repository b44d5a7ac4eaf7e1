"""Hand-fixture semantics pins for the round-5 pane (kgforge/ops/kginfer):
k-hop neighborhoods, role typing, temporal snapshot diff, stratified
sampling, and preference pairs — plus the non-vacuity pins the corpus
derivation's arithmetic demands (the role-cycle / vocabulary-saturation
traps: an op that returns rows is not necessarily EXERCISED)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge.ops import kginfer

SF_TINY = "/root/testdata/sf0.001"


def _sym(spark, edges):
    df = spark.createDataFrame(edges, "u string, v string")
    return df.unionAll(df.select(F.col("v").alias("u"), F.col("u").alias("v")))


def test_khop_path_and_min_hop(spark):
    # path a-b-c-d-e plus shortcut a-d: dist(a,d) must be 1 (min over the
    # 3-hop path), e enters at hop 2 via the shortcut
    adj = _sym(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "d")])
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        (r.seed, r.dst): r.hops
        for r in kginfer.khop_neighborhoods(adj, seeds, hops=3).collect()
    }
    assert got == {("a", "b"): 1, ("a", "d"): 1, ("a", "c"): 2, ("a", "e"): 2}


def test_khop_hop_bound_excludes_beyond_k(spark):
    adj = _sym(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        (r.seed, r.dst): r.hops
        for r in kginfer.khop_neighborhoods(adj, seeds, hops=3).collect()
    }
    assert got == {("a", "b"): 1, ("a", "c"): 2, ("a", "d"): 3}  # e is 4 hops


def test_khop_nonvacuous_at_driver_scale(spark):
    """The co-order graph must actually exercise hops >= 2 — the entity
    graph is COMPLETE at driver scale (closure == edge set), which is why
    graph_khop deliberately runs on the parts graph."""
    hops = {
        r.hops for r in kginfer.graph_khop(spark, SF_TINY).select("hops").distinct().collect()
    }
    assert 1 in hops and 2 in hops


def test_role_typing_majority_ties_and_sentinels(spark):
    tri = spark.createDataFrame(
        [
            # e1 as subject: p2 x2, p1 x1 -> majority p2
            ("e1", "p2", "x1", 0), ("e1", "p2", "x2", 0), ("e1", "p1", "x3", 0),
            # e2: only ever an OBJECT -> subj sentinel '' / count 0
            ("e9", "p1", "e2", 0),
            # tie on e9-as-subject between p1 (above) and p0 -> min pred p0
            ("e9", "p0", "x4", 0),
            # resolved_as is excluded from the relation set
            ("e1", "resolved_as", "Q1", 0),
        ],
        "subj string, pred string, obj string, turn_idx int",
    )
    got = {r.entity: r.asDict() for r in kginfer.role_typing(tri).collect()}
    assert got["e1"]["n_as_subj"] == 3  # distinct (s,p,o) rows: p2 x2 + p1 x1
    assert got["e1"]["top_subj_pred"] == "p2"
    assert got["e2"]["n_as_subj"] == 0
    assert got["e2"]["top_subj_pred"] == ""
    assert got["e2"]["n_as_obj"] == 1
    assert got["e2"]["top_obj_pred"] == "p1"
    assert got["e9"]["top_subj_pred"] == "p0"  # 1-1 tie breaks to min pred


def test_snapshot_diff_added_changed_unchanged(spark):
    t1 = spark.createDataFrame(
        [("s1", "p", "old"), ("s2", "p", "same")],
        "subj string, pred string, obj string",
    )
    t2 = spark.createDataFrame(
        [("s1", "p", "new"), ("s2", "p", "same"), ("s3", "p", "fresh")],
        "subj string, pred string, obj string",
    )
    got = {r.subj: r.asDict() for r in kginfer.snapshot_diff(t1, t2).collect()}
    assert set(got) == {"s1", "s3"}  # unchanged s2 filtered out
    assert got["s1"]["status"] == "changed" and got["s1"]["obj_old"] == "old"
    assert got["s3"]["status"] == "added" and got["s3"]["obj_old"] == ""


def test_temporal_diff_nonvacuous_at_driver_scale(spark):
    """Both statuses must occur — at T1 = 1/2 the entity vocabulary has
    already saturated and 'added' is vacuous (measured), which is why
    DIFF_NUM1/DEN1 is 1/8."""
    st = {
        r.status
        for r in kginfer.kg_temporal_diff(spark, SF_TINY).select("status").distinct().collect()
    }
    assert st == {"added", "changed"}


def test_stratified_exact_quota_and_determinism(spark):
    got = kginfer.sample_stratified(spark, SF_TINY)
    sizes = {
        (r.lang, r.source): r["count"]
        for r in got.groupBy("lang", "source").count().collect()
    }
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    full = {
        (r.lang, r.source): r["count"]
        for r in docs.groupBy("lang", "source").count().collect()
    }
    assert set(sizes) == set(full)  # every stratum represented
    for k, n in sizes.items():
        assert n == min(full[k], kginfer.STRATA_QUOTA)
    again = kginfer.sample_stratified(spark, SF_TINY)
    key = ["lang", "source", "doc_id", "rk"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, again.select(*key).collect())
    )


def test_preference_pairs_rejected_valid_and_deterministic(spark):
    pairs = spark.createDataFrame(
        [
            ("c1", 1, "ph1", "rhA", 5),
            ("c1", 3, "ph2", "rhB", 7),
            ("c2", 1, "ph3", "rhC", 9),
        ],
        "conv_id string, turn_idx int, prompt_hash string,"
        " response_hash string, response_tokens long",
    )
    got = kginfer.preference_pairs(pairs).collect()
    pool = {"rhA": 5, "rhB": 7, "rhC": 9}
    assert len(got) == 3  # pool > 1: every pair keeps a valid negative
    for r in got:
        assert r.rejected_hash != r.chosen_hash
        assert pool[r.rejected_hash] == r.rejected_tokens
        assert pool[r.chosen_hash] == r.chosen_tokens
    again = kginfer.preference_pairs(pairs).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_preference_pairs_degenerate_pool_self_filters(spark):
    one = spark.createDataFrame(
        [("c1", 1, "ph1", "rhA", 5), ("c2", 1, "ph9", "rhA", 5)],
        "conv_id string, turn_idx int, prompt_hash string,"
        " response_hash string, response_tokens long",
    )
    # pool = {rhA}: every draw collides with the chosen response -> dropped
    assert kginfer.preference_pairs(one).count() == 0


def test_repeated_calls_stack_no_caches(spark):
    """graph_khop and pair_preference persist a cut inside their bodies; a
    second call in the same session must reuse the first call's cut."""
    jsc = spark.sparkContext._jsc
    for fn in (kginfer.graph_khop, kginfer.pair_preference):
        fn(spark, SF_TINY).count()
        before = jsc.getPersistentRDDs().size()
        fn(spark, SF_TINY).count()
        assert jsc.getPersistentRDDs().size() == before, fn.__name__
