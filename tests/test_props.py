"""Property-based tests (hypothesis): random tiny corpora → the Spark
pipeline must agree with the pure-Python reference semantics, and results
must be invariant to physical layout. Spark jobs per example are expensive,
so examples are few but adversarial (random seeds explore corpus shapes the
fixed fixture can't)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kgforge import canon, extract, link, skew, synth, triples
from tests import oracle_ref


def _spark_spo(spark, corpus, *, salted: bool = False) -> set:
    tr, d, e = synth.to_spark(spark, corpus)
    if salted:
        tr = skew.salted_repartition(tr, 8, target_rows=7)
    m = extract.extract_mentions(tr, d)
    linked = link.link_mentions(m, d)
    raw = triples.build_raw_triples(linked)
    cmap = canon.canonical_map(d.select("entity_id"), e)
    final = triples.dedup_triples(canon.remap_triples(raw, cmap))
    return {(r["subj"], r["pred"], r["obj"]) for r in final.collect()}


@pytest.mark.slow
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(min_value=0, max_value=2**30))
def test_pipeline_matches_reference_on_random_corpora(spark, seed):
    corpus = synth.make_corpus(
        seed=seed, n_convs=25, n_entities=120, n_hot=1,
        hot_turns=(80, 150), max_turns=30,
    )
    ref = oracle_ref.run_reference(
        corpus.transcripts, corpus.dictionary, corpus.xref_edges
    )
    golden = {(s, p, o) for s, p, o, *_ in ref["triples"]}
    assert _spark_spo(spark, corpus) == golden


@pytest.mark.slow
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(min_value=0, max_value=2**30))
def test_salted_pipeline_matches_reference(spark, seed):
    """Salted extraction (turn-derived salt splits hot conversations) must
    agree with the independent pure-Python reference on random mixed
    single/multi-word dictionaries; target_rows=7 forces genuine
    multi-slice salting."""
    corpus = synth.make_corpus(
        seed=seed, n_convs=20, n_entities=100, n_hot=2,
        hot_turns=(40, 90), max_turns=25,
    )
    ref = oracle_ref.run_reference(
        corpus.transcripts, corpus.dictionary, corpus.xref_edges
    )
    golden = {(s, p, o) for s, p, o, *_ in ref["triples"]}
    got = _spark_spo(spark, corpus, salted=True)
    assert got == golden


@pytest.mark.slow
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(min_value=0, max_value=2**30))
def test_cc_matches_union_find_on_random_graphs(spark, seed):
    import random

    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(80)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(rng.randint(10, 120))
    ]
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(
        [(a, b, "t") for a, b in edges], "src string, dst string, source string"
    )
    got = {r["node"]: r["component"] for r in canon.connected_components(df).collect()}
    want = oracle_ref.canonical_map([], [(a, b, "t") for a, b in edges])
    assert got == {k: want[k] for k in got}
