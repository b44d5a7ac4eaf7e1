"""Unit tests for the leftmost-longest lexicon matcher (kgforge.matcher)."""

from __future__ import annotations

from kgforge.matcher import LexiconMatcher


def test_single_word():
    m = LexiconMatcher(["aspirin"])
    assert m.find("take aspirin daily") == [("aspirin", 5, 12)]


def test_leftmost_longest_prefers_longer():
    m = LexiconMatcher(["alpha", "alpha beta", "alpha beta gamma"])
    out = m.find("alpha beta gamma delta")
    assert out == [("alpha beta gamma", 0, 16)]


def test_non_overlapping_jump():
    m = LexiconMatcher(["a b", "b c"])
    # after matching "a b", scanning resumes at "c" — "b c" must NOT match
    assert m.find("a b c") == [("a b", 0, 3)]


def test_case_insensitive_and_punctuation():
    m = LexiconMatcher(["Aspirin"])
    out = m.find("ASPIRIN, then more aspirin.")
    assert [(s, b) for s, b, _ in out] == [("aspirin", 0), ("aspirin", 19)]


def test_longer_candidate_falls_back_to_shorter():
    m = LexiconMatcher(["x y z", "x"])
    assert [s for s, *_ in m.find("x y q")] == ["x"]


def test_empty_and_no_match():
    m = LexiconMatcher(["foo"])
    assert m.find("") == []
    assert m.find("bar baz") == []


def test_offsets_are_char_offsets():
    m = LexiconMatcher(["beta"])
    text = "  beta  "
    [(s, b, e)] = m.find(text)
    assert text[b:e] == "beta"


# --- two-tier layout equivalence vs the naive oracle (tests/oracle_ref.py) ---
# The matcher splits single-word surfaces into a set and probes the
# multi-word index only on first-token hits; these properties pin that
# refactor to the flat longest-first scan the oracle keeps.

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.oracle_ref import find_mentions, index_surfaces

_word = st.text(alphabet="abcde", min_size=1, max_size=3)
_surface = st.lists(_word, min_size=1, max_size=3).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(
    surfaces=st.lists(_surface, min_size=0, max_size=12),
    text_words=st.lists(_word, min_size=0, max_size=20),
)
def test_matcher_matches_naive_oracle(surfaces, text_words):
    text = " ".join(text_words)
    got = LexiconMatcher(surfaces).find(text)
    want = find_mentions(text, index_surfaces(surfaces))
    assert got == want


def test_pure_single_token_fast_path_equivalence():
    surfaces = ["aspirin", "ibuprofen", "statin"]
    m = LexiconMatcher(surfaces)
    assert not m.multi_first  # exercises the finditer fast path
    text = "Aspirin then ibuprofen; no statin today, aspirin again."
    assert m.find(text) == find_mentions(text, index_surfaces(surfaces))


def test_lexicon_cache_is_size_one_lru(spark):
    """A second distinct dictionary must evict the first — the round-2
    id()-keyed cache grew without bound and pinned every dictionary
    DataFrame for the life of the process."""
    from kgforge import extract

    schema = "surface string, entity_id string, curie string, prior double"
    d1 = spark.createDataFrame([("alpha", "e1", "c:1", 0.5)], schema)
    d2 = spark.createDataFrame([("beta", "e2", "c:2", 0.5)], schema)
    f1 = extract._lexicon_file(d1)
    assert extract._lexicon_file(d1) == f1  # consecutive hit, no rebuild
    f2 = extract._lexicon_file(d2)
    assert f2 != f1
    assert len(extract._LEXICON_CACHE) == 1
    assert extract._LEXICON_CACHE[0][0] is d2


# --- the JVM matcher (kgforge/jvm/LexiconMatch.java) against the oracle and
# the mapInPandas fallback. Both run through extract's own plan functions;
# every case set is one Spark job per path.

import random

import pandas as pd
from pyspark.sql import functions as F

UNICODE_TEXT = (
    "x² ½ Ⅻ café e\u0301t a‿b z\u200dy 😀 𝔘nit İstanbul Straße "
    "ΟΔΟΣ snake_case ΣΑΣ 😀a b"
)
UNICODE_SURFACES = [
    "x²", "½", "ⅻ", "caf", "t", "a", "b", "z", "y", "𝔘nit", "İstanbul",
    "straße", "οδος", "snake_case", "a b", "σας", "é",
]


def _both_paths(spark, cases):
    """cases: [(surfaces, [texts])] → (JVM rows, fallback rows), each as
    {(case, turn): [(surface, begin, end)]}; one job per path."""
    from kgforge import extract, jvm

    assert jvm.register(spark), "no JDK and no matcher jar"
    sc = spark.sparkContext
    lexicons = [extract._ship_lexicon(sc, surfaces) for surfaces, _ in cases]
    # built from pandas through Arrow (no pickled PythonRDD to scan) and in
    # one partition: each per-case filter is then one task per path
    rows = [(f"c{i}", j, text) for i, (_, texts) in enumerate(cases)
            for j, text in enumerate(texts)]
    turns = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"]),
        "conv_id string, turn_idx int, text string",
    ).coalesce(1)
    out = []
    for build in (extract._mentions_in_jvm, extract._mentions_in_pandas):
        frames = [
            build(turns.where(F.col("conv_id") == f"c{i}"), lex)
            for i, lex in enumerate(lexicons)
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        got: dict = {}
        for r in sorted(union.collect()):
            got.setdefault((r.conv_id, r.turn_idx), []).append(
                (r.m_idx, r.surface, r.begin, r.end)
            )
        out.append(
            {k: [m[1:] for m in sorted(v)] for k, v in got.items()}
        )
    return out


def _oracle(cases):
    want = {}
    for i, (surfaces, texts) in enumerate(cases):
        index = index_surfaces(surfaces)
        for j, text in enumerate(texts):
            found = find_mentions(text, index)
            assert found == LexiconMatcher(surfaces).find(text)
            if found:
                want[(f"c{i}", j)] = found
    return want


def test_jvm_matcher_unicode_fixture(spark):
    cases = [(UNICODE_SURFACES, [UNICODE_TEXT, UNICODE_TEXT.upper(), ""])]
    want = _oracle(cases)
    jvm_rows, pandas_rows = _both_paths(spark, cases)
    assert jvm_rows == want
    assert pandas_rows == want
    got = {(s, b): e for s, b, e in jvm_rows[("c0", 0)]}
    at = UNICODE_TEXT.index
    # offsets count code points: 😀 and 𝔘 are one each, not a UTF-16 pair
    assert got[("𝔘nit", at("𝔘nit"))] == at("𝔘nit") + 4
    # No-category numbers are words, and Ⅻ lowercases to ⅻ
    assert ("x²", 0) in got and ("½", at("½")) in got and ("ⅻ", at("Ⅻ")) in got
    # a combining mark, ‿ and ZWJ end tokens; İ lowercases to i + U+0307
    assert ("t", at("e\u0301t") + 2) in got and ("a b", at("a‿b")) in got
    assert ("y", at("z\u200dy") + 2) in got
    assert ("i\u0307stanbul", at("İstanbul")) in got
    assert ("οδος", at("ΟΔΟΣ")) in got and ("σας", at("ΣΑΣ")) in got


_ATOMS = ["a", "b", "ab", "A", "B", "ß", "SS", "İ", "i", "Σ", "σ", "ΟΔ",
          "²", "½", "Ⅻ", "7", "_", "𝔘", "é"]
_SEPS = [" ", " ", " ", ", ", "\u0301", "‿", "\u200d", "😀", "-", "\t"]


def test_jvm_matcher_random_cases(spark):
    rng = random.Random(20261020)

    def case():
        # a small per-case vocabulary, so surfaces overlap in the text and
        # multi-word candidates compete with their prefixes
        vocab = ["".join(rng.choices(_ATOMS, k=rng.randint(1, 2))) for _ in range(6)]

        def phrase(n):
            out = [rng.choice(vocab)]
            for _ in range(n - 1):
                out += [rng.choice(_SEPS), rng.choice(vocab)]
            return "".join(out)

        surfaces = [phrase(rng.randint(1, 3)) for _ in range(rng.randint(0, 8))]
        return surfaces, [phrase(rng.randint(1, 14)) for _ in range(50)]

    cases = [case() for _ in range(40)]
    want = _oracle(cases)
    assert sum(len(v) for v in want.values()) > 2000  # the cases do match
    jvm_rows, pandas_rows = _both_paths(spark, cases)
    assert jvm_rows == want
    assert pandas_rows == want
