"""Registry contract lints (no Spark session needed).

The driver checks registry keys in iteration order and (observed round 1)
caps the CORRECTNESS file at 50 rows, so `kgforge.registry._ORDER` is part
of the driver contract: it must stay exactly in sync with the registered
keys, with no duplicates, and keep one representative of every operator
family inside the 50-key window.
"""

from __future__ import annotations

from kgforge import registry


def test_order_matches_registry_exactly():
    ops = registry.all_ops()
    assert sorted(registry._ORDER) == sorted(ops), (
        "registry._ORDER out of sync: "
        f"missing={sorted(set(ops) - set(registry._ORDER))} "
        f"stale={sorted(set(registry._ORDER) - set(ops))}"
    )


def test_order_has_no_duplicates():
    assert len(registry._ORDER) == len(set(registry._ORDER))


def test_all_ops_iterates_in_curated_order():
    assert list(registry.all_ops()) == registry._ORDER


def test_driver_window_covers_uncertified_and_drifted_keys():
    """Generic window-coverage rule (replaces the per-round hardcoded
    target list): any key with NO entry in certified.json (never
    driver-certified on current code — new this round) and any key whose
    CURRENT fingerprint differs from its certified one (its code, oracle
    SQL, or any helper it transitively reaches changed since the round the
    driver last checked it) must sit inside the first 50 so the next
    CORRECTNESS file gives it a current-code driver row. Together with
    test_keys_past_window_are_certified_unchanged this makes the rotation
    self-maintaining: an edit anywhere in a key's closure either lands the
    key in-window or fails a lint."""
    from kgforge import certify

    certified = certify.load_certified()
    fps = certify.current_fingerprints()
    window = set(registry._ORDER[:50])
    must_be_windowed = {
        key
        for key in registry._ORDER
        if key not in certified or certified[key]["fp"] != fps[key]
    }
    missing = must_be_windowed - window
    assert not missing, f"keys outside the driver's 50-key window: {sorted(missing)}"


def test_keys_past_window_are_certified_unchanged():
    """Generic re-certification lint (VERDICT r03 #10): every key past the
    50-key window must (a) hold a green driver row from some past round —
    recorded in kgforge/certified.json by tools/gen_certified.py — AND (b)
    have a source fingerprint identical to the one recorded at
    certification time. The fingerprint hashes the registered fn, its
    oracle SQL, and transitively every kgforge-internal helper + UPPER_CASE
    dial it references, so rewriting a shared helper (the round-3
    dedup_minhash gap) re-fingerprints every dependent key and fails this
    lint until the key is rotated into the window."""
    from kgforge import certify

    certified = certify.load_certified()
    fps = certify.current_fingerprints()
    problems = []
    for key in registry._ORDER[50:]:
        ent = certified.get(key)
        if ent is None:
            problems.append(f"{key}: past window with no certified driver row")
        elif ent["fp"] != fps[key]:
            problems.append(
                f"{key}: source changed since its {ent['round']} driver row "
                "— rotate it into the window (registry._ORDER[:50]) or "
                "revert the change"
            )
    assert not problems, "\n".join(problems)


def test_certified_rounds_actually_green():
    """certified.json's recorded rounds must be backed by real green rows
    in the corresponding CORRECTNESS files (guards hand-edits)."""
    import json
    import os

    from kgforge import certify

    repo = os.path.join(os.path.dirname(__file__), "..")
    cache: dict[str, dict] = {}
    for key, ent in certify.load_certified().items():
        rnd = ent["round"]
        if rnd not in cache:
            with open(os.path.join(repo, f"CORRECTNESS_{rnd}.json")) as f:
                cache[rnd] = json.load(f)
        row = cache[rnd].get(key)
        assert row is not None, f"{key}: no {rnd} row despite certification"
        ok = row.get("hash_match") is True or (
            row.get("err") == "no_oracle" and row.get("spark_rows", 0) >= 0
        )
        assert ok, f"{key}: {rnd} row not green: {row}"


def test_fingerprint_walk_reaches_the_shared_stages():
    """The keys that read the session's linked cut or canonical map must
    re-fingerprint when the matcher, the linker or the connected-components
    fixpoints change. A function-local ``from kgforge import ...`` hides the
    module from the static walk, so this pins the path through
    corpus.derive_linked / derive_canonical_map (and similarity's
    near_dup_clusters, and filter_gate's language scorer in text) down to
    the code that does the work."""
    from kgforge import certify

    ops = registry.all_ops()
    reached, _ = certify._walk(ops["udf_link"].fn)
    for fn in (
        "kgforge.pipeline.extract_link",
        "kgforge.extract.extract_mentions",
        "kgforge.link.link_mentions",
        "kgforge.skew.salted_repartition",
    ):
        assert fn in reached, f"udf_link's fingerprint misses {fn}"
    for key in ("graph_comp_sizes", "dedup_clusters"):
        reached, _ = certify._walk(ops[key].fn)
        assert "kgforge.canon.connected_components_star" in reached, key
    reached, _ = certify._walk(ops["filter_gate"].fn)
    assert "kgforge.ops.text._lang_score_spark" in reached
    # the JVM matcher's Java source is hashed through its sha256 constant
    from kgforge import jvm

    _, parts = certify._walk(ops["udf_mentions"].fn)
    assert f"const::MATCHER_SHA256::{jvm.MATCHER_SHA256!r}" in parts
