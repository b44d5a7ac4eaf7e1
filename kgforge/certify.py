"""Per-key source fingerprints for the driver-certification lint.

Round-3 gap (VERDICT r03 "What's missing" #1): `dedup_minhash`'s code was
rewritten mid-round while its only driver row was r02, and the past-window
lint — which only asserts "a green prior-round row exists" — could not see
that the code had changed underneath the row. This module closes that gap
generically: every registered key gets a *source fingerprint* that hashes
the registered function's source, its oracle SQL, and — transitively — the
source of every kgforge-internal function it references (so a rewrite of a
shared helper like `similarity.minhash_pairs` changes the fingerprint of
every key that calls it, one or many hops away).

`kgforge/certified.json` snapshots {key: {fp, round}} at certification time
(the round whose CORRECTNESS file holds the key's newest green row).
tests/test_registry.py then enforces: a key OUTSIDE the driver's 50-key
window must have a recorded green row AND an unchanged fingerprint. Change
any code a past-window key depends on and the lint fails until the key is
rotated into the window (or the change reverted) — re-certification can no
longer be skipped silently.

The walk is static (code-object `co_names` + nested code consts), so it
sees helpers referenced via module attributes (`corpus.derive_transcripts`)
as well as direct globals, plus module-level int/float/str/bool constants
(a changed `CONTAM_K` re-fingerprints `text_contamination` even though the
function body is untouched). It cannot see dynamic dispatch — kgforge ops
don't use any — and that limitation is documented here rather than hidden.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import types

_CONST_TYPES = (int, float, str, bool, bytes, tuple, frozenset)


def _is_kgforge_function(obj: object) -> bool:
    mod = getattr(obj, "__module__", None) or ""
    qual = getattr(obj, "__qualname__", "")
    # "<locals>" functions are RUNTIME state, not source: a lazily-built
    # closure cached in a module global (similarity._BUCKET_UDF) is None at
    # import and a function after any warm-up call, which made fingerprints
    # test-order-dependent (cold pass, warm fail). Skipping them loses no
    # coverage — a nested def's source is already hashed as part of its
    # defining module-level function's getsource().
    return (
        isinstance(obj, types.FunctionType)
        and mod.split(".")[0] == "kgforge"
        and "<locals>" not in qual
    )


def _code_objects(fn: types.FunctionType):
    """fn's code object plus all nested code objects (lambdas, closures)."""
    stack = [fn.__code__]
    while stack:
        code = stack.pop()
        yield code
        for const in code.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)


def _referenced(fn: types.FunctionType):
    """(name, value) pairs fn's code can reach, kgforge-internal only.

    Resolution order per co_name: fn's globals, then attributes of any
    kgforge module fn's globals expose (catches `corpus.derive_x` where
    only `corpus` is a global and `derive_x` appears as an attribute name).
    """
    g = fn.__globals__
    names: set[str] = set()
    for code in _code_objects(fn):
        names.update(code.co_names)
        names.update(code.co_freevars)
    kg_modules = [
        v for v in g.values()
        if isinstance(v, types.ModuleType)
        and v.__name__.split(".")[0] == "kgforge"
    ]
    for name in sorted(names):
        if name in g:
            yield name, g[name]
            continue
        for mod in kg_modules:
            if hasattr(mod, name):
                yield f"{mod.__name__}.{name}", getattr(mod, name)
                break


def _walk(fn: types.FunctionType) -> tuple[set[str], list[str]]:
    """(idents of fn and every kgforge function it reaches, hashed parts)."""
    seen: set[str] = set()
    parts: list[str] = []

    def visit(f: types.FunctionType) -> None:
        ident = f"{f.__module__}.{f.__qualname__}"
        if ident in seen:
            return
        seen.add(ident)
        try:
            src = inspect.getsource(f)
        except OSError:  # dynamically-generated; hash the bytecode instead
            src = repr(f.__code__.co_code)
        parts.append(f"fn::{ident}::{src}")
        for name, val in _referenced(f):
            if _is_kgforge_function(val):
                visit(val)
            elif isinstance(val, _CONST_TYPES):
                # module-level constants: hash UPPER_CASE ones (the dials:
                # KCORE_PCT, CONTAM_K, PACK_BUCKETS, ...) so a changed dial
                # re-fingerprints every key whose semantics bake it in
                base = name.rsplit(".", 1)[-1]
                if base and base[0].isupper():
                    parts.append(f"const::{name}::{val!r}")

    visit(fn)
    return seen, parts


def source_fingerprint(fn: types.FunctionType, sql: str | None) -> str:
    """sha256 over fn + oracle SQL + transitive kgforge callees/constants."""
    parts = [f"sql::{sql or ''}", *_walk(fn)[1]]
    return hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest()


def current_fingerprints() -> dict[str, str]:
    from kgforge import registry

    return {
        key: source_fingerprint(spec.fn, spec.sql)
        for key, spec in registry.all_ops().items()
    }


CERTIFIED_PATH = os.path.join(os.path.dirname(__file__), "certified.json")


def load_certified() -> dict[str, dict]:
    with open(CERTIFIED_PATH) as f:
        return json.load(f)
