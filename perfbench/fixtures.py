"""Workload inputs and their reference answer, built once per (size, seed).

The corpus comes from the generator behind
``kgforge.synth_spark.bench_inputs``: Zipf-length
conversations of short sparse turns plus three hot conversations of fixed
length. Whole conversations are kept, in ordinal order, until a turn budget
is met, so every seed yields nearly the same amount of work. The reference
answer is ``tests/oracle_ref.run_reference`` (pure single-threaded Python,
independent of kgforge) over the whole corpus.

Each cache entry records an order-insensitive fingerprint of its inputs. For
the seeds listed in ``fingerprints.json`` the fingerprint must match, so a
change to the generator cannot silently change a workload.

The benchmark builds a missing entry itself, before its set-up clock starts;
building needs no JVM. To build or record by hand:

    python3 perfbench/fixtures.py --size full --seed 42
    python3 perfbench/fixtures.py --size full --record 0 43   # refresh fingerprints.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from collections import Counter
from types import SimpleNamespace

import engine

SIZES = {
    # 20k turns: the cold JVM, a cold run_pipeline call and a warm one fit in
    # about a minute per process on 4 cores; at this size the per-call fixed
    # cost still outweighs the per-turn work
    "full": {"turns": 20_000, "hot_turns": 1_200},
    "toy": {"turns": 1_500, "hot_turns": 100},
}
N_ENTITIES = 2_000
N_HOT = 3
MEAN_TURNS = 8  # mean length of a non-hot synth conversation (measured)
INPUTS = ("transcripts", "dictionary", "xref_edges")
FINGERPRINTS = os.path.join(engine.HERE, "fingerprints.json")


def cache_dir(size: str, seed: int) -> str:
    return os.path.join(engine.WORK, "fixtures", f"{size}-seed{seed}")


def ensure(size: str, seed: int) -> dict:
    """Return the cache entry's metadata, building the entry if it is
    missing; fail if its fingerprint contradicts ``fingerprints.json``."""
    d = cache_dir(size, seed)
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        build(size, seed)
    with open(meta_path) as f:
        meta = json.load(f)
    recorded = _recorded().get(f"{size}-seed{seed}")
    if recorded is not None and recorded != meta["fingerprint"]:
        raise SystemExit(
            f"fixture {size}-seed{seed}: fingerprint {meta['fingerprint']} != "
            f"recorded {recorded}; the corpus generator changed the workload"
        )
    print(f"fixture {size}-seed{seed}: {json.dumps(meta['fingerprint'])}", file=sys.stderr)
    return meta


def _recorded() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


class _InProcess:
    """Just enough of a SparkSession for ``synth_spark.gen_transcripts`` to
    run its per-conversation generator in this process. Generation is
    deterministic per conversation, so the rows equal the distributed
    run's, and building a fixture needs no JVM."""

    class sparkContext:  # noqa: N801 — mirrors the SparkSession attribute
        defaultParallelism = 1

        @staticmethod
        def broadcast(value):
            return SimpleNamespace(value=value)

    def range(self, start: int, end: int, step: int, parts: int):
        import pandas as pd

        ids = pd.DataFrame({"c": list(range(start, end, step))})
        return SimpleNamespace(
            withColumnRenamed=lambda *_: SimpleNamespace(
                mapInPandas=lambda fn, schema: pd.concat(list(fn(iter([ids]))))
            )
        )


def build(size: str, seed: int) -> None:
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgforge import synth, synth_spark

    cfg = SIZES[size]
    final = cache_dir(size, seed)
    tmp = final + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # the same calls, in the same order, as synth_spark.bench_inputs
    rng = random.Random(seed)
    dictionary, surfaces = synth.make_dictionary(rng, n_entities=N_ENTITIES)
    edges = synth.make_xref_edges(rng, n_entities=N_ENTITIES)
    n_gen = N_HOT + int(1.3 * (cfg["turns"] - N_HOT * cfg["hot_turns"]) / MEAN_TURNS)
    tr = synth_spark.gen_transcripts(
        _InProcess(), surfaces, n_gen, seed=seed, n_hot=N_HOT,
        hot_turns=(cfg["hot_turns"], cfg["hot_turns"]),
    )
    cum = tr.groupby("conv_id", sort=True).size().cumsum()
    if cum.iloc[-1] < cfg["turns"]:
        raise RuntimeError(f"{n_gen} conversations hold only {cum.iloc[-1]} turns")
    last = cum.index[(cum >= cfg["turns"]).argmax()]
    tr = tr[tr["conv_id"] <= last]
    tables = {
        "transcripts": pa.table({
            "conv_id": pa.array(tr["conv_id"], pa.string()),
            "turn_idx": pa.array(tr["turn_idx"], pa.int32()),
            "role": pa.array(tr["role"], pa.string()),
            "text": pa.array(tr["text"], pa.string()),
            "tool": pa.array(tr["tool"], pa.string()),
            "ts": pa.array(tr["ts"].dt.tz_localize("UTC"), pa.timestamp("us", tz="UTC")),
        }),
        "dictionary": pa.table(
            dict(zip(["surface", "entity_id", "curie", "prior"], zip(*dictionary))),
            schema=pa.schema([("surface", pa.string()), ("entity_id", pa.string()),
                              ("curie", pa.string()), ("prior", pa.float64())]),
        ),
        "xref_edges": pa.table(
            dict(zip(["src", "dst", "source"], zip(*edges))),
            schema=pa.schema([("src", pa.string()), ("dst", pa.string()),
                              ("source", pa.string())]),
        ),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    meta = _reference(tmp)
    meta["fingerprint"] = fingerprint(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def _rows(path: str, columns: list[str] | None = None) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _reference(d: str) -> dict:
    """Run the reference pipeline; write its triples beside the inputs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_ref import run_reference

    turns = _rows(os.path.join(d, "transcripts.parquet"), ["conv_id", "turn_idx", "text"])
    ref = run_reference(
        [(c, t, None, text, None, None) for c, t, text in turns],
        _rows(os.path.join(d, "dictionary.parquet"), ["surface", "entity_id", "curie", "prior"]),
        _rows(os.path.join(d, "xref_edges.parquet"), ["src", "dst", "source"]),
    )
    cols = list(zip(*ref["triples"]))
    pq.write_table(
        pa.table(
            {
                "subj": pa.array(cols[0], pa.string()),
                "pred": pa.array(cols[1], pa.string()),
                "obj": pa.array(cols[2], pa.string()),
                "conv_id": pa.array(cols[3], pa.string()),
                "turn_idx": pa.array(cols[4], pa.int32()),
                "confidence": pa.array(cols[5], pa.float64()),
            }
        ),
        os.path.join(d, "reference_triples.parquet"),
    )
    return {
        "turns": len(turns),
        # [[conv_id, turns], ...] in ordinal order: incremental-merge's split
        "convs": sorted(Counter(c for c, _, _ in turns).items()),
        "mentions": len(ref["mentions"]),
        "linked": len(ref["linked"]),
        "triples": len(ref["triples"]),
    }


def fingerprint(d: str) -> dict:
    """Per input: row count and a sum of per-row hashes (order-insensitive)."""
    out = {}
    for name in INPUTS:
        rows = _rows(os.path.join(d, f"{name}.parquet"))
        h = 0
        for row in rows:
            digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
            h = (h + int.from_bytes(digest, "little")) % (1 << 64)
        out[name] = [len(rows), f"{h:016x}"]
    return out


def record(size: str, seeds: range) -> None:
    """Build the given seeds and store their fingerprints in fingerprints.json."""
    recorded = _recorded()
    for seed in seeds:
        if not os.path.exists(os.path.join(cache_dir(size, seed), "meta.json")):
            build(size, seed)
        with open(os.path.join(cache_dir(size, seed), "meta.json")) as f:
            recorded[f"{size}-seed{seed}"] = json.load(f)["fingerprint"]
    with open(FINGERPRINTS, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--record", type=int, nargs=2, metavar=("FIRST", "LAST"))
    args = ap.parse_args()
    engine.setup_env()
    if args.record:
        record(args.size, range(args.record[0], args.record[1] + 1))
    else:
        build(args.size, args.seed)


if __name__ == "__main__":
    main()
