"""Benchmark of ``kgforge.pipeline.run_pipeline``, driven in-process on local[3].

    python3 perfbench/run.py --workload bulk-synth --seed 42 --seconds 5 --trace 0

Prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (tracing off); with ``--trace 1`` they are the
per-layer ones from a separate traced run (see layers.py), plus engine totals
of an untraced run. Workloads, metrics and the host are described in
README.md. ``--size toy`` and ``--corrupt`` exist for selftest.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

import engine
import fixtures
import layers

WORKLOADS = ("bulk-synth", "incremental-merge")
SETUPS = 5  # setup_s is the median of this many set-ups per process
K_DELTAS = 1  # delta batches per incremental-merge repetition
DELTA_SHARE = 0.1  # each delta batch holds about this share of the turns
FULL_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "confidence"]
# incremental-merge compares the batch-order-independent projection, as the
# pipe_incremental registry key does
PROJ_COLS = ["subj", "pred", "obj", "confidence"]


@dataclass
class Op:
    """One timed operation: a run_pipeline call (bulk-synth) or a repetition
    of the delta batches (incremental-merge)."""

    wall: float
    cpu: float
    triples: int  # materialised (bulk-synth) or added (incremental-merge)
    root: str  # its warehouse
    totals: dict  # engine totals from the status store
    leaked: int  # RDDs its last run_pipeline call left persisted
    digest: tuple


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args, meta: dict):
        self.args = args
        self.meta = meta
        self.fx_dir = fixtures.cache_dir(args.size, args.seed)
        self.wh_dir = os.path.join(engine.WORK, f"wh-{os.getpid()}")
        self.n_wh = 0
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # ------------------------------------------------------------- set-up
    def setup(self) -> tuple[float, float]:
        """Session up, inputs read, persisted and counted; returns (wall, CPU)
        seconds."""
        c0 = engine.cpu_s(self.spark)
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()  # the next session reuses the JVM
        self.spark = engine.start_spark()
        read = lambda name: self.spark.read.parquet(os.path.join(self.fx_dir, f"{name}.parquet"))  # noqa: E731
        tr = read("transcripts")
        self.dictionary = read("dictionary").persist()
        self.edges = read("xref_edges").persist()
        if self.args.workload == "incremental-merge":
            self.parts = self._split(tr)
        else:
            self.parts = [tr]
        self.parts = [p.persist() for p in self.parts]
        self.part_rows = [p.count() for p in self.parts]
        self.dictionary.count()
        self.edges.count()
        return time.perf_counter() - t0, engine.cpu_s(self.spark) - c0

    def _split(self, tr):
        """The base, then K_DELTAS conversation-disjoint delta batches from
        the end of the corpus, in ordinal order; each delta holds whole
        conversations up to DELTA_SHARE of the turns."""
        from pyspark.sql import functions as F

        convs = self.meta["convs"]  # [[conv_id, turns], ...] in ordinal order
        cuts, i = [len(convs)], len(convs)
        for _ in range(K_DELTAS):
            n = 0
            while n < DELTA_SHARE * self.meta["turns"]:
                i -= 1
                n += convs[i][1]
            cuts.insert(0, i)
        c = F.col("conv_id")
        parts = [tr.where(c < convs[cuts[0]][0])]
        for a, b in zip(cuts, cuts[1:]):
            parts.append(tr.where((c >= convs[a][0]) & (c <= convs[b - 1][0])))
        return parts

    def load_reference(self) -> None:
        ref = self.spark.read.parquet(os.path.join(self.fx_dir, "reference_triples.parquet"))
        self.cols = PROJ_COLS if self.args.workload == "incremental-merge" else FULL_COLS
        self.ref_digest = self._digest(ref)

    # ------------------------------------------------------------- helpers
    def fresh_wh(self) -> str:
        self.n_wh += 1
        return os.path.join(self.wh_dir, str(self.n_wh))

    def cfg(self, root: str, run_id: str):
        from kgforge.pipeline import PipelineConfig

        return PipelineConfig(warehouse_root=root, run_id=run_id, num_partitions=engine.CORES)

    def _digest(self, df) -> tuple:
        """(rows, order-insensitive sum of row hashes) over the checked columns."""
        from pyspark.sql import functions as F

        row = df.select(
            F.count(F.lit(1)), F.sum(F.xxhash64(*self.cols).cast("decimal(38,0)"))
        ).first()
        return tuple(row)

    def check(self, triples, n_ops: int, linked=None, expect=None) -> tuple:
        """Compare with the reference (and with ``expect``, a digest of
        another run, when given); a mismatch fails ``n_ops`` operations."""
        got = triples.select(self.cols)
        if self.args.corrupt:
            got = got.exceptAll(got.limit(1))
        got = self._digest(got)
        ok = got == self.ref_digest and (expect is None or got == expect)
        if linked is not None and linked.count() != self.meta["linked"]:
            ok = False
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            log(f"check failed: got {got} want {self.ref_digest} (other run {expect})")
        return got

    def run(self, inputs, root: str, run_id: str) -> tuple[float, float, dict, object]:
        """One run_pipeline call; returns (wall s, CPU s, outputs, config)."""
        from kgforge.pipeline import run_pipeline

        cfg = self.cfg(root, run_id)
        c0 = engine.cpu_s(self.spark)
        t0 = time.perf_counter()
        out = run_pipeline(self.spark, inputs, self.dictionary, self.edges, cfg)
        return time.perf_counter() - t0, engine.cpu_s(self.spark) - c0, out, cfg

    @staticmethod
    def release(out: dict) -> None:
        # run_pipeline returns these persisted; pipeline.persistent_rdds is
        # read before this release so the leak stays visible
        out["linked"].unpersist()
        out["canonical_map"].unpersist()

    def timed(self, op) -> list:
        """Repeat ``op`` until --seconds have passed, at least once; returns
        the results of ``op``."""
        results = []
        t0 = time.perf_counter()
        while not results or time.perf_counter() - t0 < self.args.seconds:
            results.append(op())
        return results

    # ------------------------------------------------------------- workloads
    def bulk(self, store) -> dict:
        tr = self.parts[0]
        first_wall, first_cpu, out, _ = self.run(tr, self.fresh_wh(), "first")
        self.check(out["triples"], 1, out["linked"])
        self.release(out)

        def op():
            root = self.fresh_wh()
            mark = store.watermark()
            rdds = store.persistent_rdds()
            wall, cpu, out, cfg = self.run(tr, root, "bench")
            leaked = store.persistent_rdds() - rdds
            totals = store.totals_since(mark)
            digest = self.check(out["triples"], 1, out["linked"])
            self.release(out)
            return Op(wall, cpu, cfg.observed["triples_rows"], root, totals, leaked, digest)

        return {"first": (first_wall, first_cpu), "ops": self.timed(op)}

    def incremental(self, store) -> dict:
        base, deltas = self.parts[0], self.parts[1:]
        base_root = self.fresh_wh()
        first_wall, first_cpu, out, cfg = self.run(base, base_root, "base")
        base_rows = cfg.observed["triples_rows"]
        self.release(out)

        def op():
            root = self.fresh_wh()
            shutil.copytree(base_root, root)
            mark = store.watermark()
            walls, cpus = [], []
            for k, delta in enumerate(deltas):
                rdds = store.persistent_rdds()
                wall, cpu, out, cfg = self.run(delta, root, f"delta-{k}")
                leaked = store.persistent_rdds() - rdds
                walls.append(wall)
                cpus.append(cpu)
                if k < len(deltas) - 1:
                    self.release(out)
            totals = store.totals_since(mark)
            digest = self.check(out["triples"], len(deltas))
            self.release(out)
            return Op(sum(walls), sum(cpus), cfg.observed["triples_rows"] - base_rows,
                      root, totals, leaked, digest)

        return {"first": (first_wall, first_cpu), "ops": self.timed(op), "base_root": base_root}

    # ------------------------------------------------------------- trace
    def trace(self, store, res: dict, walls: dict) -> dict:
        """Per-layer metrics from one traced operation, plus whole-pipeline
        figures of the untraced ones."""
        last = res["ops"][-1]
        out = {f"pipeline.{k}": v for k, v in last.totals.items()}
        out["pipeline.persistent_rdds"] = last.leaked
        out.update(walls)

        tracer = layers.Tracer(self.spark)
        mark = store.watermark()
        ops = []
        t0 = time.perf_counter()
        if self.args.workload == "incremental-merge":
            root = self.fresh_wh()
            shutil.copytree(res["base_root"], root)
            for k, delta in enumerate(self.parts[1:]):
                ops.append(layers.traced_pipeline(
                    self.spark, delta, self.dictionary, self.edges,
                    self.cfg(root, f"delta-{k}"), tracer,
                ))
                tracer.release()
        else:
            ops.append(layers.traced_pipeline(
                self.spark, self.parts[0], self.dictionary, self.edges,
                self.cfg(self.fresh_wh(), "traced"), tracer,
            ))
            tracer.release()
        traced_s = time.perf_counter() - t0
        # the traced call sequence must produce exactly the untraced triples
        self.check(ops[-1]["triples"], 1, expect=last.digest)
        turns = sum(self.part_rows[1:]) if self.args.workload == "incremental-merge" else self.part_rows[0]
        out.update(layers.layer_metrics(tracer, store, mark, turns, ops))
        out["trace.overhead_s"] = traced_s - walls["pipeline.wall_s"]
        return out


def figures(setups: list, res: dict, peak_mb: float, warehouse_mb: float) -> tuple[dict, dict]:
    """(end-to-end metrics, wall-clock figures). Time is measured as CPU
    seconds of the whole process tree; wall-clock times swing with CPU steal
    on a shared host and are reported with the per-layer metrics."""
    ops = res["ops"]
    med = statistics.median
    cpu, wall = med(o.cpu for o in ops), med(o.wall for o in ops)
    e2e = {
        "setup_s": med(c for _, c in setups),
        "first_run_cpu_s": res["first"][1],
        "cpu_s": cpu,
        "triples_per_cpu_s": ops[-1].triples / cpu,
        "peak_rss_mb": peak_mb,
        "warehouse_mb": warehouse_mb,
    }
    walls = {
        "pipeline.setup_wall_s": med(w for w, _ in setups),
        "pipeline.first_run_wall_s": res["first"][0],
        "pipeline.wall_s": wall,
        "pipeline.triples_per_s": ops[-1].triples / wall,
    }
    return e2e, walls


UNITS = {"pipeline.triples_per_s": "1/s", "triples_per_cpu_s": "1/s"}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("jobs", "stages", "tasks", "rows_out", "files_written", "files_linked",
                "checkpoint_rows", "persistent_rdds"):
        return "count"
    return "ratio"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(fixtures.SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one triple before every check (self-test)")
    args = ap.parse_args()

    engine.setup_env()
    meta = fixtures.ensure(args.size, args.seed)
    bench = Bench(args, meta)
    try:
        setups = [bench.setup() for _ in range(SETUPS)]
        bench.load_reference()
        store = layers.StatusStore(bench.spark)
        res = bench.incremental(store) if args.workload == "incremental-merge" else bench.bulk(store)
        e2e, walls = figures(setups, res, engine.peak_rss_mb(bench.spark),
                             layers.disk_usage(res["ops"][-1].root)[0] / layers.MB)
        log(f"(wall s, CPU s) of set-ups {[(round(w, 2), round(c, 1)) for w, c in setups]}, "
            f"first call {tuple(round(x, 2) for x in res['first'])}, "
            f"timed {[(round(o.wall, 2), round(o.cpu, 1)) for o in res['ops']]}")
        metrics = bench.trace(store, res, walls) if args.trace else e2e
    finally:
        if bench.spark is not None:
            engine.shutdown(bench.spark)
        shutil.rmtree(bench.wh_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
