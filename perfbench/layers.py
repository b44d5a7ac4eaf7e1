"""Per-layer tracing of ``run_pipeline`` from Spark's own status store.

``traced_pipeline`` calls the same public functions ``kgforge.pipeline.
run_pipeline`` calls, in the same order, but materialises each layer's output
under a Spark job group named after the layer (the kgforge module that owns
the call). The status store then attributes every job, stage and task to a
layer. Materialising changes the plan a little (a cached intermediate where
the pipeline streams), which is why end-to-end metrics come from untraced
runs and the difference is reported as ``trace.overhead_s``. The benchmark
compares the traced run's triples with the untraced run's on every traced
run, so this call sequence cannot drift from ``run_pipeline`` unnoticed.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = ("skew", "extract", "link", "canon", "triples", "tableio", "metrics")
MB = 1024 * 1024


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_mb: float
    spill_mb: float


class StatusStore:
    """Reads completed jobs and stages newer than a watermark over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()

    def _list(self):
        return self.jvm.java.util.ArrayList()

    def watermark(self) -> tuple[int, int]:
        jobs = self.store.jobsList(self._list())
        stages = self.store.stageList(
            self._list(), False, False, self.sc._gateway.new_array(self.jvm.double, 0), self._list()
        )
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def jobs_since(self, mark: tuple[int, int]) -> list[tuple[int, str | None]]:
        out = []
        jobs = self.store.jobsList(self._list())
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark[0]:
                break  # the store lists jobs newest first
            g = j.jobGroup()
            out.append((j.jobId(), g.get() if g.isDefined() else None))
        return out

    def stages_since(self, mark: tuple[int, int]) -> list[Stage]:
        status = self._list()
        status.add(self.jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        stages = self.store.stageList(
            status, False, False, self.sc._gateway.new_array(self.jvm.double, 0), self._list()
        )
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break  # newest first
            d = s.description()
            out.append(
                Stage(
                    s.stageId(),
                    s.attemptId(),
                    d.get() if d.isDefined() else None,
                    s.numTasks(),
                    s.executorRunTime() / 1e3,
                    s.executorCpuTime() / 1e9,
                    s.jvmGcTime() / 1e3,
                    s.shuffleWriteBytes() / MB,
                    s.memoryBytesSpilled() / MB,
                )
            )
        return out

    def task_run_times(self, stage: Stage) -> list[float]:
        tasks = self.store.taskList(stage.stage_id, stage.attempt, stage.tasks + 16)
        out = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime() / 1e3)
        return out

    def totals_since(self, mark: tuple[int, int]) -> dict[str, float]:
        return engine_totals(self.stages_since(mark), len(self.jobs_since(mark)))

    def persistent_rdds(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()


def engine_totals(stages: list[Stage], n_jobs: int) -> dict[str, float]:
    """Engine totals of everything that ran since a watermark."""
    return {
        "jobs": n_jobs,
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "cpu_s": sum(s.cpu_s for s in stages),
        "shuffle_mb": sum(s.shuffle_mb for s in stages),
        "spill_mb": sum(s.spill_mb for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
    }


def disk_usage(root: str) -> tuple[int, dict[str, tuple[int, int]]]:
    """(bytes, {path: (inode, size)}) of a tree, each inode counted once —
    unchanged warehouse files are hard-linked forward between snapshots."""
    files: dict[str, tuple[int, int]] = {}
    seen: set[int] = set()
    total = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.lstat(p)
            files[p] = (st.st_ino, st.st_size)
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total, files


@dataclass
class Layer:
    wall_s: float = 0.0
    rows_out: int = 0
    written_mb: float = 0.0
    files_written: int = 0
    files_linked: int = 0


class Tracer:
    """Layer spans: wall time per job group plus the layer's own counts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.layers = {name: Layer() for name in LAYERS}
        self.cached: list = []
        self.op_walls: list[dict[str, float]] = []  # per traced call: layer → wall

    @contextmanager
    def layer(self, name: str, wh_root: str | None = None):
        before = disk_usage(wh_root)[1] if wh_root else None
        span = self.layers[name]
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            dt = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            span.wall_s += dt
            self.op_walls[-1][name] = self.op_walls[-1].get(name, 0.0) + dt
            if before is not None:
                old_inodes = {ino for ino, _ in before.values()}
                for path, (ino, size) in disk_usage(wh_root)[1].items():
                    if path in before:
                        continue
                    if ino in old_inodes:
                        span.files_linked += 1
                    else:
                        span.files_written += 1
                        span.written_mb += size / MB

    def materialize(self, df):
        df = df.persist()
        self.cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def traced_pipeline(spark, transcripts, dictionary, xref_edges, cfg, tracer: Tracer) -> dict:
    """``run_pipeline`` with every layer materialised under its job group.
    Returns the triples table and the counts ``layer_metrics`` needs."""
    from kgforge import canon, extract, link, metrics, skew, triples
    from kgforge.io.tableio import Warehouse

    L = tracer.layer
    root = cfg.warehouse_root
    wh = Warehouse(root)
    tracer.op_walls.append({})
    cp_before = wh.rows(metrics.CHECKPOINT_TABLE) if wh.exists(metrics.CHECKPOINT_TABLE) else 0

    with L("metrics"):
        tr = metrics.with_lineage_part(transcripts)
        done = metrics.done_parts(wh, spark, "linked", cfg.run_id)
        todo = metrics.filter_resume(tr, done)
    with L("skew") as span:
        salted, n = tracer.materialize(
            skew.salted_repartition(
                todo.select("conv_id", "turn_idx", "text"),
                cfg.num_partitions,
                cfg.hot_threshold,
                cfg.target_rows,
            )
        )
        span.rows_out += n
    with L("extract") as span:
        mentions, n = tracer.materialize(extract.extract_mentions(salted, dictionary))
        span.rows_out += n
    with L("link") as span:
        linked, n = tracer.materialize(
            metrics.with_lineage_part(link.link_mentions(mentions, dictionary))
        )
        span.rows_out += n
    with L("metrics"):
        resuming = done is not None and done.limit(1).count() > 0
    if resuming:
        raise RuntimeError(f"run id {cfg.run_id} already has checkpoints; the trace covers fresh runs")
    with L("tableio", root) as span:
        wh.write_snapshot("linked", linked)
        linked_rows = wh.rows("linked")
        span.rows_out += linked_rows
    with L("metrics"):
        metrics.record_stage_cached(wh, linked, "linked", cfg.run_id)
    with L("canon") as span:
        cmap, n = tracer.materialize(
            canon.canonical_map_auto(dictionary.select("entity_id").distinct(), xref_edges)
        )
        span.rows_out += n
    with L("tableio", root) as span:
        wh.write_snapshot("canonical_map", cmap)
        span.rows_out += wh.rows("canonical_map")
    with L("triples") as span:
        raw, n_raw = tracer.materialize(triples.build_raw_triples(linked))
        span.rows_out += n_raw
    with L("canon") as span:
        remapped, n = tracer.materialize(canon.remap_triples(raw, cmap))
        span.rows_out += n
    with L("triples") as span:
        final, n_final = tracer.materialize(
            triples.dedup_triples(
                remapped, two_level=linked_rows >= triples.TWO_LEVEL_MIN_ROWS
            )
        )
        span.rows_out += n_final
    with L("metrics"):
        final = metrics.with_lineage_part_of(final, ["subj", "pred", "obj"])
    with L("tableio", root) as span:
        wh.merge(spark, "triples", final, keys=["subj", "pred", "obj"],
                 partition_by=["lineage_part"], source_unique=True,
                 part_determined_by_keys=True)
        span.rows_out += wh.rows("triples")
    with L("metrics"):
        metrics.record_stage_from_files(wh, "triples", "triples", cfg.run_id)
    with L("tableio", root):
        tri = wh.read(spark, "triples")
    with L("triples") as span:
        nodes, n = tracer.materialize(triples.build_nodes(tri))
        span.rows_out += n
    with L("tableio", root) as span:
        wh.merge(spark, "nodes", nodes, keys=["node_id"], source_unique=True)
        span.rows_out += wh.rows("nodes")

    checkpoint_rows = wh.rows(metrics.CHECKPOINT_TABLE)
    tracer.layers["metrics"].rows_out += checkpoint_rows - cp_before
    return {
        "triples": tri,
        "raw_rows": n_raw,
        "final_rows": n_final,
        "checkpoint_rows": checkpoint_rows,
    }


def layer_metrics(tracer: Tracer, store: StatusStore, mark, turns: int, ops: list[dict]) -> dict:
    """Per-layer metrics of the traced calls made since ``mark``.

    ``ops`` holds one dict per traced call with its raw/final triple counts
    and checkpoint rows."""
    stages = store.stages_since(mark)
    jobs = store.jobs_since(mark)
    out: dict[str, float] = {}
    for name, span in tracer.layers.items():
        mine = [s for s in stages if s.group == name]
        tot = engine_totals(mine, sum(1 for _, g in jobs if g == name))
        out.update(
            {
                f"{name}.wall_s": span.wall_s,
                f"{name}.cpu_s": tot["cpu_s"],
                f"{name}.run_s": sum(s.run_s for s in mine),
                f"{name}.jobs": tot["jobs"],
                f"{name}.tasks": tot["tasks"],
                f"{name}.shuffle_mb": tot["shuffle_mb"],
                f"{name}.spill_mb": tot["spill_mb"],
                f"{name}.gc_s": tot["gc_s"],
                f"{name}.rows_out": span.rows_out,
            }
        )
    out["extract.py_wait_s"] = out["extract.run_s"] - out["extract.cpu_s"]
    out["extract.mentions_per_turn"] = tracer.layers["extract"].rows_out / turns
    out["link.link_ratio"] = tracer.layers["link"].rows_out / tracer.layers["extract"].rows_out
    # skew shows where the salted partitions are consumed: the heaviest
    # extraction stage, whose tasks each run one salted partition
    heaviest = max((s for s in stages if s.group == "extract"), key=lambda s: s.run_s)
    times = store.task_run_times(heaviest)
    out["skew.task_skew"] = max(times) / (statistics.median(times) or 1e-3)
    out["triples.dedup_ratio"] = sum(o["final_rows"] for o in ops) / sum(o["raw_rows"] for o in ops)
    tio = tracer.layers["tableio"]
    out["tableio.written_mb"] = tio.written_mb
    out["tableio.files_written"] = tio.files_written
    out["tableio.files_linked"] = tio.files_linked
    out["metrics.checkpoint_rows"] = ops[-1]["checkpoint_rows"]
    # largest share of any one traced call spent in extract+link
    out["trace.extract_link_share"] = max(
        (w.get("extract", 0) + w.get("link", 0)) / sum(w.values()) for w in tracer.op_walls
    )
    return out
