"""Resumability: a run killed partway (simulated as a run over a subset of
lineage parts) must, on restart with the same run_id, process only the
remaining parts and converge to exactly the clean-run output
(SURVEY.md §3.3; BASELINE.json "resumable from checkpoint")."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge import metrics
from kgforge.io.tableio import Warehouse
from kgforge.pipeline import PipelineConfig, run_pipeline


def _triples(out) -> set:
    return {
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in out["triples"].collect()
    }


def _spo(out) -> set:
    """Triple identity only. Provenance under resume is first-WRITE-wins (the
    partial attempt's first emission persists through MERGE), which can differ
    from a clean run's global first emission — same semantics as the reference
    bot's create-or-update writes. The (subj, pred, obj) set is the contract."""
    return {(r["subj"], r["pred"], r["obj"]) for r in out["triples"].collect()}


def _release(out) -> None:
    """Unpersist the cached tables run_pipeline hands its caller."""
    out["linked"].unpersist()
    out["canonical_map"].unpersist()


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _cache_rdd(df) -> int:
    """Id of the RDD holding a persisted DataFrame's cache."""
    relation = df._jdf.queryExecution().withCachedData()
    return relation.cacheBuilder().cachedColumnBuffers().id()


def test_resume_converges_to_clean_run(spark, spark_corpus, tmp_path):
    tr, d, e = spark_corpus

    clean_cfg = PipelineConfig(warehouse_root=str(tmp_path / "clean"), run_id="r1",
                               num_partitions=8, hot_threshold=200, target_rows=100)
    clean_out = run_pipeline(spark, tr, d, e, clean_cfg)
    clean = _spo(clean_out)

    # "crashed" first attempt: only even lineage parts were processed
    part = metrics.with_lineage_part(tr)
    half = part.where(F.col("lineage_part") % 2 == 0).drop("lineage_part")
    resume_cfg = PipelineConfig(warehouse_root=str(tmp_path / "resume"), run_id="r1",
                                num_partitions=8, hot_threshold=200, target_rows=100)
    half_out = run_pipeline(spark, half, d, e, resume_cfg)

    wh = Warehouse(str(tmp_path / "resume"))
    done_before = {
        r["lineage_part"]
        for r in metrics.done_parts(wh, spark, "linked", "r1").collect()
    }
    assert done_before  # checkpoint rows exist

    # restart with the FULL input and the same run_id; the resumed call
    # leaves cached only the tables it returns (canonical_map may share a
    # cache an earlier identical plan made, so compare ids, not counts)
    for prev in (clean_out, half_out):
        _release(prev)
    cached_before = _persistent_rdds(spark)
    out = run_pipeline(spark, tr, d, e, resume_cfg)
    assert _spo(out) == clean
    returned = {_cache_rdd(out["linked"]), _cache_rdd(out["canonical_map"])}
    assert _persistent_rdds(spark) - cached_before <= returned
    _release(out)

    done_after = {
        r["lineage_part"]
        for r in metrics.done_parts(wh, spark, "linked", "r1").collect()
    }
    assert done_before <= done_after and len(done_after) > len(done_before)


def test_rerun_is_idempotent(spark, spark_corpus, tmp_path):
    """Running the same pipeline twice into the same warehouse changes
    nothing (deterministic ids + MERGE)."""
    tr, d, e = spark_corpus
    cfg = PipelineConfig(warehouse_root=str(tmp_path / "wh"), run_id="r1",
                         num_partitions=8, hot_threshold=200, target_rows=100)
    first = _triples(run_pipeline(spark, tr, d, e, cfg))
    second = _triples(run_pipeline(spark, tr, d, e, cfg))
    assert first == second


def test_checkpoint_metrics_recorded(spark, spark_corpus, tmp_path):
    tr, d, e = spark_corpus
    cfg = PipelineConfig(warehouse_root=str(tmp_path / "wh"), run_id="r9",
                         num_partitions=8, hot_threshold=200, target_rows=100)
    run_pipeline(spark, tr, d, e, cfg)
    wh = Warehouse(str(tmp_path / "wh"))
    cp = wh.read(spark, "_checkpoints")
    rows = cp.where(F.col("run_id") == "r9").collect()
    stages = {r["stage"] for r in rows}
    assert {"linked", "triples"} <= stages
    assert all(r["rows_out"] >= 0 and r["status"] == "done" for r in rows)
