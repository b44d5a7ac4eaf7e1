"""Per-call fixed cost of ``run_pipeline``: work a warm call must not repeat.

- Generated code: a repeated call compiles no new classes, because the
  session's codegen cache holds a whole call (kgforge/session.py).
- Extraction: the Python matcher runs once per call, although the broadcast
  head and the sort-merge tail of the link join both read the mentions.
"""

from __future__ import annotations

from kgforge.io.tableio import Warehouse
from kgforge.pipeline import PipelineConfig, run_pipeline
from tests.test_resume import _release


def _cfg(root) -> PipelineConfig:
    return PipelineConfig(warehouse_root=str(root), run_id="r1",
                          num_partitions=8, hot_threshold=200, target_rows=100)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_call_compiles_no_code(spark, spark_corpus, tmp_path):
    tr, d, e = spark_corpus
    added = []
    for i in range(3):
        before = _compiles(spark)
        _release(run_pipeline(spark, tr, d, e, _cfg(tmp_path / f"wh{i}")))
        added.append(_compiles(spark) - before)
    # the first call may compile what no earlier test needed; every later
    # call finds all of its classes in the cache
    assert added[1:] == [0, 0], added


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _count_nodes(jvm, plan, name: str, seen: set) -> int:
    """Nodes called ``name`` in an executed plan, reading through adaptive
    plans and query stages. A cached relation's plan is counted once, at its
    first scan: it runs once however many scans read the cache."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif cls == "ReusedExchangeExec":
        kids = [plan.child()]
    elif cls == "InMemoryTableScanExec":
        cache = plan.relation().cacheBuilder()
        key = jvm.java.lang.System.identityHashCode(cache)
        kids = [] if key in seen else [cache.cachedPlan()]
        seen.add(key)
    else:
        kids = _seq(plan.children())
    return int(plan.nodeName() == name) + sum(
        _count_nodes(jvm, k, name, seen) for k in kids
    )


def test_linked_runs_matcher_once(spark, spark_corpus, tmp_path, monkeypatch):
    tr, d, e = spark_corpus
    written = {}
    write = Warehouse.write_snapshot

    def capture(self, table, df, *args, **kwargs):
        written.setdefault(table, df)
        return write(self, table, df, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "write_snapshot", capture)
    out = run_pipeline(spark, tr, d, e, _cfg(tmp_path / "wh"))
    plan = written["linked"]._jdf.queryExecution().executedPlan()
    n = _count_nodes(spark._jvm, plan, "MapInPandas", set())
    _release(out)
    assert n == 1, n
