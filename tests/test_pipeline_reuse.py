"""Per-call fixed cost of ``run_pipeline``: work a warm call must not repeat.

- Generated code: a repeated call compiles no new classes, because the
  session's codegen cache holds a whole call (kgforge/session.py).
- Extraction: the JVM matcher runs once per call, although the broadcast
  head and the sort-merge tail of the link join both read the mentions.
- Python: a call starts no Python worker process (matcher, canonical map
  and resume set all stay in the JVM).
- Registry session: every key built on mentions or linked mentions reads
  one session cut, so a session runs the matcher once however many such
  keys it serves. The session store (``_util.session_memo``) builds each
  (application, sf_dir, name) cut once.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

from kgforge import extract, jvm, registry
from kgforge.io.tableio import Warehouse
from kgforge.pipeline import PipelineConfig, run_pipeline
from tests.conftest import SF_TINY
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


def _is_matcher(plan) -> bool:
    """The JVM matcher's node: the Generate that explodes its matches."""
    return (plan.nodeName() == "Generate"
            and f"{jvm.MATCHER_FUNCTION}(" in plan.simpleString(100))


def _count_nodes(gateway, plan, seen: set) -> int:
    """Matcher nodes (``_is_matcher``) in an executed plan, reading through
    adaptive plans and query stages. A cached relation's plan is counted
    once, at its first scan: it runs once however many scans read the
    cache."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif cls == "ReusedExchangeExec":
        kids = [plan.child()]
    elif cls == "InMemoryTableScanExec":
        cache = plan.relation().cacheBuilder()
        key = gateway.java.lang.System.identityHashCode(cache)
        kids = [] if key in seen else [cache.cachedPlan()]
        seen.add(key)
    else:
        kids = _seq(plan.children())
    return int(_is_matcher(plan)) + sum(_count_nodes(gateway, k, seen) for k in kids)


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
    n = _count_nodes(spark._jvm, plan, set())
    _release(out)
    assert n == 1, n


SESSION_KEYS = ["pipe_triples", "kg_fusion", "graph_degree", "udf_link",
                "udf_mentions", "udf_score_arrow", "graph_remap", "graph_nodes"]


def test_session_runs_matcher_once(spark, tmp_path, monkeypatch):
    # a fresh sf_dir path: no session cut an earlier test built applies
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(SF_TINY, "documents.parquet"), sf)
    calls = []
    real = extract.extract_mentions

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(extract, "extract_mentions", spy)
    ops = registry.all_ops()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    seen: set = set()
    n = 0
    for key in SESSION_KEYS:
        df = ops[key].fn(spark, str(sf))
        df.collect()
        n += _count_nodes(spark._jvm, df._jdf.queryExecution().executedPlan(), seen)
    added = persistent().size() - before
    assert len(calls) == 1, len(calls)
    assert n == 1, n
    # transcripts, dictionary, xref edges, canonical map, linked mentions,
    # remapped triples, final triples
    assert added <= 7, added


def test_session_memo_builds_once_per_app_sf_dir_and_name(monkeypatch):
    # no Spark: the store only reads sparkContext.applicationId
    from types import SimpleNamespace

    from kgforge.ops import _util

    monkeypatch.setattr(_util, "_SESSION_CUTS", {})
    built = []

    def get(app, sf_dir, name):
        stub = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))

        def build():
            built.append((app, sf_dir, name))
            return object()

        return _util.session_memo(stub, sf_dir, name, build)

    first = get("app-1", "/sf", "linked")
    assert get("app-1", "/sf", "linked") is first
    assert len(built) == 1
    others = [("app-2", "/sf", "linked"), ("app-1", "/sf2", "linked"),
              ("app-1", "/sf", "triples")]
    for key in others:
        assert get(*key) is not first
        assert get(*key) is get(*key)
    assert built == [("app-1", "/sf", "linked"), *others]


_RUN_AND_LIST_WORKERS = """
import os, sys
import pandas as pd
from kgforge import synth
from kgforge.pipeline import PipelineConfig, run_pipeline
from kgforge.session import get_spark

spark = get_spark("local[2]", shuffle_partitions=4)
c = synth.tiny_corpus(seed=42)

def frame(rows, cols, schema):  # through Arrow: no PythonRDD of the input
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)), schema)

tr = frame(c.transcripts, c.transcript_cols, "conv_id string, turn_idx int, "
           "role string, text string, tool string, ts timestamp")
d = frame(c.dictionary, c.dictionary_cols,
          "surface string, entity_id string, curie string, prior double")
e = frame(c.xref_edges, c.xref_cols, "src string, dst string, source string")
out = run_pipeline(spark, tr, d, e, PipelineConfig(
    warehouse_root=sys.argv[1], num_partitions=8, target_rows=100))
assert out["triples"].count() > 0
kids = {}
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as f:
            kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(pid)
    except OSError:
        pass
todo = list(kids.get(spark.sparkContext._gateway.proc.pid, []))
while todo:
    pid = todo.pop()
    todo += kids.get(int(pid), [])
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        print(f.read().replace(b"\\0", b" ").decode().strip())
"""


def test_run_pipeline_starts_no_python_worker(tmp_path):
    """In a fresh session (no earlier test's workers), a run_pipeline call
    leaves no process under the JVM: pyspark.daemon forks Python workers
    only for Python UDFs and PythonRDDs, and the call has neither."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "KGFORGE_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _RUN_AND_LIST_WORKERS, str(tmp_path / "wh")],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines() == []
