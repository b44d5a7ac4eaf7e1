#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction pipeline.

    python tools/make_pyfiles.py     # dist/kgforge.zip, dist/kgforge-matcher.jar
    spark-submit --py-files dist/kgforge.zip --jars dist/kgforge-matcher.jar \
        jobs/run_pipeline.py \
        --transcripts <path> --dictionary <path> --xrefs <path> \
        --warehouse <dir> --run-id run-1 [--partitions 256]

``--jars`` puts the JVM mention matcher on every executor's classpath. It
may be left out when the driver has a JDK: the matcher is then compiled
from its source on first use and added to the session (kgforge.jvm); with
neither, extraction falls back to the Python matcher.

Runs extract → link → canonicalize → materialize with per-partition
checkpoints; re-running with the same --run-id resumes from the checkpoint
table (BASELINE.json: "resumable from checkpoint ... spark-submit --py-files
on multi-executor clusters"). Under spark-submit no master is forced — the
cluster manager decides; locally pass --master local[N].
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgforge.pipeline import PipelineConfig, run_pipeline  # noqa: E402
from kgforge.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--dictionary", required=True)
    ap.add_argument("--xrefs", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", default="run-1")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(master=args.master, app_name=f"kgforge-{args.run_id}")
    n_part = args.partitions or spark.sparkContext.defaultParallelism
    cfg = PipelineConfig(
        warehouse_root=args.warehouse, run_id=args.run_id, num_partitions=n_part
    )
    out = run_pipeline(
        spark,
        spark.read.parquet(args.transcripts),
        spark.read.parquet(args.dictionary),
        spark.read.parquet(args.xrefs),
        cfg,
    )
    print(json.dumps({"run_id": args.run_id, **{k: v for k, v in cfg.observed.items()}}))
    out["triples"].limit(5).show(truncate=False)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
