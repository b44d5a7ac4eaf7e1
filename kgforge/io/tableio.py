"""Snapshot table warehouse with idempotent MERGE — Iceberg semantics behind
one format switch (SURVEY.md §0.2 design consequence).

The contract mandates Iceberg `MERGE INTO` materialization with snapshot
lineage (BASELINE.json north_star). This sandbox has no Iceberg runtime jar,
so the same call surface is implemented over a parquet warehouse:

    <root>/<table>/snap-000001/part-*.parquet   -- immutable snapshot data
    <root>/<table>/snap-000001.manifest.json    -- row count, parent, schema
    <root>/<table>/LATEST                       -- pointer file, atomically swapped

- ``write_snapshot`` = Iceberg append/overwrite commit.
- ``merge`` = `MERGE INTO t USING s ON keys WHEN NOT MATCHED THEN INSERT`:
  emulated as ``existing ⟕anti new ∪ new`` written to a NEW snapshot then an
  atomic pointer swap (os.replace). Re-merging identical rows is a no-op in
  content — the idempotence the reference bot got from create-or-update
  writes (SURVEY.md §2.A A8).
- ``read(..., snapshot=...)`` = time travel.

When an ``iceberg-spark-runtime`` jar is on the classpath, ``Warehouse``
can be constructed with ``fmt="iceberg"`` and the same methods issue real
``writeTo``/``MERGE INTO`` SQL (kept minimal here; the fallback is the path
tests and benches exercise).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class Warehouse:
    def __init__(self, root: str, fmt: str = "parquet", catalog: str = "local"):
        if fmt not in ("parquet", "iceberg"):
            raise ValueError(f"unsupported warehouse format {fmt!r}")
        self.root = root
        self.fmt = fmt
        self.catalog = catalog
        os.makedirs(root, exist_ok=True)

    # -- Iceberg SQL surface ----------------------------------------------
    # These render the exact statements the fmt="iceberg" path issues when
    # an iceberg-spark-runtime jar is present. They are pure string
    # builders so the production path stays unit-testable in this sandbox
    # (no jar): tests/test_tableio.py asserts the rendered SQL.
    def iceberg_table_ident(self, table: str) -> str:
        return f"{self.catalog}.{table}"

    def iceberg_merge_stmt(
        self, table: str, keys: list[str], cols: list[str],
        source_view: str = "_kgforge_merge_src",
    ) -> str:
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        collist = ", ".join(cols)
        vals = ", ".join(f"s.{c}" for c in cols)
        return (
            f"MERGE INTO {self.iceberg_table_ident(table)} t "
            f"USING {source_view} s ON {on} "
            f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vals})"
        )

    def iceberg_create_stmt(
        self, table: str, schema_ddl: str, partition_by: list[str] | None = None
    ) -> str:
        part = (
            f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
        )
        return (
            f"CREATE TABLE IF NOT EXISTS {self.iceberg_table_ident(table)} "
            f"({schema_ddl}) USING iceberg{part}"
        )

    def _iceberg_merge(
        self,
        spark: SparkSession,
        table: str,
        new_df: DataFrame,
        keys: list[str],
        partition_by: list[str] | None,
    ) -> str:
        """Real Iceberg MERGE INTO (requires iceberg-spark-runtime + catalog
        conf). Iceberg's own copy-on-write/merge-on-read handles partition
        scoping; snapshot ids come from the table metadata."""
        ident = self.iceberg_table_ident(table)
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in new_df.schema.fields)
        spark.sql(self.iceberg_create_stmt(table, ddl, partition_by))
        new_df.dropDuplicates(keys).createOrReplaceTempView("_kgforge_merge_src")
        spark.sql(self.iceberg_merge_stmt(table, keys, new_df.columns))
        snap = spark.sql(
            f"SELECT snapshot_id FROM {ident}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return str(snap[0])

    # -- paths ------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _latest_file(self, table: str) -> str:
        return os.path.join(self._tdir(table), "LATEST")

    def latest_snapshot(self, table: str) -> str | None:
        p = self._latest_file(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip()

    def snapshots(self, table: str) -> list[dict]:
        tdir = self._tdir(table)
        if not os.path.isdir(tdir):
            return []
        out = []
        for fn in sorted(os.listdir(tdir)):
            if fn.endswith(".manifest.json"):
                with open(os.path.join(tdir, fn)) as f:
                    out.append(json.load(f))
        return out

    def exists(self, table: str) -> bool:
        return self.latest_snapshot(table) is not None

    def rows(self, table: str, snapshot: str | None = None) -> int:
        """Row count from the snapshot manifest — no table scan."""
        snap = snapshot or self.latest_snapshot(table)
        with open(os.path.join(self._tdir(table), f"{snap}.manifest.json")) as f:
            return json.load(f)["rows"]

    # -- read -------------------------------------------------------------
    def read(self, spark: SparkSession, table: str, snapshot: str | None = None) -> DataFrame:
        """The snapshot as a DataFrame. An unpartitioned snapshot written by
        ``write_snapshot`` is read with the schema its manifest recorded, so
        building the DataFrame starts no Spark job (inferring the schema
        runs one to read a footer; a partitioned snapshot still lists its
        directories, and discovers the partition column's type from them)."""
        snap = snapshot or self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table!r} has no snapshot in {self.root}")
        path = os.path.join(self._tdir(table), snap)
        meta = self.snapshot_meta(table, snap)
        if meta.get("schema_json") and not meta.get("partition_by"):
            schema = StructType.fromJson(json.loads(meta["schema_json"]))
            return spark.read.schema(schema).parquet(path)
        return spark.read.parquet(path)

    def changes(
        self,
        spark: SparkSession,
        table: str,
        from_snapshot: str,
        to_snapshot: str | None = None,
    ) -> DataFrame:
        """Change data feed between two snapshots (Iceberg/Delta CDF
        semantics): every row added between ``from_snapshot`` and
        ``to_snapshot`` tagged ``change_type='insert'``, every row removed
        tagged ``'delete'``. An update surfaces as delete + insert (this
        warehouse is insert-only via merge, so updates only arise from
        overwriting write_snapshot calls).

        Parquet-fallback cost model: the diff is two ``exceptAll`` passes —
        one shuffle of each snapshot on the full row. That is the honest
        floor without per-file lineage; the fmt="iceberg" path would read
        the changelog from table metadata instead (manifest-level diff, no
        data shuffle for unchanged files). Batch CDC consumers downstream
        (incremental re-extraction, index refresh) only ever see the delta,
        which is the property that matters at 100 TB.
        """
        from pyspark.sql import functions as F

        old = self.read(spark, table, from_snapshot)
        new = self.read(spark, table, to_snapshot or self.latest_snapshot(table))
        ins = new.exceptAll(old).withColumn("change_type", F.lit("insert"))
        dels = old.exceptAll(new).withColumn("change_type", F.lit("delete"))
        return ins.unionByName(dels)

    # -- write ------------------------------------------------------------
    def _next_snapshot_id(self, table: str) -> str:
        existing = [m["snapshot_id"] for m in self.snapshots(table)]
        n = 1 + max((int(s.split("-")[1]) for s in existing), default=0)
        return f"snap-{n:06d}"

    def snapshot_meta(self, table: str, snapshot: str | None = None) -> dict:
        """The snapshot's manifest dict (includes any caller `meta` keys
        committed with write_snapshot). Empty dict for a missing table —
        callers treat absent keys as 'never applied'."""
        snap = snapshot or self.latest_snapshot(table)
        if snap is None:
            return {}
        with open(os.path.join(self._tdir(table), f"{snap}.manifest.json")) as f:
            return json.load(f)

    def write_snapshot(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
        align: bool = True,
    ) -> str:
        """Commit df as a new snapshot and swap the LATEST pointer atomically.

        ``meta`` keys ride the manifest and commit in the SAME atomic
        pointer swap as the data (``compact`` records ``compacted_from``
        this way), so a progress marker stored there can never disagree
        with the data it describes.

        ``align=False`` skips the pre-write repartition on the partition
        columns, writing one file per (task, partition value) — the
        small-file explosion that incremental/streaming sinks produce in
        the wild. Exists so tests and the sink_compact key can reproduce a
        fragmented layout deliberately; production writes keep the
        default."""
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        snap = self._next_snapshot_id(table)
        data_dir = os.path.join(tdir, snap)
        # Row count rides the write action as an observed metric — a second
        # full read of the snapshot just to count would double the write cost
        # of every commit at scale.
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        if partition_by and align:
            # Align physical partitions with the partition columns first: a
            # partitioned write from N shuffle partitions × P partition values
            # otherwise fans out to N×P small files (file-count explosion —
            # measured as a flat, non-scaling write stage).
            df = df.repartition(*[F.col(c) for c in partition_by])
        writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        n_rows = obs.get["rows"]
        manifest = {
            "snapshot_id": snap,
            "parent": self.latest_snapshot(table),
            "rows": n_rows,
            "schema": df.schema.simpleString(),
            "schema_json": df.schema.json(),
            "committed_at": time.time(),
            "partition_by": partition_by or [],
            **(meta or {}),
        }
        return self._commit(table, manifest)

    def _commit(self, table: str, manifest: dict) -> str:
        """Write the snapshot's manifest, then swap the LATEST pointer to it
        atomically (os.replace) — the commit point: until the swap, readers
        see the previous snapshot and the new data dir is invisible."""
        snap = manifest["snapshot_id"]
        with open(os.path.join(self._tdir(table), f"{snap}.manifest.json"), "w") as f:
            json.dump(manifest, f)
        tmp = self._latest_file(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap)
        os.replace(tmp, self._latest_file(table))
        return snap

    def merge(
        self,
        spark: SparkSession,
        table: str,
        new_df: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
        source_unique: bool = False,
        part_determined_by_keys: bool = False,
    ) -> str:
        """MERGE INTO (insert-if-absent on keys). Idempotent by construction.

        The parquet emulation anti-joins the WHOLE existing table on ``keys``
        and writes ``existing ⟕anti new ∪ new`` as a new snapshot, so every
        merge rewrites the table. Rewriting only the partitions a batch
        touches does not pay here: with P hash partitions, a batch of d rows
        touches about P·(1 − e^(−d/P)) of them (all of them once d nears
        P·ln P, 266 rows for P = 64), and a scoped rewrite costs a probe job
        plus P directories to write and to list on every read. The
        fmt="iceberg" path hands the merge to MERGE INTO, which prunes files
        itself.

        ``partition_by`` sets the snapshot's directory layout (and the
        Iceberg table's PARTITIONED BY); it does not change what is merged.

        ``source_unique=True`` declares new_df already unique on ``keys``
        (e.g. the output of an aggregation grouped by them) and skips the
        defensive dropDuplicates — at scale that is one full shuffle of the
        entire source avoided in the sink.

        ``part_determined_by_keys`` is accepted and ignored. It goes with
        its last caller, the benchmark's traced copy of the pipeline
        (``perfbench/layers.py`` ``traced_pipeline``), as ``hot_threshold``
        does.
        """
        del part_determined_by_keys  # see docstring
        if self.fmt == "iceberg":
            return self._iceberg_merge(spark, table, new_df, keys, partition_by)
        if not source_unique:
            new_df = new_df.dropDuplicates(keys)
        if not self.exists(table):
            return self.write_snapshot(table, new_df, partition_by)
        existing = self.read(spark, table)
        inserts = new_df.join(existing.select(*keys), keys, "left_anti")
        return self.write_snapshot(table, existing.unionByName(inserts), partition_by)

    def iceberg_rewrite_stmt(self, table: str) -> str:
        """The rewrite_data_files call the fmt="iceberg" compact path
        issues (binpacks from manifest file stats — unaffected files are
        never read). Pure string builder, asserted cold in tests."""
        return (
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{table}', options => map('min-input-files', '2'))"
        )

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> str:
        """Small-file compaction (Iceberg ``rewrite_data_files`` binpack
        semantics): rewrite partitions fragmented into more data files than
        their bytes justify, hard-link already-compact partitions unchanged,
        and commit as a new snapshot with IDENTICAL content. Returns the
        current snapshot id without committing anything when no partition
        needs rewriting — a no-op compaction never creates a snapshot.

        Scale contract: incremental/streaming sinks fragment a table into
        one file per micro-batch per partition, and scans then pay a
        per-file open cost that grows without bound (the classic small-file
        problem). Compaction must move each affected byte exactly once:
        affected partitions are read in ONE job restricted to their
        directories and rewritten aligned to the partition column; untouched
        partitions are hard-linked into the new snapshot — zero data
        movement. The manifest inherits the old row count and schema
        (content-identical by construction; recounting would double every
        compaction's cost) and records ``compacted_from``.
        """
        import math

        from pyspark.sql import functions as F

        if self.fmt == "iceberg":
            spark.sql(self.iceberg_rewrite_stmt(table))
            ident = self.iceberg_table_ident(table)
            snap = spark.sql(
                f"SELECT snapshot_id FROM {ident}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).first()
            return str(snap[0])

        old_snap = self.latest_snapshot(table)
        if old_snap is None:
            raise FileNotFoundError(f"table {table!r} has no snapshot in {self.root}")
        meta = self.snapshot_meta(table)
        part_by = meta.get("partition_by") or []
        old_dir = os.path.join(self._tdir(table), old_snap)

        def _pq_files(d: str) -> list[str]:
            return [
                os.path.join(d, fn)
                for fn in os.listdir(d)
                if fn.endswith(".parquet")
            ]

        def _n_target(files: list[str]) -> int:
            return max(
                1, math.ceil(sum(os.path.getsize(f) for f in files) / target_file_bytes)
            )

        tdir = self._tdir(table)
        if not part_by:
            files = _pq_files(old_dir)
            n_out = _n_target(files)
            if len(files) <= n_out:
                return old_snap
            snap = self._next_snapshot_id(table)
            data_dir = os.path.join(tdir, snap)
            # coalesce, not repartition: compaction of an unpartitioned
            # table is a pure narrow read-small/write-big pass, zero shuffle
            spark.read.parquet(old_dir).coalesce(n_out).write.mode(
                "overwrite"
            ).parquet(data_dir)
        else:
            part_col = part_by[0]
            part_dirs = [
                e for e in os.listdir(old_dir)
                if os.path.isdir(os.path.join(old_dir, e))
                and e.startswith(f"{part_col}=")
            ]
            affected = [
                e for e in part_dirs
                if len(_pq_files(os.path.join(old_dir, e)))
                > _n_target(_pq_files(os.path.join(old_dir, e)))
            ]
            if not affected:
                return old_snap
            snap = self._next_snapshot_id(table)
            data_dir = os.path.join(tdir, snap)
            # ONE job over only the fragmented partitions' bytes: basePath
            # keeps the partition column, the repartition co-locates each
            # value (a shuffle of exactly the bytes that must be rewritten
            # anyway), and the aligned write emits one file per value.
            src = spark.read.option("basePath", old_dir).parquet(
                *[os.path.join(old_dir, e) for e in affected]
            )
            src.repartition(F.col(part_col)).write.mode("overwrite").partitionBy(
                part_col
            ).parquet(data_dir)
            written = {
                e for e in os.listdir(data_dir)
                if os.path.isdir(os.path.join(data_dir, e)) and "=" in e
            }
            if written != set(affected):
                # Hive-encoding round-trip mismatch: abandon the uncommitted
                # dir (LATEST never swapped, readers never see it) and fall
                # back to a full aligned rewrite — correct, moves every byte
                # once.
                shutil.rmtree(data_dir, ignore_errors=True)
                return self.write_snapshot(
                    table, self.read(spark, table), part_by,
                    meta={"compacted_from": old_snap},
                )
            for e in part_dirs:
                if e in written:
                    continue
                src_d, dst_d = os.path.join(old_dir, e), os.path.join(data_dir, e)
                os.makedirs(dst_d, exist_ok=True)
                for f in _pq_files(src_d):
                    os.link(f, os.path.join(dst_d, os.path.basename(f)))

        manifest = {
            "snapshot_id": snap,
            "parent": old_snap,
            "rows": meta["rows"],
            "schema": meta["schema"],
            "committed_at": time.time(),
            "partition_by": part_by,
            "compacted_from": old_snap,
        }
        # the schema ``read`` builds the DataFrame from without a job
        if "schema_json" in meta:
            manifest["schema_json"] = meta["schema_json"]
        return self._commit(table, manifest)

    def read_local(self, table: str):
        """The latest snapshot of a SMALL unpartitioned table as a pandas
        DataFrame, read on the driver with pyarrow — zero Spark jobs."""
        import glob

        import pandas as pd
        import pyarrow.parquet as pq

        snap = self.latest_snapshot(table)
        files = glob.glob(os.path.join(self._tdir(table), snap, "*.parquet"))
        return pd.concat(
            [pq.read_table(f).to_pandas() for f in files], ignore_index=True
        )

    def merge_local(self, table: str, pdf, keys: list[str]) -> str:
        """Driver-side MERGE for SMALL tables (checkpoint/metrics rows):
        pyarrow read-modify-write, zero Spark jobs, same snapshot layout so
        Spark reads it like any other table. Tables here are O(stages ×
        lineage_parts) rows — launching a distributed job per checkpoint
        write costs more than the data."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = pdf.drop_duplicates(subset=keys)
        if self.exists(table):
            existing = self.read_local(table)
            mask = ~pdf.set_index(keys).index.isin(existing.set_index(keys).index)
            merged = pd.concat([existing, pdf[mask.tolist()]], ignore_index=True)
        else:
            merged = pdf
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        snap = self._next_snapshot_id(table)
        data_dir = os.path.join(tdir, snap)
        os.makedirs(data_dir, exist_ok=True)
        tbl = pa.Table.from_pandas(merged, preserve_index=False)
        pq.write_table(tbl, os.path.join(data_dir, "part-00000.parquet"))
        manifest = {
            "snapshot_id": snap,
            "parent": self.latest_snapshot(table),
            "rows": len(merged),
            "schema": str(tbl.schema).replace("\n", ", "),
            "committed_at": time.time(),
            "partition_by": [],
        }
        return self._commit(table, manifest)

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)
