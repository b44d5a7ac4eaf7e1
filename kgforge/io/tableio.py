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
        pointer swap as the data — the mechanism exactly-once consumers use
        to record their progress marker (e.g. streaming graph maintenance
        stores applied_batch_id so an at-least-once foreachBatch replay is
        a no-op).

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
        with open(os.path.join(tdir, f"{snap}.manifest.json"), "w") as f:
            json.dump(manifest, f)
        # atomic pointer swap — the "commit"
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

        When the target is partitioned (single partition column matching the
        existing snapshot's layout), the merge is PARTITION-SCOPED: only the
        partitions receiving rows are anti-joined and rewritten; untouched
        partition directories are hard-linked into the new snapshot without
        reading or rewriting a byte. A full-table copy-on-write (round-1
        behavior) would rewrite 100 TB per incremental batch at scale.

        SOUNDNESS of the scoped path: the merge contract is insert-if-absent
        on ``keys`` over the WHOLE table, but the scoped anti-join only sees
        the affected partitions — that is equivalent iff the partition column
        is a FUNCTION of the merge keys (then a row with the same keys can
        only ever live in the one partition its keys map to). The scoped path
        therefore engages only when ``partition_by[0] in keys``, or when the
        caller declares the functional dependency with
        ``part_determined_by_keys=True`` (e.g. ``lineage_part =
        pmod(xxhash64(*keys), n)``). Any other layout falls back to the
        full-table anti-join — otherwise an incremental batch re-emitting an
        existing key with a different partition value would silently insert a
        duplicate (regression-tested in tests/test_tableio.py).

        WHEN the scoped path pays: with P hash partitions of the keys, a
        batch of d new rows leaves about P·e^(−d/P) partitions untouched,
        and every partition is touched once d reaches about P·ln P (the
        coupon-collector bound: 266 rows for P = 64). A batch larger than
        that gets a full rewrite plus a probe job and P directories to
        write and list again on every read. So partition a table only when
        its batches stay well below P·ln P rows. ``pipeline.merge_triples``
        writes one unpartitioned file set: its batches reach that size (a
        10% delta of perfbench's corpus adds about 2,000 triples).

        ``source_unique=True`` declares new_df already unique on ``keys``
        (e.g. the output of an aggregation grouped by them) and skips the
        defensive dropDuplicates — at scale that is one full shuffle of the
        entire source avoided in the sink.
        """
        if self.fmt == "iceberg":
            return self._iceberg_merge(spark, table, new_df, keys, partition_by)
        dedup = (lambda df: df) if source_unique else (
            lambda df: df.dropDuplicates(keys)
        )
        if not self.exists(table):
            return self.write_snapshot(table, dedup(new_df), partition_by)
        scoped_sound = partition_by is not None and len(partition_by) == 1 and (
            partition_by[0] in keys or part_determined_by_keys
        )
        if scoped_sound:
            prev = [m for m in self.snapshots(table)
                    if m["snapshot_id"] == self.latest_snapshot(table)]
            if prev and prev[0].get("partition_by") == partition_by:
                # The scoped path evaluates new_df twice (affected-partition
                # probe, then the anti-join) — persist across both uses
                # unless the caller already did.
                from pyspark import StorageLevel

                we_persisted = new_df.storageLevel == StorageLevel(
                    False, False, False, False
                )
                if we_persisted:
                    new_df = new_df.persist()
                try:
                    scoped = self._merge_partition_scoped(
                        spark, table, new_df, keys, partition_by[0],
                        source_unique=source_unique,
                    )
                finally:
                    if we_persisted:
                        new_df.unpersist()
                if scoped is not None:
                    return scoped
        existing = self.read(spark, table)
        inserts = dedup(new_df).join(
            existing.select(*keys), keys, "left_anti"
        )
        merged = existing.unionByName(inserts)
        return self.write_snapshot(table, merged, partition_by)

    def _merge_partition_scoped(
        self,
        spark: SparkSession,
        table: str,
        new_df: DataFrame,
        keys: list[str],
        part_col: str,
        source_unique: bool = False,
    ) -> str | None:
        """Rewrite only the partitions present in new_df; hard-link the rest.

        Only called when the partition column is a function of the merge keys
        (see ``merge``). Returns None (caller falls back to full rewrite)
        when a partition value is NULL or its Hive directory encoding could
        differ from ``str(value)``.
        """
        import glob
        import re

        from pyspark.sql import functions as F

        affected = [r[0] for r in new_df.select(part_col).distinct().collect()]
        if self._scoped_guard(affected) is None:
            return None

        existing_aff = self.read(spark, table).where(
            F.col(part_col).isin(affected)
        )  # partition-pruned scan: only affected directories are read
        src = new_df if source_unique else new_df.dropDuplicates(keys)
        inserts = src.join(
            existing_aff.select(*keys), keys, "left_anti"
        )
        merged_aff = existing_aff.unionByName(inserts)
        return self._commit_partition_rewrite(
            table, merged_aff, part_col, affected,
            schema_str=new_df.schema.simpleString(),
            meta={"merge_scope": sorted(str(v) for v in affected)},
        )

    @staticmethod
    def _scoped_guard(affected: list) -> list | None:
        """None when a partition value can't take the scoped path: NULL, or
        a value whose Hive directory encoding could differ from str(value)
        (Spark percent-escapes special characters, so a mismatch would
        leave the stale old partition dir hard-linked ALONGSIDE the
        rewritten one — duplicated rows). Integers and simple alphanumeric
        strings are identity-encoded."""
        import re

        if any(v is None for v in affected):
            return None
        for v in affected:
            if not isinstance(v, int) and not (
                isinstance(v, str) and re.fullmatch(r"[0-9A-Za-z._-]+", v)
            ):
                return None
        return affected

    def _commit_partition_rewrite(
        self,
        table: str,
        merged_aff: DataFrame,
        part_col: str,
        affected: list,
        schema_str: str,
        meta: dict | None = None,
    ) -> str | None:
        """Write ``merged_aff`` as the new content of the ``affected``
        partitions, hard-link every other partition from the current
        snapshot, and commit atomically. Shared tail of the scoped MERGE
        and the scoped replace/upsert paths. Returns None (caller falls
        back to a full rewrite) when Spark's written directory names don't
        match the predicted encoding."""
        import glob

        from pyspark.sql import functions as F

        affected_dirs = {f"{part_col}={v}" for v in affected}
        old_snap = self.latest_snapshot(table)
        old_dir = os.path.join(self._tdir(table), old_snap)
        old_part_dirs = [
            e for e in os.listdir(old_dir)
            if os.path.isdir(os.path.join(old_dir, e)) and e.startswith(f"{part_col}=")
        ]

        tdir = self._tdir(table)
        snap = self._next_snapshot_id(table)
        data_dir = os.path.join(tdir, snap)
        merged_aff.repartition(F.col(part_col)).write.mode(
            "overwrite"
        ).partitionBy(part_col).parquet(data_dir)

        # Verify against the directories Spark ACTUALLY wrote: every written
        # partition dir must be one we predicted (same encoding), else the
        # hard-link pass below could duplicate a partition under two names.
        # Abandoning the uncommitted data dir is safe — the LATEST pointer
        # has not been swapped, so readers never see it.
        written = {
            e for e in os.listdir(data_dir)
            if os.path.isdir(os.path.join(data_dir, e)) and "=" in e
        }
        if not written <= affected_dirs:
            shutil.rmtree(data_dir, ignore_errors=True)
            return None

        # Carry untouched partitions into the new snapshot as hard links —
        # same inode, zero data movement, byte-identical (asserted in
        # tests/test_tableio.py).
        for entry in old_part_dirs:
            if entry in affected_dirs:
                continue
            src, dst = os.path.join(old_dir, entry), os.path.join(data_dir, entry)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.endswith(".parquet"):
                    os.link(os.path.join(src, fn), os.path.join(dst, fn))

        # Row count from parquet footers — metadata-only, no data scan.
        import pyarrow.parquet as pq

        n_rows = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
        )
        manifest = {
            "snapshot_id": snap,
            "parent": old_snap,
            "rows": n_rows,
            "schema": schema_str,
            "committed_at": time.time(),
            "partition_by": [part_col],
            **(meta or {}),
        }
        with open(os.path.join(tdir, f"{snap}.manifest.json"), "w") as f:
            json.dump(manifest, f)
        tmp = self._latest_file(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap)
        os.replace(tmp, self._latest_file(table))
        return snap

    def replace_partitions_scoped(
        self,
        spark: SparkSession,
        table: str,
        content: DataFrame,
        part_col: str,
        affected: list,
        meta: dict | None = None,
    ) -> str:
        """REPLACE the ``affected`` partitions' content with ``content``
        (which must contain only rows whose ``part_col`` is in ``affected``)
        and hard-link every other partition — the general scoped-write
        primitive under stateful maintenance (upserts AND deletes: a key
        absent from ``content`` but present in the old partition is gone).

        Exactly-once consumers pass their progress marker via ``meta``: it
        rides the manifest and commits in the SAME atomic pointer swap as
        the data (the write_snapshot contract). Falls back to a FULL
        rewrite preserving semantics when the scoped guards decline
        (non-identity-encoded partition values) — correctness never depends
        on the scoped path engaging."""
        from pyspark.sql import functions as F

        if self.exists(table) and self._scoped_guard(affected) is not None:
            snap = self._commit_partition_rewrite(
                table, content, part_col, affected,
                schema_str=content.schema.simpleString(),
                meta={**(meta or {}), "replace_scope": sorted(str(v) for v in affected)},
            )
            if snap is not None:
                return snap
        if self.exists(table):
            untouched = self.read(spark, table).where(
                ~F.col(part_col).isin(affected)
            )
            content = untouched.unionByName(content)
        return self.write_snapshot(table, content, [part_col], meta=meta)

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
        partitions are hard-linked — zero data movement, same mechanism as
        the partition-scoped MERGE. The manifest inherits the old row count
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
        with open(os.path.join(tdir, f"{snap}.manifest.json"), "w") as f:
            json.dump(manifest, f)
        tmp = self._latest_file(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap)
        os.replace(tmp, self._latest_file(table))
        return snap

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
        with open(os.path.join(tdir, f"{snap}.manifest.json"), "w") as f:
            json.dump(manifest, f)
        tmp = self._latest_file(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap)
        os.replace(tmp, self._latest_file(table))
        return snap

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)
