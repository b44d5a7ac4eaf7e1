"""Snapshot warehouse semantics: atomic commits, time travel, MERGE
idempotence (the Iceberg-emulation layer, SURVEY.md §0.2)."""

from __future__ import annotations

from kgforge.io.tableio import Warehouse


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_snapshot_write_read_roundtrip(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    df = spark.range(10).withColumnRenamed("id", "k")
    snap = wh.write_snapshot("t", df)
    assert snap == "snap-000001"
    assert _rows(wh.read(spark, "t")) == [(i,) for i in range(10)]


def test_time_travel(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    wh.write_snapshot("t", spark.range(3).withColumnRenamed("id", "k"))
    wh.write_snapshot("t", spark.range(5).withColumnRenamed("id", "k"))
    assert len(_rows(wh.read(spark, "t"))) == 5
    assert len(_rows(wh.read(spark, "t", snapshot="snap-000001"))) == 3
    manifests = wh.snapshots("t")
    assert [m["snapshot_id"] for m in manifests] == ["snap-000001", "snap-000002"]
    assert manifests[1]["parent"] == "snap-000001"


def test_merge_inserts_only_new_keys(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    wh.merge(spark, "t", a, keys=["k"])
    wh.merge(spark, "t", b, keys=["k"])
    got = dict(_rows(wh.read(spark, "t")))
    # insert-if-absent: existing key 2 keeps its original value
    assert got == {1: "a", 2: "b", 3: "c"}


def test_merge_idempotent(spark, tmp_path):
    """Re-merging identical rows is a content no-op — the property that makes
    pipeline restarts safe (reference bot's create-or-update, §2.A A8)."""
    wh = Warehouse(str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    wh.merge(spark, "t", df, keys=["k"])
    before = _rows(wh.read(spark, "t"))
    wh.merge(spark, "t", df, keys=["k"])
    wh.merge(spark, "t", df, keys=["k"])
    assert _rows(wh.read(spark, "t")) == before


def test_merge_dedups_source(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (1, "a2")], "k int, v string")
    wh.merge(spark, "t", df, keys=["k"])
    assert len(_rows(wh.read(spark, "t"))) == 1


def test_latest_pointer_survives_partial_table_state(spark, tmp_path):
    """Readers always see the last committed snapshot; an uncommitted data dir
    (crash before pointer swap) is invisible."""
    wh = Warehouse(str(tmp_path))
    wh.write_snapshot("t", spark.range(4).withColumnRenamed("id", "k"))
    # simulate a crashed writer: data dir exists, manifest+pointer never swapped
    (tmp_path / "t" / "snap-000099").mkdir()
    assert wh.latest_snapshot("t") == "snap-000001"
    assert len(_rows(wh.read(spark, "t"))) == 4


def test_partition_scoped_merge_idempotent(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "k int, v string, lineage_part int"
    )
    wh.merge(spark, "t", df, keys=["k"], partition_by=["lineage_part"],
             part_determined_by_keys=True)
    before = _rows(wh.read(spark, "t").select("k", "v", "lineage_part"))
    wh.merge(spark, "t", df, keys=["k"], partition_by=["lineage_part"],
             part_determined_by_keys=True)
    after = _rows(wh.read(spark, "t").select("k", "v", "lineage_part"))
    assert before == after and wh.rows("t") == 2


def test_merge_scoped_path_refused_without_key_dependency(spark, tmp_path):
    """THE soundness regression (round-2 advice): keys=(k) but the partition
    column is provenance (NOT a function of k). A batch re-emitting an
    existing key under a DIFFERENT partition value must not insert a
    duplicate — the scoped path must be refused and the full-table anti-join
    taken."""
    wh = Warehouse(str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "k int, v string, prov_part int"
    )
    wh.merge(spark, "t", base, keys=["k"], partition_by=["prov_part"])
    # key 1 re-emitted with a different provenance partition (prov_part=7):
    # under the (broken) partition-scoped anti-join, partition 0 would never
    # be consulted and (1, "A", 7) would be inserted alongside (1, "a", 0).
    batch = spark.createDataFrame([(1, "A", 7)], "k int, v string, prov_part int")
    wh.merge(spark, "t", batch, keys=["k"], partition_by=["prov_part"])
    got = _rows(wh.read(spark, "t").select("k", "v"))
    assert got == [(1, "a"), (2, "b")]  # no duplicate key, first write wins


def test_merge_scoped_falls_back_on_escapable_partition_values(spark, tmp_path):
    """String partition values that Spark percent-escapes in directory names
    (here: a space) must refuse the scoped path — a str(v) directory match
    would miss the escaped dir and hard-link the stale partition alongside
    the rewritten one. Content must still be correct via the full path."""
    wh = Warehouse(str(tmp_path))
    base = spark.createDataFrame(
        [(1, "x", "a b"), (2, "y", "ok")], "k int, v string, part string"
    )
    wh.merge(spark, "t", base, keys=["k", "part"], partition_by=["part"])
    batch = spark.createDataFrame([(1, "X", "a b"), (3, "z", "a b")],
                                  "k int, v string, part string")
    wh.merge(spark, "t", batch, keys=["k", "part"], partition_by=["part"])
    got = _rows(wh.read(spark, "t").select("k", "v"))
    assert got == [(1, "x"), (2, "y"), (3, "z")]
    assert wh.rows("t") == 3


def test_iceberg_statement_rendering():
    """fmt="iceberg" production path, cold: the exact SQL the merge issues
    when an iceberg-spark-runtime jar is on the classpath (no jar in this
    sandbox, so the statements are asserted as text — keeps the branch
    live and reviewed instead of dead code)."""
    wh = Warehouse("/tmp/kgforge-iceberg-test", fmt="iceberg", catalog="lake")
    assert wh.iceberg_table_ident("triples") == "lake.triples"
    m = wh.iceberg_merge_stmt("triples", ["subj", "pred", "obj"],
                              ["subj", "pred", "obj", "conv_id"])
    assert m == (
        "MERGE INTO lake.triples t USING _kgforge_merge_src s "
        "ON t.subj = s.subj AND t.pred = s.pred AND t.obj = s.obj "
        "WHEN NOT MATCHED THEN INSERT (subj, pred, obj, conv_id) "
        "VALUES (s.subj, s.pred, s.obj, s.conv_id)"
    )
    c = wh.iceberg_create_stmt("triples", "subj string, pred string",
                               partition_by=["lineage_part"])
    assert c == (
        "CREATE TABLE IF NOT EXISTS lake.triples (subj string, pred string) "
        "USING iceberg PARTITIONED BY (lineage_part)"
    )


def test_merge_source_unique_skips_nothing_semantically(spark, tmp_path):
    """source_unique=True must produce the same table as the defensive path
    when the source IS unique — on both the create and incremental paths."""
    from pyspark.sql import functions as F

    from kgforge.io.tableio import Warehouse

    df1 = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    df2 = spark.range(5, 15).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    wa, wb = Warehouse(str(tmp_path / "a")), Warehouse(str(tmp_path / "b"))
    for wh, unique in ((wa, False), (wb, True)):
        wh.merge(spark, "t", df1, keys=["k"], source_unique=unique)
        wh.merge(spark, "t", df2, keys=["k"], source_unique=unique)
    a = sorted(map(tuple, wa.read(spark, "t").collect()))
    b = sorted(map(tuple, wb.read(spark, "t").collect()))
    assert a == b and len(a) == 15


def test_compact_unpartitioned_collapses_files(spark, tmp_path):
    """Compacting an unpartitioned fragmented snapshot collapses the file
    count to the byte-justified target, preserves content exactly, inherits
    the row count without a recount, and no-ops when already compact."""
    import glob

    wh = Warehouse(str(tmp_path))
    df = spark.range(100).withColumnRenamed("id", "k")
    wh.write_snapshot("t", df.repartition(8))
    snap1 = wh.latest_snapshot("t")
    before = glob.glob(str(tmp_path / "t" / snap1 / "*.parquet"))
    assert len(before) == 8

    # the rewrite reads with the manifest's schema: the write is the only job
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    snap2 = wh.compact(spark, "t")
    assert len(set(tracker.getJobIdsForGroup(None)) - jobs_before) == 1
    assert snap2 != snap1
    after = glob.glob(str(tmp_path / "t" / snap2 / "*.parquet"))
    assert len(after) == 1
    assert _rows(wh.read(spark, "t")) == [(i,) for i in range(100)]
    m = wh.snapshot_meta("t")
    assert m["rows"] == 100 and m["compacted_from"] == snap1
    # the compacted manifest keeps the schema, so a read infers nothing
    before = set(tracker.getJobIdsForGroup(None))
    wh.read(spark, "t")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()

    # already compact: no new snapshot is committed
    assert wh.compact(spark, "t") == snap2
    assert [x["snapshot_id"] for x in wh.snapshots("t")] == [snap1, snap2]


def test_compact_partitioned_rewrites_only_fragmented(spark, tmp_path):
    """Fragmented partitions are rewritten to one file; already-compact
    partitions are hard-linked (same inode — zero data movement)."""
    import glob
    import os

    from pyspark.sql import functions as F

    wh = Warehouse(str(tmp_path))
    # partition 0 fragmented across 4 tasks; partition 1 compact in 1 task
    # (union concatenates partitions without reshuffling)
    frag = (
        spark.range(40)
        .select(F.col("id").alias("k"), F.lit(0).alias("p"))
        .repartition(4)
    )
    tight = (
        spark.range(40, 50)
        .select(F.col("id").alias("k"), F.lit(1).alias("p"))
        .coalesce(1)
    )
    wh.write_snapshot("t", frag.unionAll(tight), partition_by=["p"], align=False)
    snap1 = wh.latest_snapshot("t")
    assert len(glob.glob(str(tmp_path / "t" / snap1 / "p=0" / "*.parquet"))) == 4
    assert len(glob.glob(str(tmp_path / "t" / snap1 / "p=1" / "*.parquet"))) == 1

    snap2 = wh.compact(spark, "t")
    assert snap2 != snap1
    assert len(glob.glob(str(tmp_path / "t" / snap2 / "p=0" / "*.parquet"))) == 1
    # p=1 was hard-linked: identical inode set
    old1 = {os.stat(f).st_ino
            for f in glob.glob(str(tmp_path / "t" / snap1 / "p=1" / "*.parquet"))}
    new1 = {os.stat(f).st_ino
            for f in glob.glob(str(tmp_path / "t" / snap2 / "p=1" / "*.parquet"))}
    assert old1 == new1
    # p=0 was rewritten: disjoint inodes
    old0 = {os.stat(f).st_ino
            for f in glob.glob(str(tmp_path / "t" / snap1 / "p=0" / "*.parquet"))}
    new0 = {os.stat(f).st_ino
            for f in glob.glob(str(tmp_path / "t" / snap2 / "p=0" / "*.parquet"))}
    assert not (old0 & new0)
    got = sorted((r.k, r.p) for r in wh.read(spark, "t").collect())
    assert got == [(i, 0) for i in range(40)] + [(i, 1) for i in range(40, 50)]
    assert wh.rows("t") == 50

    # second compact: everything already at one file per partition → no-op
    assert wh.compact(spark, "t") == snap2


def test_iceberg_rewrite_statement_rendering():
    wh = Warehouse("/tmp/kgforge-iceberg-test", fmt="iceberg", catalog="lake")
    assert wh.iceberg_rewrite_stmt("triples") == (
        "CALL lake.system.rewrite_data_files("
        "table => 'triples', options => map('min-input-files', '2'))"
    )
