"""Salted repartition + hot-conversation splitting (BASELINE.json:
"salted repartition by conv_id with explicit skew splitting of hot
conversations"): results must be IDENTICAL to the unsalted path, and hot
conversations must actually spread across partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge import extract, link
from kgforge.skew import salted_repartition


def test_salting_preserves_rows_exactly(spark, spark_corpus):
    tr, _, _ = spark_corpus
    salted = salted_repartition(tr, 8, hot_threshold=200, target_rows=100)
    key = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert sorted(map(tuple, tr.select(*key).collect())) == sorted(
        map(tuple, salted.select(*key).collect())
    )


def test_hot_conversation_spreads_over_partitions(spark, spark_corpus):
    tr, _, _ = spark_corpus
    hot_id = (
        tr.groupBy("conv_id").count().orderBy(F.desc("count")).first()["conv_id"]
    )
    salted = salted_repartition(tr, 8, hot_threshold=200, target_rows=100)
    n_parts = (
        salted.where(F.col("conv_id") == hot_id)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_parts > 1, "hot conversation landed on a single partition"


def test_cold_conversations_stay_together(spark, spark_corpus):
    """salt=0 for non-hot convs → one partition per conversation (co-location
    preserved for downstream per-conversation work)."""
    tr, _, _ = spark_corpus
    cold = (
        tr.groupBy("conv_id").count().where(F.col("count") <= 50).limit(5).collect()
    )
    salted = salted_repartition(tr, 8, hot_threshold=200, target_rows=100)
    for r in cold:
        n = (
            salted.where(F.col("conv_id") == r["conv_id"])
            .select(F.spark_partition_id())
            .distinct()
            .count()
        )
        assert n == 1


def test_salted_pipeline_equals_unsalted(spark, spark_corpus):
    """End-to-end: extraction+linking over the salted layout must produce the
    same relation as over the raw layout (salting is physical, not logical)."""
    tr, d, _ = spark_corpus
    cols = ["conv_id", "turn_idx", "m_idx", "entity_id"]

    plain = link.link_mentions(extract.extract_mentions(tr, d), d)
    salted_in = salted_repartition(tr, 8, hot_threshold=200, target_rows=100)
    salted = link.link_mentions(extract.extract_mentions(salted_in, d), d)

    assert sorted(map(tuple, plain.select(*cols).collect())) == sorted(
        map(tuple, salted.select(*cols).collect())
    )

