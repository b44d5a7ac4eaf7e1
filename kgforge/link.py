"""Stage L — entity linking: broadcast-dictionary head + sort-merge tail,
rank-1 disambiguation (SURVEY.md §2.A A3/A4; BASELINE.json north_star:
"broadcast-dictionary + blocked sort-merge-join entity linking").

Strategy split: at 100 TB the mention table is huge while the dictionary may
or may not fit the broadcast budget. The head partition of the dictionary
(hash-chosen here; frequency-chosen in a production run — see docstring of
``split_dictionary``) is broadcast so the bulk of mentions link map-side with
zero shuffle; the tail links through a shuffle sort-merge join. The union is
provably the same relation as one big join because the dictionary split is a
partition (disjoint ∪ exhaustive) on the join key.

Disambiguation: rank 1 over ``(prior DESC, entity_id ASC)`` per mention —
deterministic first-win, mirroring the bot's xref resolution (first mapping
wins; ambiguous xrefs resolved by priority).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEAD_BUCKETS = 10  # surfaces hashing to bucket < HEAD_SPLIT go to the broadcast head
HEAD_SPLIT = 9


FREQ_HEAD_TOP_K = 100_000  # top-frequency surfaces broadcast in "freq" mode


def split_dictionary(dictionary: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Disjoint head/tail partition of the dictionary on the surface key.

    Hash-based (deterministic, cheap, no extra pass). See
    ``split_dictionary_freq`` for the production split that targets the
    skewed-surface case.
    """
    bucket = F.pmod(F.xxhash64("surface"), F.lit(HEAD_BUCKETS))
    head = dictionary.where(bucket < HEAD_SPLIT)
    tail = dictionary.where(bucket >= HEAD_SPLIT)
    return head, tail


def split_dictionary_freq(
    mentions: DataFrame, dictionary: DataFrame, top_k: int = FREQ_HEAD_TOP_K
) -> tuple[DataFrame, DataFrame]:
    """Frequency-based head/tail split: head = the ``top_k`` surfaces by a
    one-pass mention count (map-side-combinable groupBy + global top-k, a
    TakeOrdered — no full sort). On a skewed corpus this puts the hot
    surfaces on the zero-shuffle broadcast path, so the sort-merge tail
    carries only the long tail of rare surfaces instead of whichever hot
    surfaces the hash split happened to leave there. ``top_k`` bounds the
    broadcast (and driver) footprint regardless of corpus size.

    The split is still a disjoint ∪ exhaustive partition of the dictionary
    on the join key, so link results are identical to the hash split
    (equality-tested in tests/test_skew.py).
    """
    topk = (
        mentions.groupBy("surface")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "surface")
        .limit(top_k)
        .select("surface")
    )
    head = dictionary.join(F.broadcast(topk), "surface", "semi")
    tail = dictionary.join(F.broadcast(topk), "surface", "anti")
    return head, tail


def link_mentions(
    mentions: DataFrame, dictionary: DataFrame, split: str = "hash"
) -> DataFrame:
    """mentions(conv_id, turn_idx, m_idx, surface) → +(entity_id, curie, prior).

    ``split="hash"`` (default): cheap deterministic head/tail split.
    ``split="freq"``: one-pass top-frequency head (see split_dictionary_freq).
    """
    if split == "freq":
        # The frequency pass aggregates mentions, and the join below reads
        # mentions AGAIN — with an unpersisted input and no cross-branch CSE
        # that re-runs the full extraction twice (the repo's own rule).
        # Persist here unless the caller already did; the caller owns
        # unpersisting (the cut is reused by everything downstream anyway).
        from pyspark import StorageLevel

        if mentions.storageLevel == StorageLevel(False, False, False, False):
            mentions = mentions.persist()
        head, tail = split_dictionary_freq(mentions, dictionary)
    else:
        head, tail = split_dictionary(dictionary)
    head_hit = mentions.join(F.broadcast(head), "surface", "inner")
    tail_hit = mentions.hint("merge").join(tail, "surface", "inner")
    cands = head_hit.unionByName(tail_hit)
    # rank-1 as a min(struct) aggregate, not a row_number window: the window
    # forces a full sort shuffle of every candidate row, while the aggregate
    # gets map-side partial combine (duplicates collapse before the
    # shuffle). Note: a struct-typed min buffer runs as SortAggregate, not
    # HashAggregate (same Spark limitation dedup_triples works around) —
    # the win here is the partial combine, not the agg kind; if plans ever
    # show the per-task sort hurting, apply the zero-padded string-encoding
    # trick from dedup_triples. Negated prior inside the struct encodes
    # (prior DESC, entity_id ASC) in one lexicographic min.
    best = F.min(
        F.struct(
            (-F.col("prior")).alias("np"),
            F.col("entity_id").alias("entity_id"),
            F.col("curie").alias("curie"),
            F.col("prior").alias("prior"),
        )
    ).alias("best")
    keys = [c for c in mentions.columns]
    return (
        cands.groupBy(*keys)
        .agg(best)
        .select(
            *keys,
            F.col("best.entity_id").alias("entity_id"),
            F.col("best.curie").alias("curie"),
            F.col("best.prior").alias("prior"),
        )
    )

