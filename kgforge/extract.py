"""Stage E — Arrow-batched mention detection over transcript turns.

Replaces the reference bot's per-record field matching (SURVEY.md §2.A A2/A5)
with a vectorized dataflow: transcripts are salted-repartitioned by
``conv_id`` (kgforge.skew), sorted within partitions by
``(conv_id, turn_idx)`` for stable Arrow batch order (BASELINE.json:
"stable (conv_id, turn_idx) window ordering"), then streamed through a
``mapInPandas`` matcher that is built ONCE per task from a broadcast surface
list. No per-row Python crosses the JVM boundary — batches move as Arrow
record batches.

Scale notes:
- The lexicon is broadcast (one copy per executor, not per task).
- Extraction is per-turn, so splitting a hot conversation across salted
  partitions is semantics-preserving (SURVEY.md §4.3).
- Output carries ``m_idx`` (mention order within the turn) so downstream
  windows never depend on physical row order.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kgforge.matcher import LexiconMatcher

MENTIONS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("m_idx", IntegerType()),
        StructField("surface", StringType()),
        StructField("begin", IntegerType()),
        StructField("end", IntegerType()),
    ]
)


_LEXICON_CACHE: list = []  # size-1 LRU: [(dictionary DataFrame ref, broadcast)]


def _lexicon_broadcast(dictionary: DataFrame):
    """Collect+broadcast the surface list, cached with a SIZE-1 LRU.

    Size 1 is enough: corpus.derive_dictionary memoizes per (app, sf_dir),
    so hits are consecutive — and an unbounded id()-keyed dict (round 2)
    held strong refs to every dictionary DataFrame and its broadcast
    forever, leaking driver memory across multi-session pytest/ladder runs.
    The displaced broadcast is unpersist()ed on replacement — executor-side
    blocks are freed immediately, while a not-yet-executed plan that still
    references it stays valid (tasks re-fetch from the driver; destroy()
    would make such a plan fail). Dropping the strong reference lets GC
    reclaim the driver-side copy once no plan holds it.
    """
    if _LEXICON_CACHE and _LEXICON_CACHE[0][0] is dictionary:
        return _LEXICON_CACHE[0][1]
    surfaces = [r[0] for r in dictionary.select("surface").distinct().collect()]
    bc = dictionary.sparkSession.sparkContext.broadcast(surfaces)
    if _LEXICON_CACHE:
        old = _LEXICON_CACHE.pop()
        try:
            old[1].unpersist()
        except Exception:
            pass  # already-stopped SparkContext: nothing to free
    _LEXICON_CACHE.append((dictionary, bc))
    return bc


def extract_mentions(transcripts: DataFrame, dictionary: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, …) × dictionary(surface) → mentions."""
    # The surface list is collect()ed to the driver before broadcast. That
    # is safe because lexicons are ENTITY-bounded (~1e7–1e8 surfaces even
    # for a 10^12-turn corpus — a few GB at worst), not corpus-bounded;
    # if a caller ever passes a corpus-scale dictionary this is the line
    # that becomes the driver-RAM ceiling.
    bc = _lexicon_broadcast(dictionary)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = LexiconMatcher(bc.value)  # built once per task
        for pdf in batches:
            # columnar accumulation: pd.DataFrame from per-column lists is
            # several times cheaper than from a list of row tuples; .tolist()
            # up front converts int64/str cells ONCE (iterating a pandas
            # Series yields numpy scalars — measured several times slower
            # and forcing a per-row int() cast).
            c_conv: list = []
            c_turn: list = []
            c_midx: list = []
            c_surf: list = []
            c_begin: list = []
            c_end: list = []
            find = matcher.find
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(), pdf["text"].tolist()
            ):
                for m_idx, (surface, begin, end) in enumerate(
                    find(text if isinstance(text, str) else "")
                ):
                    c_conv.append(conv_id)
                    c_turn.append(turn_idx)
                    c_midx.append(m_idx)
                    c_surf.append(surface)
                    c_begin.append(begin)
                    c_end.append(end)
            yield pd.DataFrame(
                {
                    "conv_id": c_conv,
                    "turn_idx": c_turn,
                    "m_idx": c_midx,
                    "surface": c_surf,
                    "begin": c_begin,
                    "end": c_end,
                }
            )

    narrow = transcripts.select("conv_id", "turn_idx", "text").sortWithinPartitions(
        "conv_id", "turn_idx"
    )
    return narrow.mapInPandas(run, MENTIONS_SCHEMA)

