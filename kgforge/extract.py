"""Stage E — mention detection over transcript turns, in the JVM.

Replaces the reference bot's per-record field matching (SURVEY.md §2.A A2/A5)
with a dataflow: transcripts are salted-repartitioned by ``conv_id``
(kgforge.skew), sorted within partitions by ``(conv_id, turn_idx)``
(BASELINE.json: "stable (conv_id, turn_idx) window ordering"), then matched
by ``kgforge.jvm.LexiconMatch``, a Java UDF with the leftmost-longest,
two-tier semantics of ``kgforge.matcher.LexiconMatcher``. It returns each
turn's mentions as an array; ``posexplode`` numbers them ``m_idx``. No
Python process runs: the Python matcher cost 7x the JVM one at 50k
conversations, and its workers a fifth of the job's resident memory.

The ``mapInPandas`` matcher stays as the fallback for a driver that can
neither load the class nor compile it (kgforge.jvm). Both read the lexicon
from one file shipped with ``SparkContext.addFile``.

Scale notes:
- The lexicon is one file per executor (SparkFiles), not per task.
- Extraction is per-turn, so splitting a hot conversation across salted
  partitions is semantics-preserving (SURVEY.md §4.3).
- Output carries ``m_idx`` (mention order within the turn) so downstream
  windows never depend on physical row order.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark import SparkContext, SparkFiles
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kgforge import jvm
from kgforge.matcher import LexiconMatcher, surface_words

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


_LEXICON_CACHE: list = []  # size-1 LRU: [(dictionary DataFrame ref, file name)]
_LEXICON_DIR: list = []  # [this process's lexicon directory], removed at exit


def _lexicon_dir() -> str:
    if not _LEXICON_DIR:
        path = tempfile.mkdtemp(prefix="kgforge-lexicons-")
        atexit.register(shutil.rmtree, path, True)
        _LEXICON_DIR.append(path)
    return _LEXICON_DIR[0]


def _ship_lexicon(sc: SparkContext, surfaces: Iterable[str]) -> str:
    """Ship a surface lexicon to the executors; returns its SparkFiles name.

    One line per surface, its lowercased tokens joined by spaces
    (matcher.surface_words). The file is named by its content hash, so a
    name is never registered with two different paths, which ``addFile``
    refuses. The files live in a per-process directory: executors fetch
    them while the driver runs, and nothing is left in the temp dir after."""
    lines = sorted(" ".join(words) for words in surface_words(surfaces))
    data = "".join(f"{line}\n" for line in lines).encode()
    name = f"kgforge-lexicon-{hashlib.sha256(data).hexdigest()[:24]}.txt"
    path = os.path.join(_lexicon_dir(), name)
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    sc.addFile(path)
    return name


def _lexicon_file(dictionary: DataFrame) -> str:
    """The dictionary's lexicon file (``_ship_lexicon``), cached with a
    SIZE-1 LRU keyed on the dictionary object: corpus.derive_dictionary
    memoizes per (app, sf_dir), so hits are consecutive, and a larger cache
    would pin every dictionary DataFrame of a multi-session run."""
    if _LEXICON_CACHE and _LEXICON_CACHE[0][0] is dictionary:
        return _LEXICON_CACHE[0][1]
    # collected to the driver: lexicons are ENTITY-bounded (~1e7–1e8
    # surfaces even for a 10^12-turn corpus — a few GB at worst), not
    # corpus-bounded; a corpus-scale dictionary would make this line the
    # driver-RAM ceiling
    surfaces = [r[0] for r in dictionary.select("surface").distinct().collect()]
    name = _ship_lexicon(dictionary.sparkSession.sparkContext, surfaces)
    _LEXICON_CACHE[:] = [(dictionary, name)]
    return name


def _mentions_in_jvm(narrow: DataFrame, lexicon: str) -> DataFrame:
    """The JVM matcher (kgforge.jvm.LexiconMatch), registered on
    ``narrow``'s session."""
    found = F.call_function(jvm.MATCHER_FUNCTION, F.col("text"), F.lit(lexicon))
    return narrow.select(
        "conv_id", "turn_idx", F.posexplode(found).alias("m_idx", "m")
    ).select(
        # the types MENTIONS_SCHEMA gives the mapInPandas path
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        "m_idx",
        F.col("m.surface").alias("surface"),
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
    )


def _mentions_in_pandas(narrow: DataFrame, lexicon: str) -> DataFrame:
    """The Python matcher behind ``mapInPandas``: the fallback for a driver
    with neither a JDK nor the matcher jar."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with open(SparkFiles.get(lexicon), encoding="utf-8") as f:
            matcher = LexiconMatcher.from_words(  # built once per task
                tuple(line.split(" ")) for line in f.read().split("\n") if line
            )
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

    return narrow.mapInPandas(run, MENTIONS_SCHEMA)


def extract_mentions(transcripts: DataFrame, dictionary: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, …) × dictionary(surface) → mentions."""
    lexicon = _lexicon_file(dictionary)
    narrow = transcripts.select("conv_id", "turn_idx", "text").sortWithinPartitions(
        "conv_id", "turn_idx"
    )
    # the session of the frame, not get_spark's: kg_ingest's foreachBatch
    # batches run on a cloned session
    if jvm.register(transcripts.sparkSession):
        return _mentions_in_jvm(narrow, lexicon)
    return _mentions_in_pandas(narrow, lexicon)
