"""Driver-checked keys for the KG pipeline stages themselves.

Unusually, the WHOLE pipeline carries a full DuckDB oracle here: the corpus
is derived from `documents` by pure arithmetic (kgforge.corpus), the text is
single-space lowercase words, and the dictionary is 1:1 token→entity — so
mention detection, linking, canonicalization, and triple construction are
all independently recomputable in ANSI SQL. The richer semantics that SQL
can't express (multi-word leftmost-longest matching, ambiguous aliases,
prior-based disambiguation, skew splitting) are exercised in pytest against
tests/oracle_ref.py instead (SURVEY.md §5.2).

The Spark side still runs the REAL operators — Arrow-batched matcher UDF,
broadcast+SMJ linking, iterative-CC canonicalization — the oracle only
recomputes their results, not their algorithms.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge import canon, corpus, pipeline, triples
from kgforge.io.tableio import Warehouse
from kgforge.ops import _util
from kgforge.registry import register

# Shared CTE prefix: transcripts + dictionary + canonical map, mirrored from
# kgforge/corpus.py (keep in sync with derive_* functions there).
_PRELUDE = (
    corpus.TRANSCRIPTS_SQL
    + ",\n"
    + corpus.DICTIONARY_SQL
    + ",\n"
    + corpus.CANONICAL_SQL
)

# Token stream with char offsets + mention index (matcher semantics: the
# dictionary is exactly the length≥6 tokens, text is single-space words, so
# leftmost-longest over 1-word surfaces == every dictionary-token occurrence).
_MENTIONS_CTE = f"""
    tok AS (
      SELECT conv_id, turn_idx,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM transcripts
    ),
    tok_off AS (
      SELECT conv_id, turn_idx, tok, pos,
             CAST(coalesce(sum(length(tok) + 1) OVER (
                  PARTITION BY conv_id, turn_idx ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS begin
      FROM tok
    ),
    mentions AS (
      SELECT conv_id, turn_idx,
             CAST(row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) - 1
                  AS INT) AS m_idx,
             tok AS surface, begin,
             CAST(begin + length(tok) AS INT) AS "end"
      FROM tok_off WHERE length(tok) >= {corpus.MIN_TOKEN_LEN}
    )
"""

_LINKED_CTE = """
    linked AS (
      SELECT m.conv_id, m.turn_idx, m.m_idx, m.surface,
             d.entity_id, d.curie, d.prior
      FROM mentions m JOIN dictionary d USING (surface)
    )
"""

_TRIPLES_CTE = """
    raw_triples AS (
      SELECT entity_id AS subj, 'resolved_as' AS pred, curie AS obj,
             conv_id, turn_idx, m_idx, prior AS confidence
      FROM linked
      UNION ALL
      SELECT entity_id AS subj, 'co_occurs' AS pred, next_entity AS obj,
             conv_id, turn_idx, m_idx, prior AS confidence
      FROM (SELECT *, lead(entity_id) OVER (PARTITION BY conv_id, turn_idx
                                            ORDER BY m_idx) AS next_entity
            FROM linked)
      WHERE next_entity IS NOT NULL
      UNION ALL
      SELECT entity_id AS subj, 'mentions_with' AS pred, next_entity AS obj,
             conv_id, turn_idx, m_idx, prior AS confidence
      FROM (SELECT *, lead(entity_id) OVER (PARTITION BY conv_id
                                            ORDER BY turn_idx) AS next_entity
            FROM (SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                                 ORDER BY m_idx) AS rn
                    FROM linked) WHERE rn = 1))
      WHERE next_entity IS NOT NULL
    ),
    remapped AS (
      SELECT coalesce(cs.canonical_id, t.subj) AS subj, t.pred,
             coalesce(co.canonical_id, t.obj) AS obj,
             t.conv_id, t.turn_idx, t.m_idx, t.confidence
      FROM raw_triples t
      LEFT JOIN canonical cs ON t.subj = cs.entity_id
      LEFT JOIN canonical co ON t.obj = co.entity_id
    ),
    final_triples AS (
      SELECT subj, pred, obj, conv_id, turn_idx, confidence
      FROM (SELECT *, row_number() OVER (PARTITION BY subj, pred, obj
                                         ORDER BY conv_id, turn_idx, m_idx) AS rn
            FROM remapped)
      WHERE rn = 1
    )
"""


@register(
    "pipe_transcripts",
    sql=_PRELUDE + "\nSELECT conv_id, turn_idx, role, tool, text, ts FROM transcripts",
    doc="Deterministic transcript derivation from documents (pipeline input).",
)
def pipe_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.derive_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool", "text", "ts"
    )


@register(
    "udf_mentions",
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE
    + '\nSELECT conv_id, turn_idx, m_idx, surface, begin, "end" FROM mentions',
    doc=(
        "Arrow-batched leftmost-longest mention detection (mapInPandas matcher "
        "built once per task from a broadcast lexicon) — char offsets included."
    ),
)
def udf_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the session's linked cut holds each mention once (derive_linked)
    return corpus.derive_linked(spark, sf_dir).select(
        "conv_id", "turn_idx", "m_idx", "surface", "begin", "end"
    )


@register(
    "udf_link",
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE + ",\n" + _LINKED_CTE
    + "\nSELECT conv_id, turn_idx, m_idx, entity_id, curie, prior FROM linked",
    doc="Broadcast-head + sort-merge-tail entity linking with rank-1 disambiguation.",
)
def udf_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.derive_linked(spark, sf_dir).select(
        "conv_id", "turn_idx", "m_idx", "entity_id", "curie", "prior"
    )


@register(
    "graph_cc",
    sql=_PRELUDE + "\nSELECT entity_id, canonical_id FROM canonical",
    doc=(
        "Connected components via iterative min-label propagation with pointer "
        "jumping + localCheckpoint per iteration (SURVEY.md §4.3). Oracle "
        "recomputes components independently (group-min over the edge-generating "
        "rule); structural stress (chains/stars) is pytest vs DuckDB recursion."
    ),
)
def graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = corpus.derive_dictionary(spark, sf_dir)
    edges = corpus.derive_xref_edges(spark, sf_dir)
    return canon.canonical_map(d.select("entity_id"), edges)


# Triple-stage session cuts (_util.session_memo): every graph-analytics
# key starts from pipe_triples and the fusion/as-of family from
# remapped_triples, and each registered query is self-contained — without
# the memo a driver/bench session re-runs the triple dataflow once per key.
# Both cuts read the session's one linked cut (corpus.derive_linked).


def remapped_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-occurrence canonical triples (before the first-emission dedup,
    which drops the occurrence counts kg_fusion and the as-of keys need)."""

    def build() -> DataFrame:
        raw = triples.build_raw_triples(corpus.derive_linked(spark, sf_dir))
        return canon.remap_triples(
            raw, corpus.derive_canonical_map(spark, sf_dir)
        ).persist()

    return _util.session_memo(spark, sf_dir, "remapped_triples", build)


@register(
    "pipe_triples",
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE + ",\n" + _LINKED_CTE + ",\n" + _TRIPLES_CTE
    + "\nSELECT subj, pred, obj, conv_id, turn_idx, confidence FROM final_triples",
    doc=(
        "FLAGSHIP: full pipeline — extract → link → canonical remap → "
        "first-emission dedup — checked value-exact against an independent "
        "SQL reconstruction."
    ),
)
def pipe_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        # linked rows = docs × measured link density (a bounded pyarrow head
        # sample — zero Spark jobs, like the footer row count); the
        # constant-44 round-3 estimate engaged the wrong strategy on corpora
        # with different link density (VERDICT r03 #5)
        est_linked = corpus.n_docs(spark, sf_dir) * corpus.est_links_per_doc(sf_dir)
        return pipeline.build_triples(
            corpus.derive_linked(spark, sf_dir),
            corpus.derive_canonical_map(spark, sf_dir),
            two_level=est_linked >= triples.TWO_LEVEL_MIN_ROWS,
        ).persist()

    return _util.session_memo(spark, sf_dir, "triples", build)


@register(
    "graph_degree",
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE + ",\n" + _LINKED_CTE + ",\n" + _TRIPLES_CTE
    + """
    SELECT coalesce(node_id, node_id2) AS node_id,
           coalesce(out_degree, 0) AS out_degree,
           coalesce(in_degree, 0) AS in_degree
    FROM (SELECT subj AS node_id, count(*) AS out_degree
          FROM final_triples GROUP BY subj)
    FULL JOIN (SELECT obj AS node_id2, count(*) AS in_degree
               FROM final_triples WHERE NOT contains(obj, ':') GROUP BY obj)
      ON node_id = node_id2
    """,
    doc="Graph node degrees over the materialized triple set.",
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triples.build_nodes(pipe_triples(spark, sf_dir))


# ----------------------------------------------------------------- UDF pane
_CONV_FP_SQL = (
    _PRELUDE
    + """
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           md5(string_agg(text, chr(1) ORDER BY turn_idx)) AS convo_fp
    FROM transcripts GROUP BY conv_id
    """
)


@register(
    "udf_extract_conv",
    sql=_CONV_FP_SQL,
    doc=(
        "Grouped-map applyInPandas per conversation: sorts the group by "
        "turn_idx IN PYTHON and fingerprints the concatenated text — the "
        "md5 only matches the oracle if per-turn ordering is stable end-to-"
        "end (the contract's text-equality invariant, BASELINE.json)."
    ),
)
def udf_extract_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    tr = corpus.derive_transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")

    def per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        joined = "\x01".join(pdf["text"].tolist())
        return pd.DataFrame(
            {
                "conv_id": [pdf["conv_id"].iloc[0]],
                "n_turns": [len(pdf)],
                "n_chars": [int(pdf["text"].str.len().sum())],
                "convo_fp": [hashlib.md5(joined.encode()).hexdigest()],
            }
        )

    return tr.groupBy("conv_id").applyInPandas(
        per_conv, "conv_id string, n_turns long, n_chars long, convo_fp string"
    )


@register(
    "udf_score_arrow",
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE + ",\n" + _LINKED_CTE
    + """
    SELECT conv_id, turn_idx, m_idx, entity_id,
           prior * (1 + length(surface) / 100.0) AS score
    FROM linked
    """,
    doc=(
        "mapInArrow candidate scoring: whole RecordBatches transformed with "
        "pyarrow.compute kernels (no pandas conversion, no per-row Python) — "
        "the 'scored in Arrow batches' contract path (BASELINE.json)."
    ),
)
def udf_score_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    linked = corpus.derive_linked(spark, sf_dir).select(
        "conv_id", "turn_idx", "m_idx", "entity_id", "surface", "prior"
    )

    def score(batches):
        for batch in batches:
            ln = pc.cast(pc.utf8_length(batch.column("surface")), pa.float64())
            score = pc.multiply(
                batch.column("prior"),
                pc.add(pa.scalar(1.0), pc.divide(ln, pa.scalar(100.0))),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("conv_id"),
                    batch.column("turn_idx"),
                    batch.column("m_idx"),
                    batch.column("entity_id"),
                    score,
                ],
                names=["conv_id", "turn_idx", "m_idx", "entity_id", "score"],
            )

    return linked.mapInArrow(
        score, "conv_id string, turn_idx int, m_idx int, entity_id string, score double"
    )


# ----------------------------------------------------------------- sink pane
@register(
    "scan_snapshot",
    # Full oracle: snapshot 1 holds the deterministic transcript derivation;
    # snapshot 2 then OVERWRITES the table with 10 rows. Reading snapshot 1
    # back must still equal the full derivation — value-hash equality vs the
    # DuckDB transcript mirror IS the time-travel/isolation proof (a reader
    # pinned to a snapshot is immune to later writes).
    sql=_PRELUDE + "\nSELECT conv_id, turn_idx, role, tool, text, ts FROM transcripts",
    doc=(
        "Snapshot-isolated scan with time travel: write two snapshots to a "
        "scratch warehouse, read back the FIRST via its snapshot id "
        "(Iceberg-semantics fallback, kgforge/io/tableio.py)."
    ),
)
def scan_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(tempfile.mkdtemp(prefix="kgforge_snap_"))
    tr = corpus.derive_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool", "text", "ts"
    )
    first = wh.write_snapshot("transcripts", tr)
    wh.write_snapshot("transcripts", tr.limit(10))
    return wh.read(spark, "transcripts", snapshot=first)


@register(
    "sink_merge",
    # Full oracle: pipe_triples is deterministic and already unique on
    # (subj, pred, obj), so merging it TWICE must leave the table equal to
    # one merge — i.e. exactly the triple derivation. Value-hash equality vs
    # the DuckDB triple mirror proves MERGE idempotence end-to-end (the
    # second merge matching 100% of keys and inserting nothing).
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE + ",\n" + _LINKED_CTE + ",\n" + _TRIPLES_CTE
    + "\nSELECT subj, pred, obj, conv_id, turn_idx, confidence FROM final_triples",
    doc=(
        "Idempotent MERGE INTO sink: merge the same triple set twice into a "
        "scratch warehouse; the returned table must equal a single merge "
        "(re-run safety of the materialize stage)."
    ),
)
def sink_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(tempfile.mkdtemp(prefix="kgforge_merge_"))
    tri = pipe_triples(spark, sf_dir)
    wh.merge(spark, "triples", tri, keys=["subj", "pred", "obj"])
    wh.merge(spark, "triples", tri, keys=["subj", "pred", "obj"])
    return wh.read(spark, "triples").select(
        "subj", "pred", "obj", "conv_id", "turn_idx", "confidence"
    )


@register(
    "sink_compact",
    # Full oracle: compaction must be content-preserving, so the compacted
    # table equals the triple derivation exactly — the same contract shape
    # as sink_merge's idempotence oracle. The file-count, hard-link, and
    # no-op mechanics (the parts SQL cannot see) are pinned in
    # tests/test_tableio.py.
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE + ",\n" + _LINKED_CTE + ",\n" + _TRIPLES_CTE
    + "\nSELECT subj, pred, obj, conv_id, turn_idx, confidence FROM final_triples",
    doc=(
        "Small-file compaction sink (Iceberg rewrite_data_files semantics): "
        "materialize the triples into a deliberately fragmented partitioned "
        "snapshot (one file per task per partition value — the layout "
        "incremental sinks produce), compact it (fragmented partitions "
        "rewritten in one partition-pruned job, compact ones hard-linked), "
        "and return the table; the value hash proves compaction preserves "
        "content bit-for-bit."
    ),
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(tempfile.mkdtemp(prefix="kgforge_compact_"))
    tri = pipe_triples(spark, sf_dir)
    frag = tri.withColumn(
        "lineage_part",
        F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(8)).cast("int"),
    )
    # align=False + an 8-way shuffle reproduces the small-file explosion:
    # up to 8 tasks × 8 partition values = 64 files for ~1k rows.
    wh.write_snapshot(
        "triples", frag.repartition(8), partition_by=["lineage_part"], align=False
    )
    wh.compact(spark, "triples")
    return wh.read(spark, "triples").select(
        "subj", "pred", "obj", "conv_id", "turn_idx", "confidence"
    )


@register(
    "scan_cdc",
    # Full oracle by predicate algebra: snapshot 1 holds the even-turn_idx
    # transcript subset A, snapshot 2 OVERWRITES with the turn_idx >= 1
    # subset B. The change feed A→B is inserts = B \ A (odd turns) and
    # deletes = A \ B (turn 0 only) — both sides of the diff reduce to pure
    # predicates on the deterministic derivation, so DuckDB recomputes the
    # exact feed without ever seeing the warehouse.
    sql=_PRELUDE + """
    SELECT conv_id, turn_idx, role, tool, text, ts, 'insert' AS change_type
    FROM transcripts WHERE turn_idx % 2 = 1
    UNION ALL
    SELECT conv_id, turn_idx, role, tool, text, ts, 'delete' AS change_type
    FROM transcripts WHERE turn_idx = 0
    """,
    doc=(
        "Change-data-feed scan between two warehouse snapshots "
        "(Iceberg/Delta CDF semantics): inserted rows tagged 'insert', "
        "removed rows tagged 'delete' (kgforge/io/tableio.py Warehouse."
        "changes). Downstream incremental consumers (re-extraction, index "
        "refresh) read only the delta, never the full table."
    ),
)
def scan_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(tempfile.mkdtemp(prefix="kgforge_cdc_"))
    tr = corpus.derive_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool", "text", "ts"
    )
    s1 = wh.write_snapshot("transcripts", tr.where(F.col("turn_idx") % 2 == 0))
    s2 = wh.write_snapshot("transcripts", tr.where(F.col("turn_idx") >= 1))
    return wh.changes(spark, "transcripts", from_snapshot=s1, to_snapshot=s2)


@register(
    "pipe_incremental",
    # Full oracle: incremental maintenance == full rebuild, on the batch-
    # order-independent projection. The corpus is split into two
    # conversation-DISJOINT batches; each runs the real extract → link →
    # remap → dedup stages and MERGEs into the same partition-scoped
    # warehouse table. Because every triple's derivation is conversation-
    # local, the union of per-batch triple sets equals the full-corpus set
    # on (subj, pred, obj, confidence) — only the first-emission provenance
    # (conv_id, turn_idx) is batch-order dependent, so it is projected out.
    # This is the driver-checked proof that the partition-scoped MERGE path
    # (lineage_part = f(merge keys), tableio.py) maintains the KG
    # incrementally without a full rebuild.
    sql=_PRELUDE + ",\n" + _MENTIONS_CTE + ",\n" + _LINKED_CTE + ",\n" + _TRIPLES_CTE
    + "\nSELECT subj, pred, obj, confidence FROM final_triples",
    doc=(
        "Incremental KG maintenance: two conversation-disjoint transcript "
        "batches merged successively through the partition-scoped MERGE "
        "sink equal one full rebuild (batch-order-independent projection)."
    ),
)
def pipe_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(tempfile.mkdtemp(prefix="kgforge_incr_"))
    tr = corpus.derive_transcripts(spark, sf_dir)
    d = corpus.derive_dictionary(spark, sf_dir)
    cmap = corpus.derive_canonical_map(spark, sf_dir)
    # conversation ordinal parity — conv_id = 'c' || zero-padded ordinal
    conv_ord = F.substring("conv_id", 2, 10).cast("int")
    for parity in (0, 1):
        batch = tr.where(conv_ord % 2 == parity)
        # a batch keeps the parallelism it arrives with, as a streaming
        # micro-batch does (kg_ingest.process_batch)
        mentions, linked = pipeline.extract_link(
            batch, d, batch.rdd.getNumPartitions(), pipeline.TARGET_ROWS
        )
        linked = linked.persist()
        # per-batch input is far below TWO_LEVEL_MIN_ROWS
        pipeline.merge_triples(
            spark, wh, pipeline.build_triples(linked, cmap, two_level=False)
        )
        linked.unpersist()
        mentions.unpersist()
    return wh.read(spark, "triples").select("subj", "pred", "obj", "confidence")
