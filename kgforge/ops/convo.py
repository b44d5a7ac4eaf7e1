"""Conversation training-data + temporal-KG operators (round 4, third wave):
the transcript-payload ops between "corpus curated" and "model trained" —
SFT prompt/response pair mining, per-conversation tool-chain assembly,
as-of temporal KG snapshots, and sequence-level (span) deduplication.

All four are exact-integer / string operators (no floats), so every oracle
is a full value-hash check.

Scale notes (graded per op in the docstrings):
- pair_sft is ONE shuffle (the conv window) + a per-row filter — the
  sessionize/funnel plan shape; per-conversation state never leaves its
  partition.
- conv_toolchain is one combining aggregate on conv_id; the collected
  buffer is bounded by turns-per-conversation (hot conversations are the
  skew.py problem, solved upstream of any per-conv aggregate).
- kg_asof never sorts whole partitions: latest-assertion-wins uses the
  repo's string-encoded MAX pattern (fixed-width seq digits + \\x01 + obj)
  so rank-1-latest is a map-side-combining aggregate, not a window.
- dedup_spans shuffles the span stream twice (first-occurrence agg on the
  span hash + the join back) and once on doc_id — every stage combining,
  nothing super-linear; spans per doc = tokens/SPAN_TOKENS by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge import corpus
from kgforge.ops import _util, kgfuse, pipeline_ops
from kgforge.ops.pipeline_ops import _PRELUDE
from kgforge.registry import register
from kgforge.tables import load

# ------------------------------------------------------------- SFT pairs


@register(
    "pair_sft",
    sql=_PRELUDE + """,
    w AS (
      SELECT conv_id, turn_idx, role, text,
             lead(role, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS r1,
             lead(text, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS t1,
             lead(role, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS r2,
             lead(text, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS t2
      FROM transcripts
    ),
    p AS (
      SELECT conv_id, turn_idx, text,
             CASE WHEN r1 = 'assistant' THEN t1
                  WHEN r1 = 'tool' AND r2 = 'assistant' THEN t2 END AS resp
      FROM w WHERE role = 'user'
    )
    SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
           md5(text) AS prompt_hash, md5(resp) AS response_hash,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS prompt_tokens,
           CAST(length(string_split(resp, ' ')) AS BIGINT)
             AS response_tokens
    FROM p WHERE resp IS NOT NULL
    """,
    doc=(
        "SFT pair mining — the op that turns an agent-transcript corpus "
        "into (prompt, response) training rows: each user turn pairs with "
        "the first assistant turn among its next 2 turns in the same "
        "conversation, skipping ONE intervening tool turn (the agent "
        "shape: user asks, tool runs, assistant answers) but never an "
        "intervening user turn, all under the stable (conv_id, turn_idx) "
        "ordering invariant. Output ships md5 fingerprints + token counts "
        "(the value-hash contract can't carry raw text pairs; a real "
        "pipeline selects the text columns instead — same plan). Plan: "
        "ONE shuffle (the conv window), then per-row filters/projections "
        "— per-conversation state never leaves its partition, identical "
        "to the sessionize/funnel shape that holds at 10^12 turns."
    ),
)
def pair_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sft_pairs(corpus.derive_transcripts(spark, sf_dir))


def sft_pairs(tr: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, ...) → one row per
    user→(tool?)→assistant pair within a 2-turn lookahead. Semantics
    pinned on a hand fixture in tests/test_convo.py."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = tr.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.lead("role", 1).over(w).alias("r1"),
        F.lead("text", 1).over(w).alias("t1"),
        F.lead("role", 2).over(w).alias("r2"),
        F.lead("text", 2).over(w).alias("t2"),
    )
    resp = F.when(F.col("r1") == "assistant", F.col("t1")).when(
        (F.col("r1") == "tool") & (F.col("r2") == "assistant"), F.col("t2")
    )
    return (
        d.where(F.col("role") == "user")
        .select("conv_id", "turn_idx", "text", resp.alias("resp"))
        .where(F.col("resp").isNotNull())
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.md5("text").alias("prompt_hash"),
            F.md5("resp").alias("response_hash"),
            F.size(F.split("text", " ")).cast("bigint").alias("prompt_tokens"),
            F.size(F.split("resp", " ")).cast("bigint").alias("response_tokens"),
        )
    )


# ------------------------------------------------------------ tool chains


@register(
    "conv_toolchain",
    sql=_PRELUDE + """
    SELECT conv_id, CAST(count(*) AS BIGINT) AS n_calls,
           string_agg(tool, '>' ORDER BY turn_idx) AS chain
    FROM transcripts WHERE role = 'tool'
    GROUP BY conv_id
    """,
    doc=(
        "Per-conversation tool-call chain — the agent-trajectory feature "
        "(ordered sequence of tool invocations) that trajectory analysis "
        "and tool-use curriculum sampling key on. Spark assembles the "
        "chain order-independently: collect_list(struct(turn_idx, tool)) "
        "then array_sort + transform + array_join, so the result is "
        "deterministic under ANY partition/arrival order (a bare "
        "collect_list(tool) would be nondeterministic); the oracle's "
        "string_agg(... ORDER BY turn_idx) recomputes it sequentially, so "
        "the hash proves order independence. Plan: one combining "
        "aggregate on conv_id after a scan-side role filter; the per-conv "
        "buffer is bounded by turns-per-conversation."
    ),
)
def conv_toolchain(spark: SparkSession, sf_dir: str) -> DataFrame:
    return toolchains(corpus.derive_transcripts(spark, sf_dir))


def toolchains(tr: DataFrame) -> DataFrame:
    """transcripts → (conv_id, n_calls, chain) over role='tool' turns."""
    return (
        tr.where(F.col("role") == "tool")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_calls"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(turn_idx, tool))), x -> x.tool), '>')"
            ).alias("chain"),
        )
    )


# --------------------------------------------------------- as-of snapshot
# Snapshot cutoff: assertions from the first ASOF_NUM/ASOF_DEN of the turn
# stream (ts is monotone in the derived doc sequence, so a seq cutoff IS a
# timestamp cutoff — integer arithmetic instead of cross-engine interval
# math). 12-digit pad: doc_seq < n_docs, far under 1e12 per input split at
# any corpus scale; m_idx pad 6: mentions-per-turn bounded by turn tokens.
ASOF_NUM = 3
ASOF_DEN = 4
ASOF_PAD = 12
_MIDX_PAD = 6


@register(
    "kg_asof",
    sql=kgfuse._TRIPLES_PREFIX + f""",
    seq AS (
      SELECT subj, pred, obj, m_idx,
             CAST(turn_idx AS BIGINT)
               * greatest(20, (SELECT n_docs FROM nd) // 8)
               + CAST(substr(conv_id, 2) AS BIGINT) AS doc_seq
      FROM remapped
    ),
    cut AS (
      SELECT * FROM seq
      WHERE doc_seq < (SELECT n_docs * {ASOF_NUM} FROM nd) // {ASOF_DEN}
    )
    SELECT subj, pred, obj, CAST(doc_seq AS BIGINT) AS asof_seq FROM (
      SELECT *, row_number() OVER (
               PARTITION BY subj, pred
               ORDER BY doc_seq DESC, m_idx DESC, obj DESC) AS rn
      FROM cut) WHERE rn = 1
    """,
    doc=(
        "Temporal as-of KG snapshot — 'what did the graph assert for "
        "(subj, pred) as of time T': over the per-occurrence triple "
        f"stream restricted to the first {ASOF_NUM}/{ASOF_DEN} of the "
        "turn sequence (ts is monotone in the derived turn sequence, so "
        "the seq cutoff IS the timestamp cutoff), keep the LATEST "
        "assertion per (subj, pred) with (doc_seq, m_idx, obj) "
        "tie-breaks. Plan: latest-wins is the repo's string-encoded MAX "
        "(fixed-width seq+m_idx digits + \\x01 + obj) — a map-side-"
        "combining aggregate, NOT a window sort over whole partitions; "
        "the oracle recomputes the winner with an independent row_number "
        "window, so the hash proves the encoding round-trips. The "
        "memoized triple cut is shared with the fusion pane (one "
        "extract→link run serves both)."
    ),
)
def kg_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    rem = pipeline_ops.remapped_triples(spark, sf_dir)
    n_conv = max(20, corpus.n_docs(spark, sf_dir) // 8)
    cutoff = corpus.n_docs(spark, sf_dir) * ASOF_NUM // ASOF_DEN
    return asof_triples(rem, n_conv, cutoff)


def asof_triples(rem: DataFrame, n_convs: int, cutoff: int) -> DataFrame:
    """Per-occurrence triples ``rem(subj, pred, obj, conv_id, turn_idx,
    m_idx, ...)`` → latest assertion per (subj, pred) among occurrences
    with derived sequence < cutoff. Semantics pinned on a hand fixture in
    tests/test_convo.py."""
    seq = rem.select(
        "subj",
        "pred",
        "obj",
        "m_idx",
        (
            F.col("turn_idx").cast("bigint") * n_convs
            + F.expr("CAST(substring(conv_id, 2) AS BIGINT)")
        ).alias("doc_seq"),
    )
    cut = seq.where(F.col("doc_seq") < cutoff)
    enc = F.concat(
        F.lpad(F.col("doc_seq").cast("string"), ASOF_PAD, "0"),
        F.lpad(F.col("m_idx").cast("string"), _MIDX_PAD, "0"),
        F.lit("\x01"),
        F.col("obj"),
    )
    best = (
        cut.select("subj", "pred", enc.alias("enc"))
        .groupBy("subj", "pred")
        .agg(F.max("enc").alias("enc"))
    )
    return best.select(
        "subj",
        "pred",
        F.expr(f"substring(enc, {ASOF_PAD + _MIDX_PAD + 2})").alias("obj"),
        F.substring("enc", 1, ASOF_PAD).cast("bigint").alias("asof_seq"),
    )


# ------------------------------------------------------------- span dedup
SPAN_TOKENS = 8  # sequence-dedup granularity (tokens per non-overlapping span)
_SPAN_PAD = 6  # span_no pad: spans-per-doc = tokens/8, bounded well under 1e6


@register(
    "dedup_spans",
    sql=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             length(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, (n_tokens - 1) // {SPAN_TOKENS}))
               AS span_no
      FROM t
    ),
    enc AS (
      SELECT doc_id, span_no,
             md5(array_to_string(list_slice(toks,
                   span_no * {SPAN_TOKENS} + 1,
                   span_no * {SPAN_TOKENS} + {SPAN_TOKENS}), ' ')) AS h,
             lpad(CAST(doc_id AS VARCHAR), {ASOF_PAD}, '0')
               || lpad(CAST(span_no AS VARCHAR), {_SPAN_PAD}, '0') AS e
      FROM s
    ),
    firsts AS (SELECT h, min(e) AS fe FROM enc GROUP BY h)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (WHERE e <> fe) AS BIGINT) AS dup_spans,
           CAST(100 * count(*) FILTER (WHERE e <> fe) // count(*) AS BIGINT)
             AS dup_pct
    FROM enc JOIN firsts USING (h)
    GROUP BY doc_id
    """,
    doc=(
        "Sequence-level (span) deduplication — the exact-substring dedup "
        "family (Lee et al., 'Deduplicating Training Data Makes Language "
        "Models Better') at fixed granularity: the corpus is cut into "
        f"non-overlapping {SPAN_TOKENS}-token spans, a span is a "
        "duplicate iff an identical span occurs EARLIER in corpus order "
        "(strictly before by (doc_id, span_no)), and each document "
        "reports its dup-span fraction — the signal sequence-dedup "
        "filtering thresholds on, complementing the doc-level exact/"
        "minhash/simhash keys. Plan: span explode at scan speed (same "
        "generate_series arithmetic as text_chunk, stride == width), "
        "first-occurrence via string-encoded MIN on the span hash "
        "(fixed-width doc+span digits — map-side combining), one "
        "equi-join back on the hash, one combining per-doc aggregate; "
        "two span-stream shuffles + one doc shuffle, nothing super-"
        "linear, no window anywhere."
    ),
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # span_dedup persists its span cut; a session cut so repeated
    # invocations reuse it instead of stacking caches (ADVICE r04)
    return _util.session_memo(
        spark, sf_dir, "span_dedup",
        lambda: span_dedup(load(spark, sf_dir, "documents")),
    )


def span_dedup(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) → (doc_id, n_spans, dup_spans, dup_pct)
    under first-occurrence-wins span semantics. Pinned on a hand fixture
    in tests/test_convo.py."""
    toks = F.split("text", " ")
    d = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    s = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"(n_tokens - 1) DIV {SPAN_TOKENS}"))
        ).alias("span_no"),
    )
    span = F.expr(f"slice(toks, span_no * {SPAN_TOKENS} + 1, {SPAN_TOKENS})")
    # Persist the narrow (doc_id, span_no, h, e) cut: it feeds BOTH the
    # first-occurrence aggregate and the join back, and Catalyst has no
    # cross-branch CSE — unpersisted, the scan + Generate + md5 run twice
    # (the repo's pipe_triples/dedup_minhash rule).
    enc = s.select(
        "doc_id",
        "span_no",
        F.md5(F.array_join(span, " ")).alias("h"),
        F.concat(
            F.lpad(F.col("doc_id").cast("string"), ASOF_PAD, "0"),
            F.lpad(F.col("span_no").cast("string"), _SPAN_PAD, "0"),
        ).alias("e"),
    ).persist()
    firsts = enc.groupBy("h").agg(F.min("e").alias("fe"))
    dup = F.col("e") != F.col("fe")
    return (
        enc.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(dup.cast("long")).cast("bigint").alias("dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_spans",
            F.expr("CAST(100 * dup_spans DIV n_spans AS BIGINT)").alias(
                "dup_pct"
            ),
        )
    )
