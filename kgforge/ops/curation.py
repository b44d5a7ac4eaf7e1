"""Corpus-curation operators (round 4): normalization, deterministic
mixture sampling, a composed quality gate, and funnel detection over the
transcript stream.

These are the remaining table-stakes ops of a training-data pipeline the
registry didn't yet expose as first-class keys: every rule is a pure
per-row expression or a window/join over existing registered features, so
each runs at scan speed (normalize/sample), one window shuffle (funnel),
or reuses the documents-scan features (gate) — no new shuffle shapes.

Oracle discipline: Spark regexp_replace is global by default while DuckDB
needs the 'g' flag — every oracle mirror passes it explicitly. The regex
subset used (character classes, \\S, +) behaves identically in Java regex
and RE2. The md5-bucket arithmetic reuses the strpos-nibble trick from
text_split so both engines derive identical integers from the same hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge import corpus
from kgforge.ops import text
from kgforge.ops.pipeline_ops import _PRELUDE
from kgforge.registry import register
from kgforge.tables import load

# --------------------------------------------------------------- normalize
_URL_RE = r"https?://\S+"
_NONALNUM_RE = "[^a-z0-9 ]"
_SPACES_RE = " +"


@register(
    "text_normalize",
    sql=f"""
    WITH n AS (
      SELECT doc_id, length(text) AS raw_chars,
             trim(regexp_replace(regexp_replace(regexp_replace(
               lower(text), '{_URL_RE}', ' ', 'g'),
               '{_NONALNUM_RE}', ' ', 'g'),
               '{_SPACES_RE}', ' ', 'g')) AS norm_text
      FROM documents
    )
    SELECT doc_id, CAST(raw_chars AS INT) AS raw_chars, norm_text,
           CAST(length(norm_text) AS INT) AS norm_chars,
           CAST(CASE WHEN norm_text = '' THEN 0
                ELSE length(string_split(norm_text, ' ')) END AS INT)
             AS norm_tokens
    FROM n
    """,
    doc=(
        "Text normalization (the first stage of every curation pipeline): "
        "lowercase, strip URLs, strip non-alphanumerics, collapse "
        "whitespace — pure per-row regexp_replace chains, scan speed, no "
        "shuffle. Cross-engine: DuckDB regexp_replace needs the explicit "
        "'g' flag to match Spark's replace-all default."
    ),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), _URL_RE, " "),
                _NONALNUM_RE,
                " ",
            ),
            _SPACES_RE,
            " ",
        )
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("int").alias("raw_chars"),
        norm.alias("norm_text"),
        F.length(norm).cast("int").alias("norm_chars"),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("int")
        .alias("norm_tokens"),
    )


# ---------------------------------------------------------------- sampling
# Per-source keep rate in [30, 90]% — a deterministic function of the
# source name itself, standing in for a configured mixture-weights table
# (which at scale would be a broadcast dim; here the rate must be derivable
# in both engines from the data alone to stay value-exact).
_RATE_SQL = (
    "(30 + (" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(source), {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ) + ") % 61)"
)
_DOCBUCKET_SQL = (
    "((" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '|' ||"
        f" source), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    ) + ") % 100)"
)


@register(
    "sample_mixture",
    sql=f"""
    SELECT doc_id, source,
           CAST({_RATE_SQL} AS INT) AS rate_pct,
           CAST({_DOCBUCKET_SQL} AS INT) AS sample_bucket
    FROM documents
    WHERE {_DOCBUCKET_SQL} < {_RATE_SQL}
    """,
    doc=(
        "Deterministic mixture sampling (source-stratified up/down-"
        "weighting): each document keeps iff its md5(doc_id|source) bucket "
        "falls below the source's keep-rate — a pure per-row expression, "
        "no sampling state, no shuffle; adding documents never reselects "
        "existing ones and the realized rate converges to the weight per "
        "stratum (the property rand()-sampling lacks at 100 TB, where a "
        "re-run must reproduce the exact training mixture)."
    ),
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    rate = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10).cast("bigint")
        % 61 + 30
    ).cast("int")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                               F.col("source"))),
                1, 4,
            ),
            16, 10,
        ).cast("bigint") % 100
    ).cast("int")
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "source",
            rate.alias("rate_pct"), bucket.alias("sample_bucket"),
        )
        .where(F.col("sample_bucket") < F.col("rate_pct"))
    )


# --------------------------------------------------------------- anonymize
ANON_MIN_LEN = 8  # tokens at least this long are treated as identifiers
# First 2 + last 2 chars kept, middle masked — format-preserving masking,
# the PII-scrubbing mechanic (emails/phones would be extra alternates of the
# same regex at production; this corpus is bare lowercase words, so the
# identifier rule is the one that actually fires on the data).
_ANON_RE = r"\b([a-z]{2})[a-z]{4,}([a-z]{2})\b"


@register(
    "text_anonymize",
    sql=f"""
    SELECT doc_id,
           regexp_replace(text, '{_ANON_RE}', '\\1***\\2', 'g') AS anon_text,
           CAST(length(regexp_extract_all(text, '{_ANON_RE}')) AS INT)
             AS n_masked
    FROM documents
    """,
    doc=(
        "Format-preserving token masking (the PII-scrub mechanic): every "
        f"token of >= {ANON_MIN_LEN} chars keeps its first/last two chars "
        "and masks the middle; n_masked counts redactions per document. "
        "Pure per-row regexp_replace + regexp_count, scan speed, no "
        "shuffle. Cross-engine: Java regex uses $1 backreferences, DuckDB "
        "RE2 uses \\\\1, and DuckDB needs the explicit 'g' flag; the "
        "leftmost non-overlapping greedy scan is identical in both."
    ),
)
def text_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", _ANON_RE, "$1***$2").alias("anon_text"),
        F.regexp_count("text", F.lit(_ANON_RE)).cast("int").alias("n_masked"),
    )


# ------------------------------------------------------------ quality gate
REP_MAX_TOP_TOKEN = 0.15  # Gopher-style most-frequent-token cut
GATE_PUNCT_MAX = 0.10


def _gate_sql() -> str:
    """Compose the three feature oracles as CTEs — the SAME SQL strings the
    individual keys are certified against (hoisted constants in text.py),
    joined on doc_id, so the gate is value-consistent with its inputs by
    construction. Each feature oracle is itself 'WITH t AS (...) SELECT'
    — DuckDB allows a nested WITH inside a CTE body."""
    def as_cte(sql: str, name: str) -> str:
        return f"{name} AS ({sql.strip()})"

    return f"""
    WITH {as_cte(text.QUALITY_SQL, "gq")},
         {as_cte(text.LANGID_SQL, "gl")},
         {as_cte(text.REPETITION_SQL, "gr")}
    SELECT gq.doc_id,
           CASE
             WHEN gl.pred_lang <> 'en' THEN 'langid'
             WHEN NOT gq.len_ok OR gq.punct_ratio > {GATE_PUNCT_MAX}
               THEN 'quality'
             WHEN gr.top_token_frac > {REP_MAX_TOP_TOKEN} THEN 'repetition'
             ELSE 'kept'
           END AS reason,
           CASE
             WHEN gl.pred_lang <> 'en' THEN FALSE
             WHEN NOT gq.len_ok OR gq.punct_ratio > {GATE_PUNCT_MAX}
               THEN FALSE
             WHEN gr.top_token_frac > {REP_MAX_TOP_TOKEN} THEN FALSE
             ELSE TRUE
           END AS kept
    FROM gq JOIN gl ON gq.doc_id = gl.doc_id
            JOIN gr ON gq.doc_id = gr.doc_id
    """


@register(
    "filter_gate",
    sql=_gate_sql(),
    doc=(
        "Composed quality gate (the Dolma/CCNet-style keep/drop decision "
        "with a reason code): language-ID, then length/punctuation, then "
        "repetition — first failing rule wins. Spark side computes the "
        "four needed features as per-row expressions over ONE scan of "
        "documents (no joins, no re-scans — what a 100-TB pipeline "
        "actually runs); the oracle is the three independently-certified "
        "feature oracle SQLs composed as CTEs joined on doc_id, so the "
        "value hash PROVES the one-pass expressions equal the certified "
        "per-feature ops — any drift between the inlined expressions and "
        "the feature keys fails the gate's own hash."
    ),
)
def filter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # --- quality features (mirrors text_quality's certified expressions)
    len_ok = F.length("text").between(20, 10000)
    punct_ratio = F.size(
        F.regexp_extract_all("text", F.lit("[^a-zA-Z0-9 ]"), F.lit(0))
    ).cast("double") / F.greatest(F.length("text"), F.lit(1))
    # --- language ID (same argmax chain + tie order as text_langid)
    s = {lang: text._lang_score_spark(lang) for lang in ("en", "de", "es", "fr")}
    pred_lang = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]),
            F.lit("en"),
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), F.lit("de"))
        .when(s["es"] >= s["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    # --- repetition (text_repetition's capped top-token fraction)
    toks = F.slice(F.split("text", " "), 1, text.REP_MAX_TOKENS)
    top_token_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        ).cast("double")
        / F.size(toks)
    )
    fail_lang = pred_lang != "en"
    fail_q = (~len_ok) | (punct_ratio > GATE_PUNCT_MAX)
    fail_rep = top_token_frac > REP_MAX_TOP_TOKEN
    reason = (
        F.when(fail_lang, F.lit("langid"))
        .when(fail_q, F.lit("quality"))
        .when(fail_rep, F.lit("repetition"))
        .otherwise(F.lit("kept"))
    )
    return docs.select(
        "doc_id", reason.alias("reason"), (reason == "kept").alias("kept")
    )


# ------------------------------------------------------------------ funnel
FUNNEL_LOOKAHEAD = 2  # a user turn "converts" if a tool turn follows within 2


@register(
    "win_funnel",
    sql=_PRELUDE + f""",
    w AS (
      SELECT conv_id, role,
             lead(role, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS r1,
             lead(role, 2) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS r2
      FROM transcripts
    )
    SELECT conv_id,
           CAST(count(*) FILTER (WHERE role = 'user') AS BIGINT)
             AS user_turns,
           CAST(count(*) FILTER (
             WHERE role = 'user' AND (r1 = 'tool' OR r2 = 'tool')
           ) AS BIGINT) AS funnel_hits
    FROM w GROUP BY conv_id
    """,
    doc=(
        "Sequence/funnel detection over the transcript stream (the "
        "MATCH_RECOGNIZE shape expressed as windows): a user turn "
        f"'converts' when a tool turn follows within {FUNNEL_LOOKAHEAD} "
        "turns of the same conversation. ONE shuffle (the conv window), "
        "then a hash aggregate on the already-partitioned key — the "
        "sessionize plan shape; per-conversation state never leaves its "
        "partition."
    ),
)
def win_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = corpus.derive_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = tr.select(
        "conv_id",
        "role",
        F.lead("role", 1).over(w).alias("r1"),
        F.lead("role", 2).over(w).alias("r2"),
    )
    is_user = F.col("role") == "user"
    hit = is_user & ((F.col("r1") == "tool") | (F.col("r2") == "tool"))
    return d.groupBy("conv_id").agg(
        F.sum(is_user.cast("long")).cast("bigint").alias("user_turns"),
        F.sum(hit.cast("long")).cast("bigint").alias("funnel_hits"),
    )


# ------------------------------------------------------------------- chunk
CHUNK_TOKENS = 64  # tokens per training chunk (the context-window unit)
CHUNK_STRIDE = 48  # chunk start spacing -> 16-token overlap between chunks


@register(
    "text_chunk",
    sql=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             length(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0,
               CASE WHEN n_tokens > {CHUNK_TOKENS}
                    THEN (n_tokens - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1})
                         // {CHUNK_STRIDE}
                    ELSE 0 END)) AS chunk_idx
      FROM t
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(chunk_idx * {CHUNK_STRIDE} AS INT) AS start_tok,
           CAST(length(list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                                  chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}))
                AS INT) AS chunk_tokens,
           md5(array_to_string(
                 list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                            chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '))
             AS chunk_hash
    FROM c
    """,
    doc=(
        "Overlapping token-window chunking — how a pretraining/RAG "
        f"pipeline cuts documents into {CHUNK_TOKENS}-token pieces at "
        f"{CHUNK_STRIDE}-token stride ({CHUNK_TOKENS - CHUNK_STRIDE}-token "
        "overlap so no boundary context is lost). Pure per-row expressions "
        "— split, a generate_series explode sized by the SAME arithmetic "
        "in both engines ((n - chunk + stride - 1) DIV stride extra "
        "chunks), and a slice per chunk — so the op runs at scan speed "
        "with NO shuffle and parallelism follows the input splits; "
        "chunk_hash stands in for shipping chunk text through the "
        "value-hash compare. Clamp semantics at the tail are identical "
        "(Spark slice length caps at array end == DuckDB list_slice "
        "inclusive-end clamp), which the hash proves on every document "
        "whose length is not a multiple of the stride."
    ),
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split("text", " ")
    d = load(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    extra = F.expr(
        f"CASE WHEN n_tokens > {CHUNK_TOKENS} THEN (n_tokens - {CHUNK_TOKENS}"
        f" + {CHUNK_STRIDE - 1}) DIV {CHUNK_STRIDE} ELSE 0 END"
    )
    c = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), extra)).alias("chunk_idx"),
    )
    chunk = F.expr(
        f"slice(toks, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})"
    )
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * CHUNK_STRIDE).cast("int").alias("start_tok"),
        F.size(chunk).cast("int").alias("chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )
