"""Deduplication + similarity-search operators for a training-data pipeline:
exact dedup, MinHash+LSH, SimHash, blocked n-gram Jaccard, embedding-cosine
near-dup, brute-force cosine top-k, and random-hyperplane LSH bucketing.

Every operator is pure `pyspark.sql.functions` (whole-stage codegen; no
Python in the hot path) and carries a value-exact DuckDB oracle. Two
determinism tricks make full oracles possible:

- **String minhash**: the "random permutation" is md5(seed || shingle) and the
  minimum is taken in LEXICOGRAPHIC order — md5 hex strings are identical in
  every engine, so signatures compare exactly (no engine-specific xxhash).
- **Fixed-point cosine**: embeddings are quantized to integers
  (round(x * 1000)); integer dot products are exact in doubles (< 2^53), and
  sqrt/division are correctly-rounded IEEE ops — so cosine scores are
  bit-identical across engines regardless of summation order.

Scale shape (the part that matters at 100 TB):
- dedup_exact / fingerprints: map-side hash + one shuffle on the hash key.
- MinHash LSH: signatures are per-row (scan-speed); candidate generation is
  a self-join on band keys — the shuffle is on O(docs × bands) small rows,
  never on all-pairs. Verification touches only candidate pairs.
- SimHash: per-row signature + nibble-band join (pigeonhole: hamming ≤ 3 over
  16 bits ⇒ some 4-bit band matches exactly).
- Embedding ANN: brute force only within a block/bucket (label block here,
  LSH bucket in sim_lsh_cosine); the scale path is bucket-then-verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgforge import canon
from kgforge.ops import _util
from kgforge.registry import register
from kgforge.tables import load

MINHASH_K = 8  # signature length
MINHASH_BANDS = 4  # bands of 2 rows each
SHINGLE = 3  # tokens per shingle
JACCARD_T = 0.5  # minhash verify threshold
SIMHASH_BITS = 32  # 16 bits collides heavily on shared-vocab corpora
HAMMING_T = 3
QUANT = 1000  # fixed-point scale for embeddings

_HEX = "0123456789abcdef"


def _shingle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ``(doc_id, sh)`` shingle session cut: dedup_minhash,
    dedup_clusters and dedup_ngram_jaccard all start from it."""
    return _util.session_memo(
        spark, sf_dir, "shingles",
        lambda: load(spark, sf_dir, "documents")
        .select("doc_id", _shingles(F.col("text")).alias("sh"))
        .persist(),
    )


# ---------------------------------------------------------------- shingles
def _shingles(text: Column) -> Column:
    """3-token shingles (whole text if shorter) — distinct set."""
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - SHINGLE, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE)))
    )


_SHINGLES_SQL = """
    list_distinct(list_transform(
      generate_series(1, greatest(length(string_split(text, ' ')) - {m}, 1)),
      i -> array_to_string((string_split(text, ' '))[i:i + {m}], ' ')
    ))
""".format(m=SHINGLE - 1)


# ---------------------------------------------------------------- exact
@register(
    "dedup_exact",
    sql="""
    WITH h AS (SELECT doc_id, md5(text) AS fp FROM documents),
    g AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size
          FROM h GROUP BY fp)
    SELECT h.doc_id, g.canonical_id, CAST(g.group_size AS BIGINT) AS group_size
    FROM h JOIN g USING (fp)
    WHERE g.group_size > 1 AND h.doc_id <> g.canonical_id
    """,
    doc="Exact dedup: hash-groupBy on md5(text); emits (dup → canonical).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = load(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("fp"))
    g = h.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        h.join(g, "fp")
        .where((F.col("group_size") > 1) & (F.col("doc_id") != F.col("canonical_id")))
        .select("doc_id", "canonical_id", "group_size")
    )


# ---------------------------------------------------------------- minhash
def _minhash_sig_spark(sh: Column) -> list[Column]:
    return [
        F.array_min(F.transform(sh, lambda x: F.md5(F.concat(F.lit(f"{i}|"), x)))).alias(
            f"h{i}"
        )
        for i in range(MINHASH_K)
    ]


def _minhash_sig_sql() -> str:
    cols = ",\n".join(
        f"list_min(list_transform(sh, x -> md5('{i}|' || x))) AS h{i}"
        for i in range(MINHASH_K)
    )
    return cols


# Shared CTE chain ending in verified near-dup `pairs` — reused verbatim by
# dedup_minhash (pair surface) and dedup_clusters (CC over the pair graph).
_MINHASH_PAIRS_CTES = f"""
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql()} FROM sh),
    bands AS (
      SELECT doc_id, b, md5(CAST(b AS VARCHAR) || '|' ||
             CASE b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3
                    WHEN 2 THEN h4 || h5 ELSE h6 || h7 END) AS band_key
      FROM sig, (SELECT unnest(generate_series(0, {MINHASH_BANDS - 1})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT * FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(length(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (length(x.sh) + length(y.sh) - length(list_intersect(x.sh, y.sh)))
                 AS jaccard
        FROM cand c
        JOIN sh x ON c.doc_a = x.doc_id
        JOIN sh y ON c.doc_b = y.doc_id
      ) WHERE jaccard >= {JACCARD_T}
    )
"""


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """Verified near-dup pairs over ``docs(doc_id, sh)`` (caller persists the
    shingle cut — it feeds the signature/band branch AND both verify sides).

    Banded candidate generation: the shuffle is on O(docs × bands) small
    band-key rows, never all-pairs; exact Jaccard runs on candidates only.
    """
    sig = docs.select("doc_id", "sh", *_minhash_sig_spark(F.col("sh")))
    band_cols = []
    for b in range(MINHASH_BANDS):
        band_cols.append(
            F.struct(
                F.lit(b).alias("b"),
                F.md5(
                    F.concat(F.lit(f"{b}|"), F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                ).alias("band_key"),
            )
        )
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band_key").alias("band_key"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dedup_minhash",
    sql="WITH " + _MINHASH_PAIRS_CTES + "\nSELECT doc_a, doc_b, jaccard FROM pairs",
    doc=(
        "MinHash+LSH near-dup: lexicographic-min md5 signatures (engine-"
        "portable), 4 bands × 2 rows, band-bucket self-join for candidates, "
        "exact-Jaccard verification of candidates only."
    ),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a persisted session cut: dedup_clusters clusters this exact pair set
    return _util.session_memo(
        spark, sf_dir, "minhash_pairs",
        lambda: minhash_pairs(_shingle_docs(spark, sf_dir)).persist(),
    )


@register(
    "dedup_clusters",
    # Full oracle: the pair graph comes from the shared minhash CTEs; the
    # clustering is recomputed independently by a DuckDB recursive CTE
    # (min-reachable-node over the symmetrized edges), so the value hash
    # proves the Spark connected-components path (driver union-find below
    # DRIVER_CC_MAX_EDGES, distributed large-star/small-star above —
    # kgforge/canon.py) produces the exact transitive closure.
    sql="WITH RECURSIVE " + _MINHASH_PAIRS_CTES + """,
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    cnodes AS (SELECT DISTINCT a AS doc FROM e),
    reach(doc, root) AS (
      SELECT doc, doc FROM cnodes
      UNION
      SELECT e.b, r.root FROM reach r JOIN e ON r.doc = e.a
    ),
    cl AS (SELECT doc, min(root) AS cluster_id FROM reach GROUP BY doc)
    SELECT doc AS doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM cl
    """,
    doc=(
        "Near-dup CLUSTERS: minhash-verified pairs → connected components → "
        "one row per clustered doc with its canonical representative (min "
        "doc_id) and cluster size. Pairs alone under-specify dedup (A~B, "
        "B~C but not A~C); the transitive closure is what a training-data "
        "pipeline actually drops duplicates against."
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_clusters(
        _shingle_docs(spark, sf_dir), pairs=dedup_minhash(spark, sf_dir)
    )


def near_dup_clusters(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """``docs(doc_id, sh)`` → (doc_id, cluster_id, cluster_size) for every
    doc in a near-dup cluster (minhash pairs + transitive closure).

    ``pairs`` lets a caller supply an already-persisted verified pair set
    (the registered key passes the memoized one); when None it is derived
    here and persisted — the pair set feeds the driver edge pull
    (canonical_map_auto), the entity derivation, AND the size join, and
    Catalyst has no cross-branch CSE, so an unpersisted pair plan would
    re-run the banded candidate+verify joins once per reference."""
    if pairs is None:
        pairs = minhash_pairs(docs).persist()
    # canonical_map is string-typed; fixed-width zero padding makes the
    # min-string canonical id equal the min doc_id.
    def enc(c: str) -> Column:
        return F.lpad(F.col(c).cast("string"), 12, "0")

    edges = pairs.select(enc("doc_a").alias("src"), enc("doc_b").alias("dst"))
    ents = (
        edges.select(F.col("src").alias("entity_id"))
        .union(edges.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    cmap = canon.canonical_map_auto(ents, edges)
    sizes = cmap.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cmap.join(sizes, "canonical_id").select(
        F.col("entity_id").cast("bigint").alias("doc_id"),
        F.col("canonical_id").cast("bigint").alias("cluster_id"),
        "cluster_size",
    )


# ---------------------------------------------------------------- simhash
def _nibble_val_sql(h: str, i: int) -> str:
    return f"(strpos('{_HEX}', substr({h}, {i}, 1)) - 1)"


@register(
    "dedup_simhash",
    sql=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    tv AS (
      SELECT doc_id,
             {" + ".join(
                 f"{_nibble_val_sql('substr(md5(tok), 1, 8)', i + 1)} * {16 ** (7 - i)}"
                 for i in range(8)
             )} AS v
      FROM tok
    ),
    sig AS (
      SELECT doc_id,
             CAST({" + ".join(
                 f"CASE WHEN sum(CASE WHEN (v // {1 << k}) % 2 = 1 THEN 1 ELSE -1 END) > 0"
                 f" THEN {1 << k} ELSE 0 END"
                 for k in range(SIMHASH_BITS)
             )} AS BIGINT) AS simhash
      FROM tv GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, b, (simhash // (CASE b WHEN 0 THEN 1 WHEN 1 THEN 256
                                              WHEN 2 THEN 65536 ELSE 16777216 END)) % 256
             AS nib
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_T}
    """,
    doc=(
        "SimHash near-dup: 16-bit per-doc signature (majority vote over token "
        "hash bits), nibble-band LSH join (pigeonhole guarantees recall at "
        "hamming ≤ 3), exact hamming verification."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    h8 = F.substring(F.md5("tok"), 1, 8)
    v = sum(
        (F.instr(F.lit(_HEX), F.substring(h8, i + 1, 1)) - 1).cast("long")
        * F.lit(16 ** (7 - i)).cast("long")
        for i in range(8)
    )
    tv = tok.select("doc_id", v.alias("v"))
    bit_sums = [
        F.sum(
            F.when((F.col("v").cast("long") / (1 << k)).cast("long") % 2 == 1, 1).otherwise(-1)
        ).alias(f"s{k}")
        for k in range(SIMHASH_BITS)
    ]
    sig = tv.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        for k in range(SIMHASH_BITS)
    )
    sig = sig.select("doc_id", simhash.cast("long").alias("simhash"))
    nib_structs = [
        F.struct(
            F.lit(b).alias("b"),
            ((F.col("simhash") / (256 ** b)).cast("long") % 256).alias("nib"),
        )
        for b in range(4)
    ]
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*nib_structs)).alias("bn")
    ).select("doc_id", "simhash", F.col("bn.b").alias("b"), F.col("bn.nib").alias("nib"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return cand.withColumn("hamming", ham).where(F.col("hamming") <= HAMMING_T).select(
        "doc_a", "doc_b", "hamming"
    )


# ---------------------------------------------------------------- jaccard
def jaccard_prefix_candidates(d: DataFrame, t: float = JACCARD_T) -> DataFrame:
    """(doc_id, sh) → candidate pairs (doc_a, doc_b) via prefix filtering.

    Global shingle rarity order: document frequency per shingle, rare-first
    — this minimizes candidate pairs (a pair is generated at most once per
    shared PREFIX shingle, and rare shingles have tiny postings). Candidate
    count stays ~linear in the corpus even when every doc shares a coarse
    attribute (the round-1 (source, n_tok) blocking went quadratic there);
    tested on a one-giant-block fixture in tests/test_dedup_sim.py.
    """
    toks = d.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    dfreq = toks.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    prefix = (
        toks.join(dfreq, "s")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "s", "n", "rn")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    # PPJoin's two LOSSLESS prunes on top of the prefix filter (both proven
    # by the oracle hash — DuckDB verifies naive all-pairs):
    # 1. SIZE filter, inside the join condition so pruned pairs never leave
    #    the shuffle: J >= t and inter <= min(|a|,|b|) force
    #    min >= t * max.
    # 2. POSITIONAL filter: the smallest shared shingle c sits in BOTH
    #    prefixes whenever J >= t (else all common shingles sit past one
    #    prefix and inter < ceil(t*n) <= t*union already fails), and every
    #    common shingle is >= c in the global order, so
    #    inter <= min(n_a - rn_a(c), n_b - rn_b(c)) + 1. rn is decreasing
    #    in bound, so max-over-shared-prefix-shingles of the bound is the
    #    bound at c: prune when (1+t) * max_ub < t * (n_a + n_b)
    #    (inter >= t*union  <=>  (1+t)*inter >= t*(n_a+n_b)). The 1e-9
    #    slack keeps the prune conservative under any non-dyadic t.
    eps = 1e-9
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(na, nb) >= F.lit(t) * F.greatest(na, nb) - F.lit(eps)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.least(na - F.col("a.rn"), nb - F.col("b.rn")) + 1).alias("ub"),
            (na + nb).alias("nsum"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("ub").alias("ub"), F.max("nsum").alias("nsum"))
    )
    return pairs.where(
        F.lit(1.0 + t) * F.col("ub") >= F.lit(t) * F.col("nsum") - F.lit(eps)
    ).select("doc_a", "doc_b")


@register(
    "dedup_ngram_jaccard",
    # The oracle is deliberately INDEPENDENT of the Spark-side prefix
    # filter: DuckDB runs naive all-pairs and filters jaccard >= t, so a
    # value-exact match PROVES the prefix filter is lossless at threshold t
    # (all-pairs is fine at oracle scale; Spark never does it).
    sql=f"""
    WITH d AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh)))
             AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh)))
          >= {JACCARD_T}
    """,
    doc=(
        "N-gram Jaccard near-dup via PREFIX FILTERING (AllPairs/PPJoin "
        "family): shingles are globally ordered by (document frequency asc, "
        "shingle asc); each doc indexes only its first |sh|-ceil(t*|sh|)+1 "
        "shingles, and any pair with J>=t provably shares a prefix shingle "
        "(the smallest common element lies in both prefixes). Candidate "
        "count is bounded by the squared df of RARE shingles — unlike the "
        "round-1 (source, token-count) blocking whose block sizes grew "
        "linearly with the corpus, making within-block work quadratic at "
        "100x. Exact Jaccard verifies candidates only."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The memoized shingle cut feeds the df-count branch, the prefix
    # branch, and both verify sides (no cross-branch CSE in Catalyst).
    d = _shingle_docs(spark, sf_dir)
    cand = jaccard_prefix_candidates(d)
    x = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------- cosine
def _quant(col) -> Column:
    """Fixed-point embedding: float[] → long[] (exact cross-engine arithmetic)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


_QUANT_SQL = (
    "list_transform({c}, x -> CAST(round(CAST(x AS DOUBLE) * " + str(QUANT) + ") AS BIGINT))"
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _cos(qa: Column, qb: Column) -> Column:
    return _dot(qa, qb).cast("double") / (
        F.sqrt(_dot(qa, qa).cast("double")) * F.sqrt(_dot(qb, qb).cast("double"))
    )


_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


N_QUERIES = 16
TOP_K = 5


@register(
    "sim_topk_cosine",
    sql=f"""
    WITH q AS (SELECT vec_id, {_QUANT_SQL.format(c='embedding')} AS qv
               FROM embeddings)
    SELECT vec_id, nn_id, cos, CAST(rn AS INT) AS rank FROM (
      SELECT a.vec_id, b.vec_id AS nn_id,
             {_COS_SQL.format(a='a.qv', b='b.qv')} AS cos,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_COS_SQL.format(a='a.qv', b='b.qv')} DESC, b.vec_id
             ) AS rn
      FROM (SELECT * FROM q WHERE vec_id < {N_QUERIES}) a
      JOIN q b ON a.vec_id <> b.vec_id
    ) WHERE rn <= {TOP_K}
    """,
    doc=(
        "Brute-force cosine top-k (the ANN correctness baseline): query set × "
        "full corpus, rank-k window. The big side streams; only the small "
        "query side is broadcast (plan-asserted in tests/test_plans.py: the "
        "corpus scan must not sit under a BroadcastExchange) — at scale this "
        "is the verify stage after IVF/LSH candidate pruning."
    ),
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = load(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qv")
    )
    queries = q.where(F.col("vec_id") < N_QUERIES)
    a, b = queries.alias("a"), q.alias("b")
    cos = _cos(F.col("a.qv"), F.col("b.qv"))
    # Broadcast the BOUNDED query side (N_QUERIES rows); the corpus side
    # streams through the nested-loop join. Round 2 had this reversed —
    # broadcasting the full corpus is an executor OOM at 100×, and a
    # non-equi join gives Spark no way to rescue it.
    pairs = (
        F.broadcast(a).join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nn_id"),
            cos.alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.col("nn_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("vec_id", "nn_id", "cos", "rank")
    )


# Random hyperplanes, banded LSH_BANDS x LSH_BAND_BITS. Band-bucket count
# (LSH_BANDS * 2^LSH_BAND_BITS keys) must grow with the corpus: at ~5k
# vectors, 8-bit bands give ~20-vector buckets (~200k verify pairs); 4-bit
# bands gave ~300-vector buckets and a 6M-pair verify. Raise LSH_BAND_BITS
# by ~log2(corpus growth) to hold bucket occupancy constant.
N_PLANES = 32
LSH_BANDS = 4
LSH_BAND_BITS = 8


def _plane_weight_sql(p: int) -> str:
    # deterministic pseudo-random weight in [-32768, 32767] from md5(plane|dim);
    # i in the SQL mirror is 1-based (generate_series), dims are 0-based
    h = f"substr(md5('{p}|' || CAST(i - 1 AS VARCHAR)), 1, 4)"
    return (
        f"({_nibble_val_sql(h, 1)} * 4096 + {_nibble_val_sql(h, 2)} * 256 "
        f"+ {_nibble_val_sql(h, 3)} * 16 + {_nibble_val_sql(h, 4)} - 32768)"
    )


_PLANE_W_CACHE: dict = {}  # dims -> (dims × N_PLANES) int64 weight matrix


def _plane_weights(dims: int):
    """md5-derived hyperplane weight matrix, built ONCE per Python worker per
    dims and cached at module level. Round 2 rebuilt it inside the UDF for
    EVERY Arrow batch (dims × N_PLANES md5 calls + array construction per
    batch — measured as part of the sim_lsh 1.5→2.8s regression); the cache
    makes all batches after the first a dict hit. Bounded: one entry per
    distinct embedding dimensionality seen by this worker."""
    w = _PLANE_W_CACHE.get(dims)
    if w is None:
        import hashlib

        import numpy as np

        w = np.array(
            [
                [
                    int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:4], 16) - 32768
                    for p in range(N_PLANES)
                ]
                for d in range(dims)
            ],
            dtype=np.int64,
        )
        _PLANE_W_CACHE[dims] = w
    return w


_BUCKET_UDF = None


def _bucket_udf():
    """Vectorized Arrow UDF: array<long> embedding → 32-bit LSH bucket, as
    ONE exact int64 matmul (n × dims) @ (dims × N_PLANES) per batch. All
    arithmetic is exact (|dot| < 2^53) against the same md5-derived weight
    table the DuckDB oracles rebuild symbolically, so buckets match
    bit-for-bit. Built lazily (pandas_udf type resolution wants a live
    session) and shared by sim_lsh_cosine and dedup_embed_cosine."""
    global _BUCKET_UDF
    if _BUCKET_UDF is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _bucket(qv):  # (pd.Series of int64 arrays) -> pd.Series[int64];
            # no type hints: `from __future__ import annotations` stringifies
            # them and pandas_udf rejects the unresolvable signature
            import numpy as np
            import pandas as pd

            mat = np.stack(qv.to_numpy())  # (n, dims) int64
            w = _plane_weights(mat.shape[1])  # cached per worker, not per batch
            bits = (mat @ w) > 0  # (n, planes)
            weights = 1 << np.arange(N_PLANES, dtype=np.int64)
            return pd.Series((bits * weights).sum(axis=1))

        _BUCKET_UDF = _bucket
    return _BUCKET_UDF


def banded_candidates(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    band_bits: int = LSH_BAND_BITS,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, bucket [, block cols]) → DISTINCT directed candidate pairs
    (vec_id, nn_id) that agree on ≥1 band (and on every block column).

    The shuffle is on the (block, band, nib) equi-key — never an all-pairs
    join, never a window over a fixed bucket set. Candidate volume is
    n²·bands/2^band_bits per block: hold occupancy constant by raising
    band_bits ~log2(corpus growth) (tested in tests/test_dedup_sim.py)."""
    nib_structs = [
        F.struct(
            F.lit(b).alias("b"),
            (
                (F.col("bucket") / ((1 << band_bits) ** b)).cast("long")
                % (1 << band_bits)
            ).alias("nib"),
        )
        for b in range(bands)
    ]
    cols = [*block_cols, "vec_id"]
    bx = sig.select(*cols, F.explode(F.array(*nib_structs)).alias("bn")).select(
        *cols, F.col("bn.b").alias("b"), F.col("bn.nib").alias("nib")
    )
    a, b2 = bx.alias("a"), bx.alias("b")
    cond = (
        (F.col("a.b") == F.col("b.b"))
        & (F.col("a.nib") == F.col("b.nib"))
        & (F.col("a.vec_id") != F.col("b.vec_id"))
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b2, cond)
        .select(F.col("a.vec_id").alias("vec_id"), F.col("b.vec_id").alias("nn_id"))
        .distinct()
    )


# Shared DuckDB oracle fragments: quantized vectors + the symbolic bucket
# reconstruction (the oracle recomputes the md5 weight table in pure SQL —
# an independent implementation of the same deterministic definition).
_Q_LABEL_SQL = (
    f"q AS (SELECT vec_id, label, {_QUANT_SQL.format(c='embedding')} AS qv "
    "FROM embeddings)"
)
_BUCKET_TERMS_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(generate_series(1, length(qv)), "
    f"i -> qv[i] * {_plane_weight_sql(p)})) > 0 THEN {1 << p} ELSE 0 END)"
    for p in range(N_PLANES)
)
_PROJ_SQL = f"proj AS (SELECT vec_id, label, qv, {_BUCKET_TERMS_SQL} AS bucket FROM q)"
_BAND_DIV_SQL = " ".join(
    f"WHEN {b} THEN {(1 << LSH_BAND_BITS) ** b}" for b in range(LSH_BANDS)
)


@register(
    "dedup_embed_cosine",
    # The oracle reconstructs the SAME banded definition symbolically —
    # md5-derived planes, band nibs, (label, band) candidates, exact
    # fixed-point cosine, rank-1 — entirely in SQL, sharing no code with the
    # Spark path. (A label-only all-pairs oracle is impossible to match
    # losslessly here: the driver embeddings are uniform-random — measured
    # max pairwise cosine 0.513 at sf0.01 — so NO banding scheme keeps exact
    # label-NN both non-trivially and sub-quadratically; see SURVEY.md §10.
    # True near-dups ARE caught deterministically: cos→1 ⇒ plane signs
    # agree ⇒ hamming→0 ⇒ all bands match — asserted on the planted
    # scaled-copy fixture in tests/test_dedup_sim.py.)
    sql=f"""
    WITH {_Q_LABEL_SQL},
    {_PROJ_SQL},
    bands AS (
      SELECT vec_id, label, b,
             (bucket // (CASE b {_BAND_DIV_SQL} END)) % {1 << LSH_BAND_BITS} AS nib
      FROM proj, (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nn_id
      FROM bands a JOIN bands b
        ON a.label = b.label AND a.b = b.b AND a.nib = b.nib
       AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, nn_id, cos FROM (
      SELECT c.vec_id, c.nn_id,
             {_COS_SQL.format(a='x.qv', b='y.qv')} AS cos,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {_COS_SQL.format(a='x.qv', b='y.qv')} DESC, c.nn_id
             ) AS rn
      FROM cand c
      JOIN q x ON c.vec_id = x.vec_id
      JOIN q y ON c.nn_id = y.vec_id
    ) WHERE rn = 1
    """,
    doc=(
        "Embedding near-dup: nearest banded neighbor within a (label, "
        f"LSH-band) block — {N_PLANES} md5-derived hyperplanes, {LSH_BANDS} "
        f"bands × {LSH_BAND_BITS} bits — verified by exact fixed-point "
        "cosine, rank-1 per vector. Block size is bounded by band-bucket "
        "occupancy (raise band bits with corpus growth), unlike the round-2 "
        "label-only blocking whose blocks grew linearly with the corpus. "
        "Real near-dups (cos→1) share ALL bands deterministically, so "
        "recall on actual duplicates is exact."
    ),
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # ONE persisted cut (vec_id, label, qv, bucket): feeds both band-join
    # sides and both verify-join sides (no cross-branch CSE in Catalyst).
    q = (
        emb.select("vec_id", "label", _quant(F.col("embedding")).alias("qv"))
        .select("vec_id", "label", "qv", _bucket_udf()("qv").alias("bucket"))
        .persist()
    )
    cand = banded_candidates(
        q.select("label", "vec_id", "bucket"), block_cols=("label",)
    )
    x = q.select(F.col("vec_id").alias("vec_id"), F.col("qv").alias("qv_x"))
    y = q.select(F.col("vec_id").alias("nn_id"), F.col("qv").alias("qv_y"))
    cos = _cos(F.col("qv_x"), F.col("qv_y"))
    return (
        cand.join(x, "vec_id")
        .join(y, "nn_id")
        .withColumn("cos", cos)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.col("nn_id"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("vec_id", "nn_id", "cos")
    )


@register(
    "sim_lsh_cosine",
    sql=f"""
    WITH {_Q_LABEL_SQL},
    {_PROJ_SQL},
    bands AS (
      SELECT vec_id, b,
             (bucket // (CASE b {_BAND_DIV_SQL} END)) % {1 << LSH_BAND_BITS} AS nib
      FROM proj, (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nn_id
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.nib = b.nib AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, nn_id, cos, CAST(rn AS INT) AS rank FROM (
      SELECT c.vec_id, c.nn_id,
             {_COS_SQL.format(a='x.qv', b='y.qv')} AS cos,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {_COS_SQL.format(a='x.qv', b='y.qv')} DESC, c.nn_id
             ) AS rn
      FROM cand c
      JOIN q x ON c.vec_id = x.vec_id
      JOIN q y ON c.nn_id = y.vec_id
    ) WHERE rn <= {TOP_K}
    """,
    doc=(
        "Random-hyperplane LSH ANN for cosine, banded + verified: "
        f"{N_PLANES} deterministic md5-derived planes (exact integer "
        f"projections, engine-portable) banded {LSH_BANDS}x{LSH_BAND_BITS} "
        "bits; candidate pairs come from band equality (a bucket-key "
        "SELF-JOIN — shuffle on the band key, never a window over a fixed "
        "bucket set, which would put each popular bucket on a single task); "
        "candidates get an exact fixed-point cosine verify and a per-query "
        "top-k rank (the window partitions by vec_id, whose cardinality "
        "scales with the corpus). At larger scale raise "
        "N_PLANES/LSH_BAND_BITS so band-bucket count grows with the corpus; "
        "recall comes from the OR over bands (multi-probe)."
    ),
)
def sim_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")

    # The projection runs as the shared vectorized Arrow UDF (_bucket_udf):
    # one exact int64 matmul per batch, weight matrix cached per worker.
    # The pure-SQL alternative (32 aggregate/zip_with terms) costs ~9s of
    # py4j Column construction or a multi-second janino compile of the
    # 32-term codegen tree — the Arrow batch path does neither.
    # ONE persisted cut carrying (vec_id, qv, bucket): it feeds the band
    # self-join (both sides) and both sides of the verify join — Catalyst
    # has no cross-branch CSE, and an unpersisted cut would re-run the
    # projection once per branch.
    q = (
        emb.select("vec_id", _quant(F.col("embedding")).alias("qv"))
        .select("vec_id", "qv", _bucket_udf()("qv").alias("bucket"))
        .persist()
    )
    cand = banded_candidates(q.select("vec_id", "bucket"))
    x = q.select(F.col("vec_id").alias("vec_id"), F.col("qv").alias("qv_x"))
    y = q.select(F.col("vec_id").alias("nn_id"), F.col("qv").alias("qv_y"))
    cos = _cos(F.col("qv_x"), F.col("qv_y"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.col("nn_id"))
    return (
        cand.join(x, "vec_id")
        .join(y, "nn_id")
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("vec_id", "nn_id", "cos", "rank")
    )


# ------------------------------------------------------- multi-probe LSH
@register(
    "sim_lsh_multiprobe",
    sql=f"""
    WITH {_Q_LABEL_SQL},
    {_PROJ_SQL},
    bands AS (
      SELECT vec_id, b,
             (bucket // (CASE b {_BAND_DIV_SQL} END)) % {1 << LSH_BAND_BITS} AS nib
      FROM proj, (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b)
    ),
    qprobe AS (
      SELECT vec_id, b, nib FROM bands WHERE vec_id < {N_QUERIES}
      UNION ALL
      SELECT vec_id, b, xor(nib, (1 << j.j)) AS nib
      FROM bands, (SELECT unnest(generate_series(0, {LSH_BAND_BITS - 1})) AS j) j
      WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS vec_id, c.vec_id AS nn_id
      FROM qprobe p JOIN bands c
        ON p.b = c.b AND p.nib = c.nib AND p.vec_id <> c.vec_id
    )
    SELECT vec_id, nn_id, cos, CAST(rn AS INT) AS rank FROM (
      SELECT c.vec_id, c.nn_id,
             {_COS_SQL.format(a='x.qv', b='y.qv')} AS cos,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {_COS_SQL.format(a='x.qv', b='y.qv')} DESC, c.nn_id
             ) AS rn
      FROM cand c
      JOIN q x ON c.vec_id = x.vec_id
      JOIN q y ON c.nn_id = y.vec_id
    ) WHERE rn <= {TOP_K}
    """,
    doc=(
        "Multi-probe LSH ANN (recall at FIXED plane count): each query probes "
        "its own band buckets PLUS every single-bit-flip neighbor bucket "
        f"({LSH_BANDS} bands x (1 + {LSH_BAND_BITS}) probes — the buckets a "
        "true neighbor most likely fell into when one plane's sign "
        "disagreed), then exact fixed-point cosine verify + per-query "
        f"top-{TOP_K}. The probe explosion happens ONLY on the bounded "
        f"{N_QUERIES}-row query side, which is broadcast; the corpus "
        "contributes its plain band keys and STREAMS through one "
        "broadcast-hash equi-join — zero shuffle of the big side, and the "
        "candidate set is a strict superset of sim_lsh_cosine's for these "
        "queries (recall can only go up; asserted in tests)."
    ),
)
def sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # ONE persisted cut (vec_id, qv, bucket) feeding the corpus band keys and
    # both verify sides (no cross-branch CSE in Catalyst).
    q = (
        emb.select("vec_id", _quant(F.col("embedding")).alias("qv"))
        .select("vec_id", "qv", _bucket_udf()("qv").alias("bucket"))
        .persist()
    )

    def _nib(b: int):
        return (
            (F.col("bucket") / ((1 << LSH_BAND_BITS) ** b)).cast("long")
            % (1 << LSH_BAND_BITS)
        )

    base_structs = [
        F.struct(F.lit(b).alias("b"), _nib(b).alias("nib"))
        for b in range(LSH_BANDS)
    ]
    # Probe keys: the query's own nib plus its LSH_BAND_BITS single-bit
    # flips, per band — 4 x 9 = 36 structs built driver-side once (bounded
    # py4j construction, not per-row work).
    probe_structs = [
        s
        for b in range(LSH_BANDS)
        for s in (
            [F.struct(F.lit(b).alias("b"), _nib(b).alias("nib"))]
            + [
                F.struct(
                    F.lit(b).alias("b"),
                    _nib(b).bitwiseXOR(F.lit(1 << j)).alias("nib"),
                )
                for j in range(LSH_BAND_BITS)
            ]
        )
    ]
    base = q.select(
        "vec_id", F.explode(F.array(*base_structs)).alias("bn")
    ).select(
        F.col("vec_id").alias("nn_id"),
        F.col("bn.b").alias("b"),
        F.col("bn.nib").alias("nib"),
    )
    probes = (
        q.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", F.explode(F.array(*probe_structs)).alias("bn"))
        .select("vec_id", F.col("bn.b").alias("b"), F.col("bn.nib").alias("nib"))
    )
    # Broadcast the bounded probe side; the corpus band keys stream through
    # a broadcast-hash equi-join (same discipline as sim_topk_cosine).
    cand = (
        F.broadcast(probes)
        .join(base, ["b", "nib"])
        .where(F.col("vec_id") != F.col("nn_id"))
        .select("vec_id", "nn_id")
        .distinct()
    )
    x = q.select(F.col("vec_id").alias("vec_id"), F.col("qv").alias("qv_x"))
    y = q.select(F.col("vec_id").alias("nn_id"), F.col("qv").alias("qv_y"))
    cos = _cos(F.col("qv_x"), F.col("qv_y"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.col("nn_id"))
    return (
        cand.join(x, "vec_id")
        .join(y, "nn_id")
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("vec_id", "nn_id", "cos", "rank")
    )


# ---------------------------------------------------------------- IVF ANN
IVF_K = 16
IVF_ITERS = 3
IVF_NPROBE = 4


def _l2sq(a: Column, b: Column) -> Column:
    """Exact integer squared-L2 between two array<long> columns (BIGINT).

    Max term at QUANT=1000 and unit-scale embeddings: (8000)^2 * dims —
    far inside int64, so the sum is exact and its ordering matches the
    DuckDB mirror's double dot-product expansion (both exact integers)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivf_train(q: DataFrame) -> DataFrame:
    """Train IVF coarse centroids with Lloyd iterations as a DataFrame loop.

    q: (vec_id, qv: array<long>). Returns (cid, cv: array<long>).
    Init is deterministic (k vectors with smallest md5(vec_id)); each
    iteration is assign (broadcast centroids × vectors, argmin exact-int
    L2, ties to min cid) + update (posexplode to (cid, dim) BIGINT sums —
    map-side combinable; centroid dim = floor(sum/count), computed on the
    driver from the k×d collected sums). EVERY step is order-independent
    integer arithmetic, which is what makes the whole IVF pipeline
    value-hash mirrorable in DuckDB (the oracle unrolls these iterations
    as chained CTEs — float partial-avg would diverge on summation order).
    At scale the centroid table stays tiny (k × d) while assignment
    streams the big side with zero shuffle; only the update aggregates."""
    spark = q.sparkSession
    init = (
        q.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h")
        .limit(IVF_K)
        .select("qv")
        .collect()
    )
    cents = [[int(x) for x in r[0]] for r in init]
    for _ in range(IVF_ITERS):
        cent_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid int, cv array<long>"
        )
        assign = (
            q.crossJoin(F.broadcast(cent_df))
            .withColumn("d2", _l2sq(F.col("qv"), F.col("cv")))
            .groupBy("vec_id", "qv")
            .agg(F.min(F.struct("d2", "cid")).alias("best"))
            .select("vec_id", "qv", F.col("best.cid").alias("cid"))
        )
        upd = (
            assign.select("cid", F.posexplode("qv").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: k × d rows
        )
        new: dict[int, dict[int, int]] = {}
        for r in upd:
            # Python // is floor division — mirrored in SQL as
            # (sx - ((sx % n + n) % n)) // n (DuckDB // truncates).
            new.setdefault(r["cid"], {})[r["dim"]] = r["sx"] // r["n"]
        cents = [
            [new[cid][d] for d in range(len(cents[0]))] if cid in new else cents[cid]
            for cid in range(IVF_K)
        ]
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cv array<long>"
    )


def _ivf_sql() -> str:
    """DuckDB mirror of ivf_train + sim_ivf_cosine with the Lloyd loop
    UNROLLED into chained CTEs (c0 → a_i/u_i → c_{i+1} → ... → c_ITERS).

    Exactness contract: vectors and centroids are BIGINT lists; squared-L2
    is expanded to dot products (x·x - 2x·y + y·y — DuckDB's
    list_dot_product returns DOUBLE, but every value is an exact integer
    well under 2^53, so ordering matches Spark's BIGINT zip_with sum);
    the centroid update uses explicit floor division because DuckDB's
    // truncates while Python's // floors; empty clusters keep the
    previous centroid via the LEFT JOIN + coalesce."""
    d2 = (
        "(list_dot_product({q},{q}) - 2*list_dot_product({q},{c})"
        " + list_dot_product({c},{c}))"
    )
    parts = [
        f"q AS (SELECT vec_id, {_QUANT_SQL.format(c='embedding')} AS qv FROM embeddings)",
        (
            "c0 AS (SELECT cid, cv FROM (SELECT CAST(row_number() OVER "
            "(ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS INT) AS cid, "
            f"qv AS cv FROM q) WHERE cid < {IVF_K})"
        ),
    ]
    dd = d2.format(q="q.qv", c="c.cv")
    for i in range(IVF_ITERS):
        parts.append(
            f"a{i} AS (SELECT vec_id, qv, cid FROM (SELECT q.vec_id, q.qv, c.cid, "
            f"row_number() OVER (PARTITION BY q.vec_id ORDER BY {dd}, c.cid) AS rn "
            f"FROM q, c{i} c) WHERE rn = 1)"
        )
        parts.append(
            f"s{i} AS (SELECT cid, generate_subscripts(qv,1) AS d, unnest(qv) AS x "
            f"FROM a{i})"
        )
        parts.append(
            f"u{i} AS (SELECT cid, list(CAST((sx - ((sx % n + n) % n)) // n AS BIGINT) "
            f"ORDER BY d) AS cv FROM (SELECT cid, d, SUM(x) AS sx, COUNT(*) AS n "
            f"FROM s{i} GROUP BY cid, d) GROUP BY cid)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT p.cid, coalesce(u.cv, p.cv) AS cv "
            f"FROM c{i} p LEFT JOIN u{i} u USING (cid))"
        )
    last = f"c{IVF_ITERS}"
    parts.append(
        f"asg AS (SELECT vec_id, qv, cid FROM (SELECT q.vec_id, q.qv, c.cid, "
        f"row_number() OVER (PARTITION BY q.vec_id ORDER BY {dd}, c.cid) AS rn "
        f"FROM q, {last} c) WHERE rn = 1)"
    )
    parts.append(
        f"probes AS (SELECT vec_id AS q_id, qv AS q_qv, cid FROM ("
        f"SELECT q.vec_id, q.qv, c.cid, row_number() OVER ("
        f"PARTITION BY q.vec_id ORDER BY {dd}, c.cid) AS rn "
        f"FROM (SELECT * FROM q WHERE vec_id < {N_QUERIES}) q, {last} c) "
        f"WHERE rn <= {IVF_NPROBE})"
    )
    cos = _COS_SQL.format(a="p.q_qv", b="i.qv")
    return f"""
    WITH {", ".join(parts)}
    SELECT vec_id, nn_id, cos, CAST(rn AS INT) AS rank FROM (
      SELECT p.q_id AS vec_id, i.vec_id AS nn_id, {cos} AS cos,
             row_number() OVER (PARTITION BY p.q_id ORDER BY {cos} DESC, i.vec_id) AS rn
      FROM probes p JOIN asg i USING (cid) WHERE p.q_id <> i.vec_id
    ) WHERE rn <= {TOP_K}
    """


@register(
    "sim_ivf_cosine",
    sql=_ivf_sql(),
    doc=(
        "IVF approximate nearest neighbor: Lloyd-trained coarse centroids "
        f"({IVF_K} cells, {IVF_ITERS} iterations, deterministic md5 init, "
        "broadcast assignment, exact-integer floor-div centroid update), "
        f"queries probe the {IVF_NPROBE} nearest cells and exact-cosine-"
        "verify only those candidates. Training is order-independent "
        "BIGINT arithmetic end to end, so the full value-hash oracle "
        "unrolls the Lloyd loop in DuckDB SQL; recall vs brute force is "
        "additionally gated in tests/test_dedup_sim.py. The scale path: "
        "assignment is shuffle-free over the big side (k×d broadcast)."
    ),
)
def sim_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # persist the narrow quantized cut ONCE: training scans it per Lloyd
    # iteration and the query below references it twice (inverted lists +
    # query set) — without the persist each reference re-scans + re-quantizes
    q = emb.select("vec_id", _quant(F.col("embedding")).alias("qv")).persist()
    cents = ivf_train(q)

    d2 = _l2sq(F.col("qv"), F.col("cv"))
    # carry qv THROUGH the assignment aggregate (qv is functionally
    # determined by vec_id) — joining assignments back to q would put a
    # corpus-sized side under a broadcast/shuffle for nothing
    inverted = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .groupBy("vec_id", "qv")
        .agg(F.min(F.struct("d2", "cid")).alias("best"))
        .select("vec_id", "qv", F.col("best.cid").alias("cid"))
    )

    queries = q.where(F.col("vec_id") < N_QUERIES)
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("d2", d2)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("d2", "cid")
            ),
        )
        .where(F.col("rnk") <= IVF_NPROBE)
        .select(F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv"), "cid")
    )
    # broadcast the BOUNDED probe set (N_QUERIES x IVF_NPROBE rows); the
    # inverted corpus streams through the hash join — no shuffle of the
    # big side (same lesson as sim_topk_cosine's round-3 fix)
    cand = F.broadcast(probes).join(inverted, "cid").where(
        F.col("q_id") != F.col("vec_id")
    )
    cos = _cos(F.col("q_qv"), F.col("qv"))
    return (
        cand.select(
            F.col("q_id").alias("vec_id"), F.col("vec_id").alias("nn_id"),
            cos.alias("cos"),
        )
        .withColumn("rank", F.row_number().over(
            Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.col("nn_id"))
        ).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .select("vec_id", "nn_id", "cos", "rank")
    )
